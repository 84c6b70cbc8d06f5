"""Merge-on-read read core shared by both table dialects.

Native JSON-manifest tables (``table.IceTable``) and real Iceberg
tables (``iceformat``) follow one set of Iceberg v2 read semantics:
which snapshot AS OF names, how delete files mask rows, how a pruned
scan is planned and which rows changed between two snapshots. Those
semantics live here, once. A dialect only translates its metadata into
the common shape below and opens its own data files.

Common shape:

- a *data file* is a dict in the native manifest-entry form: ``path``
  (a local location, no percent-encoding), ``seq`` (its data sequence
  number) and, for pruning, ``spec_id``, ``partition``, ``bounds``,
  optional ``bloom`` and ``file_size``. Extra keys ride along untouched.
- a *delete file* is a :class:`DeleteFile`.
- an *opener* is ``open_files(files, with_pos) -> DataFrame``: the rows
  of ``files`` projected to the table schema; ``with_pos`` adds
  ``__path`` (the file URI in any form :func:`canon_path_col` accepts)
  and ``__pos`` (the row ordinal in its file). An empty list gives an
  empty frame with the same columns.
"""

from __future__ import annotations

import functools
import operator
import os
import re
import urllib.parse
from dataclasses import dataclass
from datetime import datetime
from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from iceberg_workshop_spark.icetbl.pruning import (
    PRUNE_DISTRIBUTED_THRESHOLD,
    Pred,
    bucket_survives,
    normalize_dnf,
    prune_files,
    prune_files_distributed,
)

Opener = Callable[[list[dict], bool], DataFrame]
Expectations = dict[tuple[int, str], "str | None"]

_SCHEME = r"^file:/*"

# ---------------------------------------------------------------- paths


def strip_scheme(p: str) -> str:
    """A metadata location without its ``file:`` scheme: ``file:///a``,
    ``file:/a`` and ``/a`` all become ``/a``. Manifest paths are plain
    strings, not URIs, so nothing is decoded."""
    return re.sub(_SCHEME, "/", p)


def strip_scheme_col(c: Any) -> F.Column:
    """Column twin of :func:`strip_scheme` (no decoding)."""
    return F.regexp_replace(c, _SCHEME, "/")


def canon_path(uri: str) -> str:
    """The local path a file URI names: scheme stripped, then
    percent-decoded. Spark's ``_metadata.file_path`` is such a URI (a
    space arrives as ``%20``, a ``%`` as ``%25``); a literal ``+`` stays
    ``+``. Compare ``_metadata.file_path`` values only through this
    function or :func:`canon_path_col`."""
    return urllib.parse.unquote(strip_scheme(uri))


def canon_path_col(c: Any) -> F.Column:
    """Column form of :func:`canon_path`. ``url_decode`` is form
    decoding (``+`` becomes a space), so literal ``+`` signs are
    escaped to ``%2B`` first; every ``%XX`` then decodes like
    ``urllib.parse.unquote``."""
    return F.url_decode(F.regexp_replace(strip_scheme_col(c), r"\+", "%2B"))


def _local(p: str) -> str:
    return os.path.abspath(strip_scheme(p))


# ---------------------------------------------------------------- deletes


@dataclass(frozen=True)
class DeleteFile:
    """One v2 delete file in the common shape. ``keys`` empty means a
    positional delete; otherwise the equality key columns as
    (name in the delete file, current column name) pairs.
    ``targets`` names the data files a positional delete can hit
    (local paths; None = any file)."""

    path: str
    seq: int
    keys: tuple[tuple[str, str], ...] = ()
    targets: frozenset[str] | None = None


def _scan(
    spark: SparkSession, dels: list[DeleteFile], schema: StructType
) -> DataFrame:
    """One scan over every file of ``dels``."""
    paths = list(dict.fromkeys(strip_scheme(d.path) for d in dels))
    return spark.read.schema(schema).parquet(*paths)


def _dseq(dels: list[DeleteFile]) -> F.Column:
    """Each delete row's own file's sequence number, for a scan from
    :func:`_scan`: a literal when the files share one, else a literal
    map lookup on the row's canonical file path (a path listed twice
    keeps its highest sequence, which masks exactly the same rows)."""
    by_path: dict[str, int] = {}
    for d in dels:
        p = _local(d.path)
        by_path[p] = max(d.seq, by_path.get(p, d.seq))
    seqs = set(by_path.values())
    if len(seqs) == 1:
        return F.lit(seqs.pop()).alias("__dseq")
    lookup = F.create_map(
        *[x for p, s in by_path.items() for x in (F.lit(p), F.lit(s))]
    )
    return lookup[canon_path_col(F.col("_metadata.file_path"))].alias("__dseq")


_POS_SCHEMA = StructType(
    [StructField("file_path", StringType()), StructField("pos", LongType())]
)


def _key_schema(
    keys: tuple[tuple[str, str], ...], types: dict[str, DataType]
) -> StructType:
    """Read schema of an equality-delete group: each key under its
    name in the delete file, typed as the current column."""
    return StructType([StructField(phys, types[cur]) for phys, cur in keys])


def read_with_deletes(
    spark: SparkSession,
    files: list[dict],
    dels: list[DeleteFile],
    open_files: Opener,
    types: dict[str, DataType],
    keep_pos: bool = False,
) -> DataFrame:
    """Rows of ``files`` with ``dels`` applied (Iceberg v2 read rule).

    Each data row carries its file's sequence number ``__seq``. All
    positional deletes are read in one scan and anti-joined on
    (canonical path, pos) with ``__seq <= dseq``; the equality deletes
    of one key set are read in one scan and anti-joined on the
    null-safe keys with ``__seq < dseq``. An anti-join drops a row iff
    some delete row matches, so no per-key max is needed. Only the
    target files of positional deletes get the ``_metadata`` columns.
    ``types`` maps current column names to their types (equality keys
    are read with them). ``keep_pos`` keeps ``__path``/``__pos`` on
    every row."""
    if not dels:
        return open_files(files, keep_pos)
    pos = [d for d in dels if not d.keys]
    targets: set[str] | None = set()
    for d in pos:
        if d.targets is None:
            targets = None
            break
        targets |= d.targets

    def needs_pos(f: dict) -> bool:
        return keep_pos or bool(pos) and (
            targets is None or _local(f["path"]) in targets
        )

    groups: dict[tuple[int, bool], list[dict]] = {}
    for f in files:
        groups.setdefault((int(f.get("seq", 0)), needs_pos(f)), []).append(f)
    data = None
    for (seq, with_pos), fs in sorted(groups.items()):
        part = open_files(fs, with_pos).withColumn("__seq", F.lit(seq))
        if pos and not with_pos:
            # untargeted files union with the targeted part under null
            # markers that never match a delete row
            part = part.withColumns(
                {
                    "__path": F.lit(None).cast("string"),
                    "__pos": F.lit(None).cast("long"),
                }
            )
        data = part if data is None else data.unionByName(part)
    if data is None:
        return open_files([], keep_pos)
    if pos:
        pd = _scan(spark, pos, _POS_SCHEMA).select(
            canon_path_col(F.col("file_path")).alias("__dpath"),
            F.col("pos").alias("__dpos"),
            _dseq(pos),
        )
        data = data.join(
            F.broadcast(pd),
            (canon_path_col(F.col("__path")) == F.col("__dpath"))
            & (F.col("__pos") == F.col("__dpos"))
            & (F.col("__seq") <= F.col("__dseq")),
            "left_anti",
        )
    eq_groups: dict[tuple[tuple[str, str], ...], list[DeleteFile]] = {}
    for d in dels:
        if d.keys:
            eq_groups.setdefault(d.keys, []).append(d)
    for keys, group in eq_groups.items():
        dd = _scan(spark, group, _key_schema(keys, types)).select(
            *[F.col(phys).alias(f"__dk_{cur}") for phys, cur in keys],
            _dseq(group),
        )
        cond = F.col("__seq") < F.col("__dseq")
        for _phys, cur in keys:
            cond = cond & F.col(cur).eqNullSafe(F.col(f"__dk_{cur}"))
        data = data.join(F.broadcast(dd), cond, "left_anti")
    drop = ["__seq"] + (["__path", "__pos"] if pos and not keep_pos else [])
    return data.drop(*drop)


# ---------------------------------------------------------------- AS OF


def snapshot_as_of(
    log: Iterable[tuple[int, int]], as_of_ms: int
) -> int | None:
    """AS OF through the snapshot log: the id of the snapshot that was
    CURRENT at ``as_of_ms`` — the last ``(timestamp_ms, snapshot_id)``
    entry at or before it, in log order. A rollback re-points current
    at an older snapshot and a staged branch head never enters the log,
    so neither leaks. None when the instant predates the log; whether
    the id is still retained is the caller's check."""
    last = None
    for ts, sid in log:
        if ts <= as_of_ms:
            last = sid
    return last


# ---------------------------------------------------------------- pruning


def bucket_expectations(
    spec_by_id: dict[int, list[dict]],
    types: dict[str, str],
    preds: list[Pred],
    legacy: Callable[[Any, str, int], str] | None = None,
) -> Expectations:
    """Each bucket partition field's expected dir value for one
    disjunct's equality literals: ``(spec_id, field name)`` → the
    literal's bucket id as a string, or None for "cannot prune this
    field". The literal is coerced to the source column's DDL type
    (``types``) and hashed with Iceberg's murmur3 transform, the
    function the writers use; ``legacy(value, source, n)`` replaces
    the hash for tables bucketed with Spark's hash. Range predicates
    cannot prune a hash bucket and register nothing."""
    from iceberg_workshop_spark.icetbl.bucketing import (
        UncoercibleLiteral,
        bucket_value,
        coerce_bucket_literal,
    )

    eq = {p.col: p.value for p in preds if getattr(p, "op", None) == "="}
    out: Expectations = {}
    cache: dict[tuple[str, int], str | None] = {}
    for sid, spec in spec_by_id.items():
        for field in spec:
            src, t = field["source"], field["transform"]
            if not (t.startswith("bucket[") and src in eq):
                continue
            key = (src, int(t[7:-1]))
            if key not in cache:
                if legacy is not None:
                    cache[key] = legacy(eq[src], src, key[1])
                else:
                    try:
                        lit = coerce_bucket_literal(
                            eq[src], types.get(src, "")
                        )
                        cache[key] = str(bucket_value(lit, key[1]))
                    except UncoercibleLiteral:
                        cache[key] = None
            out[(sid, field["name"])] = cache[key]
    return out


def survive_buckets(
    files: list[dict],
    preds: list[Pred],
    expectations: Callable[[list[Pred]], Expectations],
) -> list[dict]:
    """Bucket pruning of ``files`` for one disjunct (expectations are
    computed only when there is a file to prune)."""
    exp = expectations(preds) if files else {}
    return [f for f in files if bucket_survives(f, exp)] if exp else files


_PRUNE_KEYS = ("path", "spec_id", "partition", "bounds", "bloom")


def prune(
    spark: SparkSession,
    files: list[dict],
    spec_by_id: dict[int, list[dict]],
    dnf: list[list[Pred]],
    expectations: Callable[[list[Pred]], Expectations],
) -> list[dict]:
    """Files that may hold rows matching the DNF predicate: partition
    transforms, column bounds, blooms and bucket ids, OR across
    disjuncts. Past ``PRUNE_DISTRIBUTED_THRESHOLD`` files the survival
    decision runs on executors (same pure functions); below it, a
    driver loop."""
    if not dnf:
        return files
    if len(files) >= PRUNE_DISTRIBUTED_THRESHOLD:
        slim = [{k: f[k] for k in _PRUNE_KEYS if k in f} for f in files]
        kept = prune_files_distributed(
            spark, slim, spec_by_id, dnf, [expectations(d) for d in dnf]
        )
    else:
        kept = []
        for d in dnf:
            k, _ = prune_files(files, spec_by_id, d)
            kept += survive_buckets(k, d, expectations)
    kept_paths = {f["path"] for f in kept}
    return [f for f in files if f["path"] in kept_paths]


def pruned_scan(
    spark: SparkSession,
    files: list[dict],
    dels: list[DeleteFile],
    spec_by_id: dict[int, list[dict]],
    preds: list | None,
    expectations: Callable[[list[Pred]], Expectations],
    read: Callable[[list[dict], list[DeleteFile]], DataFrame],
) -> tuple[DataFrame, dict[str, int]]:
    """Pruned scan: plan the kept files from metadata, read them
    through ``dels`` (the anti-join runs against the kept subset only,
    so pruning still pays) and re-apply the predicate row-level.
    Returns ``(DataFrame, report)``; the report's files/bytes ratio is
    the planner's data-file skipping."""
    dnf = normalize_dnf(preds or [])
    kept = prune(spark, files, spec_by_id, dnf, expectations)
    report = {
        "files_total": len(files),
        "files_scanned": len(kept),
        "bytes_total": sum(f.get("file_size") or 0 for f in files),
        "bytes_scanned": sum(f.get("file_size") or 0 for f in kept),
        "delete_files_read": len(dels),
    }
    df = read(kept, dels)
    if dnf:
        df = df.filter(dnf_to_column(dnf))
    return df, report


def dnf_to_column(dnf: list[list[Pred]]) -> F.Column:
    """OR-of-AND filter for a DNF predicate list. An empty disjunct is
    TRUE (that OR branch was un-analyzable — no row constraint)."""
    disjuncts = [
        functools.reduce(operator.and_, map(pred_to_column, d), F.lit(True))
        for d in dnf
    ]
    return functools.reduce(operator.or_, disjuncts)


_COMPARE = {
    "=": operator.eq,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}


def pred_to_column(p: Pred) -> F.Column:
    def lit(x: Any) -> F.Column:
        if isinstance(x, datetime):
            return F.lit(x.isoformat(sep=" ")).cast("timestamp")
        return F.lit(x)

    if p.op == "between":
        return F.col(p.col).between(lit(p.value[0]), lit(p.value[1]))
    if p.op not in _COMPARE:
        raise ValueError(p.op)
    return _COMPARE[p.op](F.col(p.col), lit(p.value))


# ---------------------------------------------------------------- changelog


def _hit_by_deletes(
    spark: SparkSession,
    common: list[dict],
    diff: list[DeleteFile],
    spec_by_id: dict[int, list[dict]],
    types: dict[str, DataType],
) -> set[str]:
    """Paths of ``common`` files whose visible rows a differing delete
    file can change: positional deletes by their target files (read
    from the delete rows when an entry does not list them), equality
    deletes by pruning the older-seq files against each delete file's
    key min/max (one bounds job per key set)."""
    hit: set[str] = set()
    pos = [d for d in diff if not d.keys]
    if pos:
        if all(d.targets is not None for d in pos):
            targets = set().union(*[d.targets for d in pos])
        else:
            targets = {
                r["p"]
                for r in _scan(spark, pos, _POS_SCHEMA)
                .select(canon_path_col(F.col("file_path")).alias("p"))
                .distinct()
                .collect()
            }
        hit |= {f["path"] for f in common if _local(f["path"]) in targets}
    eq_groups: dict[tuple[tuple[str, str], ...], list[DeleteFile]] = {}
    for d in diff:
        if d.keys:
            eq_groups.setdefault(d.keys, []).append(d)
    for keys, group in eq_groups.items():
        names = [cur for _phys, cur in keys]
        rows = (
            _scan(spark, group, _key_schema(keys, types))
            .select(
                canon_path_col(F.col("_metadata.file_path")).alias("__fp"),
                *[F.col(phys).alias(cur) for phys, cur in keys],
            )
            .groupBy("__fp")
            .agg(
                *[F.min(k).alias(f"mn_{k}") for k in names],
                *[F.max(k).alias(f"mx_{k}") for k in names],
            )
            .collect()
        )
        bounds = {r["__fp"]: r for r in rows}
        for d in group:
            b = bounds.get(_local(d.path))
            preds = [
                Pred(k, "between", (b[f"mn_{k}"], b[f"mx_{k}"]))
                for k in names
                if b is not None and b[f"mn_{k}"] is not None
            ]
            older = [f for f in common if int(f.get("seq", 0)) < d.seq]
            if preds:
                older, _ = prune_files(older, spec_by_id, preds)
            hit |= {f["path"] for f in older}
    return hit


def changelog(
    spark: SparkSession,
    before: tuple[list[dict], list[DeleteFile]],
    after: tuple[list[dict], list[DeleteFile]],
    spec_by_id: dict[int, list[dict]],
    types: dict[str, DataType],
    read: Callable[[list[dict], list[DeleteFile]], DataFrame],
) -> DataFrame:
    """Net row-level changes between two table states: full rows plus
    ``_change_type`` in {'insert','delete'}.

    O(changed files), never O(table): a data file in BOTH states gives
    identical rows to both sides, so only the symmetric difference of
    the file sets is read, plus the common files a differing delete
    file can mask (:func:`_hit_by_deletes`). Rows a copy-on-write
    rewrite carried over unchanged cancel in the ``exceptAll`` — the
    net-changes semantics."""
    (from_files, from_dels), (to_files, to_dels) = before, after
    fp = {f["path"] for f in from_files}
    tp = {f["path"] for f in to_files}
    relevant = fp ^ tp
    d_from = {(d.path, d.seq): d for d in from_dels}
    d_to = {(d.path, d.seq): d for d in to_dels}
    diff = [
        d for k, d in (d_from | d_to).items() if (k in d_from) != (k in d_to)
    ]
    if diff:
        common = [f for f in from_files if f["path"] in tp]
        relevant |= _hit_by_deletes(spark, common, diff, spec_by_id, types)
    rows_from = read(
        [f for f in from_files if f["path"] in relevant], from_dels
    )
    rows_to = read([f for f in to_files if f["path"] in relevant], to_dels)
    inserts = rows_to.exceptAll(rows_from).withColumn(
        "_change_type", F.lit("insert")
    )
    deletes = rows_from.exceptAll(rows_to).withColumn(
        "_change_type", F.lit("delete")
    )
    return inserts.unionByName(deletes)
