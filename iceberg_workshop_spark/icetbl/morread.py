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
import json
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


def _path_lookup(by_path: dict[str, int], path: F.Column) -> F.Column:
    """``by_path[path]`` for a canonical local path column: the map is
    one JSON literal that the optimizer folds into a map constant, so
    building it costs the same few Py4J calls for any number of paths.
    Spark scans a map's keys on every lookup, so use it where few rows
    are looked up: delete rows, or data rows a delete matched."""
    lookup = F.from_json(F.lit(json.dumps(by_path)), "map<string,bigint>")
    return lookup[path]


def _dseq(dels: list[DeleteFile]) -> F.Column:
    """Each delete row's own file's sequence number, for a scan from
    :func:`_scan`: a literal when the files share one, else a lookup on
    the row's canonical file path (a path listed twice keeps its
    highest sequence, which masks exactly the same rows)."""
    by_path: dict[str, int] = {}
    for d in dels:
        p = _local(d.path)
        by_path[p] = max(d.seq, by_path.get(p, d.seq))
    seqs = set(by_path.values())
    if len(seqs) == 1:
        return F.lit(seqs.pop()).alias("__dseq")
    path = canon_path_col(F.col("_metadata.file_path"))
    return _path_lookup(by_path, path).alias("__dseq")


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

    The data files are opened in at most two scans, one per targeting
    group: the files a positional delete can hit (every file when
    ``keep_pos``), opened with ``__path``/``__pos``, and the rest,
    opened plain. A scan is never split by sequence number, so Spark
    packs a group's small files into about ``defaultParallelism`` tasks.

    All positional deletes are read in one scan and anti-joined on
    (canonical path, pos); the equality deletes of one key set are read
    in one scan and anti-joined on the null-safe keys. An anti-join
    drops a row iff some delete row matches, so no per-key max is
    needed. Untargeted rows meet the positional join under null markers
    that never match.

    Sequence numbers are compared only where the manifest cannot settle
    the comparison: a positional delete masks rows of files no newer
    than itself (``seq <= dseq``), an equality delete rows of strictly
    older files (``seq < dseq``). A delete that no in-scope data file is
    too new for is joined without the comparison; natively written
    positional deletes always are. Where a comparison remains, it is
    part of the join condition and looks the data file's sequence
    number up by the row's canonical path only for the rows a delete
    matches on path and position or on keys; other rows pay nothing
    for it. ``types`` maps current column names to their types
    (equality keys are read with them). ``keep_pos`` keeps
    ``__path``/``__pos`` on every row."""
    if not dels or not files:
        return open_files(files, keep_pos)
    pos = [d for d in dels if not d.keys]
    eq_groups: dict[tuple[tuple[str, str], ...], list[DeleteFile]] = {}
    for d in dels:
        if d.keys:
            eq_groups.setdefault(d.keys, []).append(d)
    targets: set[str] | None = set()
    for d in pos:
        if d.targets is None:
            targets = None
            break
        targets |= d.targets

    def targeted(f: dict) -> bool:
        return keep_pos or bool(pos) and (
            targets is None or _local(f["path"]) in targets
        )

    def seq(f: dict) -> int:
        return int(f.get("seq", 0))

    hit = [f for f in files if targeted(f)]
    rest = [f for f in files if not targeted(f)]
    # Which deletes need the sequence-number comparison, decided from
    # the manifest: a positional delete when one of the files it can
    # hit is newer than it, an equality group when some file is not
    # older than one of its deletes.
    hit_seq = {_local(f["path"]): seq(f) for f in hit}
    top_hit = max(hit_seq.values(), default=0)
    pos_cmp = any(
        d.seq < (
            top_hit if d.targets is None
            else max((hit_seq.get(p, 0) for p in d.targets), default=0)
        )
        for d in pos
    )
    top = max(seq(f) for f in files)
    eq_cmp = {k: top >= min(d.seq for d in g) for k, g in eq_groups.items()}
    compare = pos_cmp or any(eq_cmp.values())

    def open_group(fs: list[dict], is_hit: bool) -> DataFrame:
        df = open_files(fs, is_hit or compare)
        if is_hit and pos:
            df = df.withColumn("__cp", canon_path_col(F.col("__path")))
        if pos and not is_hit:
            # untargeted rows meet the positional join under null
            # markers that never match; ``__path`` stays for the
            # sequence-number lookup when one is needed
            nulls = {"__cp": "string", "__pos": "long"}
            if not compare:
                nulls["__path"] = "string"
            df = df.withColumns({c: F.lit(None).cast(t) for c, t in nulls.items()})
        return df

    parts = [open_group(fs, h) for fs, h in ((hit, True), (rest, False)) if fs]
    data = functools.reduce(DataFrame.unionByName, parts)
    # the row's data-file sequence number, evaluated inside the join
    # condition, so only for rows a delete already matched
    fseq = (
        _path_lookup({_local(f["path"]): seq(f) for f in files}, canon_path_col(F.col("__path")))
        if compare
        else None
    )
    if pos:
        pd = _scan(spark, pos, _POS_SCHEMA).select(
            canon_path_col(F.col("file_path")).alias("__dpath"),
            F.col("pos").alias("__dpos"),
            *([_dseq(pos)] if pos_cmp else []),
        )
        cond = (F.col("__cp") == F.col("__dpath")) & (F.col("__pos") == F.col("__dpos"))
        if pos_cmp:
            cond = cond & (fseq <= F.col("__dseq"))
        data = data.join(F.broadcast(pd), cond, "left_anti")
    for keys, group in eq_groups.items():
        dd = _scan(spark, group, _key_schema(keys, types)).select(
            *[F.col(phys).alias(f"__dk_{cur}") for phys, cur in keys],
            *([_dseq(group)] if eq_cmp[keys] else []),
        )
        conds = [F.col(cur).eqNullSafe(F.col(f"__dk_{cur}")) for _phys, cur in keys]
        if eq_cmp[keys]:
            conds.append(fseq < F.col("__dseq"))
        data = data.join(F.broadcast(dd), functools.reduce(operator.and_, conds), "left_anti")
    drop = ["__cp"] + ([] if keep_pos else ["__path", "__pos"])
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
) -> Expectations:
    """Each bucket partition field's expected dir value for one
    disjunct's equality literals: ``(spec_id, field name)`` → the
    literal's bucket id as a string, or None for "cannot prune this
    field". The literal is coerced to the source column's DDL type
    (``types``) and hashed with Iceberg's murmur3 transform, the
    function the writers use. Range predicates cannot prune a hash
    bucket and register nothing."""
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
                try:
                    lit = coerce_bucket_literal(eq[src], types.get(src, ""))
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
