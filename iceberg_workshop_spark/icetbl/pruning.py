"""Scan planning: file-level pruning from partition transforms and
column bounds.

This is the one genuinely custom planner piece (SURVEY.md §4): plain
Spark ``partitionBy`` dirs only prune on the *derived* column, but the
reference demonstrates pruning from predicates on the *source* column
of a hidden transform (``ts BETWEEN ...`` scanning 1/238 files —
/root/reference/README.md:214-237) and from per-file min/max stats
with no partitioning at all (20/238 files — README.md:259-290).

Mechanics: every conjunct predicate is reduced to an inclusive
interval per column; a file survives if (a) its partition value, under
the spec's transform, intersects the transformed interval, and (b) its
stored column bounds intersect the raw interval. Files with absent
bounds always survive (in-place-adopted files lack stats —
/root/reference/limitations.md:39-73). Pruning is performance only:
the same predicate is re-applied as a Spark filter for correctness.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, datetime
from typing import Any

from iceberg_workshop_spark.icetbl.transforms import is_null_dir, transform_value

# Past this many live file entries the per-file survival decision runs
# DISTRIBUTED (spark.parallelize over the entry list with the same pure
# functions) instead of as a driver-side CPython loop — the same
# escalation pattern iceformat._entries_distributed uses for manifest
# decode. At 100 TB (~10^5-10^6 files x multi-disjunct DNF) the driver
# loop is minutes of single-core planning per query; the distributed
# pass is seconds on local[32] and scales with the cluster.
PRUNE_DISTRIBUTED_THRESHOLD = int(
    os.environ.get("IWS_PRUNE_DISTRIBUTED_THRESHOLD", "65536")
)

OPS = {"=", "<", "<=", ">", ">=", "between"}


@dataclass(frozen=True)
class Pred:
    """One conjunct: (column op value); ``between`` takes (lo, hi)."""

    col: str
    op: str
    value: Any

    def __post_init__(self) -> None:
        if self.op not in OPS:
            raise ValueError(f"unsupported predicate op: {self.op}")


def intervals(preds: list[Pred]) -> dict[str, tuple[Any, Any]]:
    """Fold conjuncts into one inclusive [lo, hi] interval per column.

    Open bounds are None. ``<``/``>`` are widened to ``<=``/``>=`` —
    sound for pruning (may keep an extra file, never drops a needed
    one).
    """
    out: dict[str, tuple[Any, Any]] = {}
    for p in preds:
        lo, hi = out.get(p.col, (None, None))
        if p.op == "=":
            lo = p.value if lo is None else max(lo, p.value)
            hi = p.value if hi is None else min(hi, p.value)
        elif p.op in (">", ">="):
            lo = p.value if lo is None else max(lo, p.value)
        elif p.op in ("<", "<="):
            hi = p.value if hi is None else min(hi, p.value)
        elif p.op == "between":
            a, b = p.value
            lo = a if lo is None else max(lo, a)
            hi = b if hi is None else min(hi, b)
        out[p.col] = (lo, hi)
    return out


def file_survives_partition(
    file_partition: dict[str, str],
    spec: list[dict[str, str]],
    ivals: dict[str, tuple[Any, Any]],
) -> bool:
    """Partition pruning: the file's partition tuple vs the transformed
    predicate intervals on each spec field's *source* column."""
    for field in spec:
        src, transform, name = field["source"], field["transform"], field["name"]
        if src not in ivals or name not in file_partition:
            continue
        if transform.startswith("bucket["):
            continue  # bucket pruning handled separately (murmur3 literal)
        lo, hi = ivals[src]
        pv = file_partition[name]
        if is_null_dir(pv):
            # the file may hold rows matching any predicate on NULL or
            # the empty string, so it always survives this field
            continue
        try:
            tlo = None if lo is None else transform_value(transform, lo)
            thi = None if hi is None else transform_value(transform, hi)
            # numeric transforms/literals return int/float; the stored
            # partition value is a directory string — coerce so the
            # comparison is numeric, not lexicographic
            ref = tlo if tlo is not None else thi
            if isinstance(ref, bool):
                pvc = pv
            elif isinstance(ref, int):
                pvc = int(pv)
            elif isinstance(ref, float):
                pvc = float(pv)
            else:
                pvc = pv
            if (
                transform == "identity"
                and isinstance(lo if lo is not None else hi, datetime)
            ):
                # both sides at SECOND precision: the bound string was
                # second-truncated, and a dir value carrying fractional
                # seconds must not compare past an equal-second bound
                # (sub-second rows would be over-pruned)
                pvc = str(pvc)[:19]
            if tlo is not None and pvc < tlo:
                return False
            if thi is not None and pvc > thi:
                return False
        except (ValueError, TypeError, AttributeError):
            # un-prunable literal for THIS field → the field cannot
            # prune, but the remaining spec fields still can
            continue
    return True


def file_survives_bounds(
    bounds: dict[str, list[Any]] | None,
    ivals: dict[str, tuple[Any, Any]],
) -> bool:
    """Stats pruning: per-file column [min, max] vs predicate interval.

    Absent bounds (file or column) ⇒ always scan — the
    limitations.md:39-73 rule for in-place-migrated files.
    """
    if not bounds:
        return True
    for col, (lo, hi) in ivals.items():
        b = bounds.get(col)
        if not b or b[0] is None or b[1] is None:
            continue
        try:
            fmin, fmax = _parse(b[0], lo or hi), _parse(b[1], lo or hi)
            if lo is not None and fmax < _coerce(lo):
                return False
            if hi is not None and fmin > _coerce(hi):
                return False
        except TypeError:
            continue  # incomparable literal/bounds types → keep the file
    return True


def _coerce(v: Any) -> Any:
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return v


def _parse(stored: Any, like: Any) -> Any:
    """Stored bounds are JSON scalars (timestamps as ISO strings);
    compare in the literal's domain."""
    if isinstance(like, (datetime, date)) and isinstance(stored, str):
        return stored  # both sides compared as ISO strings (sortable)
    return stored


def normalize_dnf(preds: list) -> list[list[Pred]]:
    """Accept either a flat conjunct list (the common case) or DNF
    (a list of conjunct lists, OR across them) and return DNF form."""
    if not preds:
        return []
    if isinstance(preds[0], Pred):
        return [list(preds)]
    return [list(d) for d in preds]


def bucket_survives(
    f: dict, expectations: dict[tuple[int, str], str | None]
) -> bool:
    """One file vs precomputed bucket expectations for one disjunct:
    ``expectations[(spec_id, partition_field_name)]`` is the literal's
    bucket id as the dir string, or None for "cannot prune this field"
    (uncoercible literal)."""
    if not expectations:
        return True
    part = f.get("partition") or {}
    sid = f.get("spec_id", 0)
    for (esid, name), want in expectations.items():
        if esid == sid and want is not None and name in part:
            if part[name] != want:
                return False
    return True


def survives_dnf(
    f: dict,
    spec_by_id: dict[int, list[dict[str, str]]],
    dnf: list[list[Pred]],
    ivals_list: list[dict[str, tuple[Any, Any]]],
    bucket_by_disjunct: list[dict[tuple[int, str], str | None]] | None = None,
) -> bool:
    """The COMPLETE per-file survival decision (partition transform +
    column bounds + bloom + bucket, OR across disjuncts) as one pure
    function — shared verbatim by the driver loop and the distributed
    planner so the two paths cannot diverge."""
    from iceberg_workshop_spark.icetbl.bloom import file_survives_bloom

    spec = spec_by_id.get(f.get("spec_id", 0), [])
    for i, (d, iv) in enumerate(zip(dnf, ivals_list)):
        if not file_survives_partition(f.get("partition", {}), spec, iv):
            continue
        if not file_survives_bounds(f.get("bounds"), iv):
            continue
        if not file_survives_bloom(f.get("bloom"), d):
            continue
        if bucket_by_disjunct is not None and not bucket_survives(
            f, bucket_by_disjunct[i]
        ):
            continue
        return True
    return False


def prune_files_distributed(
    spark,
    files: list[dict],
    spec_by_id: dict[int, list[dict[str, str]]],
    dnf: list[list[Pred]],
    bucket_by_disjunct: list[dict[tuple[int, str], str | None]] | None = None,
) -> list[dict]:
    """The scan planner's scale path: evaluate :func:`survives_dnf`
    over the file entries ON EXECUTORS (``spark.parallelize`` + filter)
    instead of a single-core driver loop. Only surviving INDICES come
    back, so the shuffle-home traffic is O(kept), not O(entries).

    The entry dicts ship once as task payload — at 10^6 entries that is
    tens of MB of pickled metadata across the cluster, the same order
    as Iceberg's own distributed planning reads. Semantics are the
    driver loop's by construction (same pure function)."""
    ivals_list = [intervals(d) for d in dnf]
    # ~8k entries per partition keeps per-task pickle payloads small
    # while leaving enough tasks to fill the cluster
    slices = max(1, min(256, (len(files) + 8191) // 8192))
    rdd = spark.sparkContext.parallelize(list(enumerate(files)), slices)
    kept_idx = set(
        rdd.filter(
            lambda t: survives_dnf(
                t[1], spec_by_id, dnf, ivals_list, bucket_by_disjunct
            )
        )
        .map(lambda t: t[0])
        .collect()
    )
    return [f for i, f in enumerate(files) if i in kept_idx]


def prune_files(
    files: list[dict],
    spec_by_id: dict[int, list[dict[str, str]]],
    preds: list,
) -> tuple[list[dict], int]:
    """Return (surviving files, pruned count). Mixed partition specs
    are handled per file (partition evolution: each file prunes under
    the spec it was written with — /root/reference/README.md:138-195).

    ``preds`` is a conjunct list or a DNF (list of conjunct lists):
    a file survives if ANY disjunct's intervals intersect it — the
    per-file interval-union semantics for OR predicates. An empty
    disjunct (only un-analyzable terms in that OR branch) keeps every
    file, as it must.
    """
    from iceberg_workshop_spark.icetbl.bloom import file_survives_bloom

    dnf = normalize_dnf(preds)
    if not dnf:
        return files, 0
    ivals_list = [intervals(d) for d in dnf]
    kept = []
    for f in files:
        spec = spec_by_id.get(f.get("spec_id", 0), [])
        if any(
            file_survives_partition(f.get("partition", {}), spec, iv)
            and file_survives_bounds(f.get("bounds"), iv)
            and file_survives_bloom(f.get("bloom"), d)
            for d, iv in zip(dnf, ivals_list)
        ):
            kept.append(f)
    return kept, len(files) - len(kept)
