"""Property tests for the scan-planning pruner (SURVEY §7.7 risk #2:
"off-by-one at range edges will silently unprune or — worse — wrongly
prune").

Soundness invariant, hypothesis-driven: for ANY dataset layout (rows
grouped into files by a partition transform, arbitrary file splits)
and ANY conjunctive predicate, every row that satisfies the predicate
must live in a file that survives pruning. (Completeness — pruning as
*much* as possible — is a performance property, asserted separately in
test_icetbl.py with the reference's ratios.)

Pure metadata-level simulation: the same transform encodings and bound
representations the table layer writes (transform_value strings, ISO
timestamps) — no Spark session, so hypothesis can run hundreds of
layouts in seconds.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_workshop_spark.icetbl.pruning import Pred, prune_files
from iceberg_workshop_spark.icetbl.transforms import transform_value

BASE = datetime(2023, 11, 20)  # spans a year boundary within ~90 days

row_strategy = st.tuples(
    st.integers(min_value=0, max_value=90 * 24),  # ts offset in hours
    st.integers(min_value=-50, max_value=50),  # k
)

transform_strategy = st.sampled_from(["year", "month", "day", "identity"])


def _ts(offset_hours: int) -> datetime:
    return BASE + timedelta(hours=offset_hours)


def _build_files(rows, transform, splits):
    """Group rows by partition value (as partitionBy would), then split
    each group into up to `splits` files; compute bounds like
    stats.file_stats (ISO strings for timestamps)."""
    groups: dict[str, list] = {}
    for off, k in rows:
        ts = _ts(off)
        pv = (
            transform_value(transform, ts)
            if transform != "identity"
            else ts.strftime("%Y-%m-%d %H:%M:%S")
        )
        groups.setdefault(pv, []).append((ts, k))
    files = []
    contents = []
    for pv, members in sorted(groups.items()):
        chunks = [members[i::splits] for i in range(splits)]
        for chunk in chunks:
            if not chunk:
                continue
            files.append(
                {
                    "path": f"f{len(files)}",
                    "spec_id": 0,
                    "partition": {"p": pv},
                    "bounds": {
                        "ts": [
                            min(t for t, _ in chunk).isoformat(),
                            max(t for t, _ in chunk).isoformat(),
                        ],
                        "k": [
                            min(k for _, k in chunk),
                            max(k for _, k in chunk),
                        ],
                    },
                }
            )
            contents.append(chunk)
    return files, contents


def _matches(row, preds) -> bool:
    ts, k = row
    vals = {"ts": ts, "k": k}
    for p in preds:
        v = vals[p.col]
        if p.op == "=" and v != p.value:
            return False
        if p.op == "<" and not v < p.value:
            return False
        if p.op == "<=" and not v <= p.value:
            return False
        if p.op == ">" and not v > p.value:
            return False
        if p.op == ">=" and not v >= p.value:
            return False
        if p.op == "between" and not (p.value[0] <= v <= p.value[1]):
            return False
    return True


pred_strategy = st.one_of(
    st.builds(
        lambda op, off: Pred("ts", op, _ts(off)),
        st.sampled_from(["=", "<", "<=", ">", ">=" ]),
        st.integers(min_value=-24, max_value=91 * 24),
    ),
    st.builds(
        lambda a, b: Pred("ts", "between", (_ts(min(a, b)), _ts(max(a, b)))),
        st.integers(min_value=-24, max_value=91 * 24),
        st.integers(min_value=-24, max_value=91 * 24),
    ),
    st.builds(
        lambda op, v: Pred("k", op, v),
        st.sampled_from(["=", "<", "<=", ">", ">=" ]),
        st.integers(min_value=-60, max_value=60),
    ),
    st.builds(
        lambda a, b: Pred("k", "between", (min(a, b), max(a, b))),
        st.integers(min_value=-60, max_value=60),
        st.integers(min_value=-60, max_value=60),
    ),
)


@settings(max_examples=300, deadline=None)
@given(
    rows=st.lists(row_strategy, min_size=1, max_size=60),
    transform=transform_strategy,
    splits=st.integers(min_value=1, max_value=3),
    preds=st.lists(pred_strategy, min_size=1, max_size=3),
)
def test_pruning_never_drops_matching_rows(rows, transform, splits, preds):
    spec = [{"source": "ts", "transform": transform, "name": "p"}]
    files, contents = _build_files(rows, transform, splits)
    kept, _ = prune_files(files, {0: spec}, preds)
    kept_paths = {f["path"] for f in kept}
    for f, chunk in zip(files, contents):
        for ts, k in chunk:
            if _matches((ts, k), preds):
                assert f["path"] in kept_paths, (
                    f"row (ts={ts}, k={k}) matches {preds} but its file "
                    f"{f['path']} (partition {f['partition']}, bounds "
                    f"{f['bounds']}) was pruned under transform {transform}"
                )


@settings(max_examples=100, deadline=None)
@given(
    rows=st.lists(row_strategy, min_size=1, max_size=40),
    transform=transform_strategy,
    splits=st.integers(min_value=1, max_value=2),
)
def test_no_predicate_scans_everything(rows, transform, splits):
    files, _ = _build_files(rows, transform, splits)
    kept, pruned = prune_files(files, {0: [{"source": "ts", "transform": transform, "name": "p"}]}, [])
    assert pruned == 0 and len(kept) == len(files)


int_pred_strategy = st.one_of(
    st.builds(
        lambda op, v: Pred("k", op, v),
        st.sampled_from(["=", "<", "<=", ">", ">="]),
        st.integers(min_value=-60, max_value=60),
    ),
    st.builds(
        lambda a, b: Pred("k", "between", (min(a, b), max(a, b))),
        st.integers(min_value=-60, max_value=60),
        st.integers(min_value=-60, max_value=60),
    ),
)


@settings(max_examples=200, deadline=None)
@given(
    ks=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=60),
    w=st.sampled_from([3, 7, 10, 100]),
    splits=st.integers(min_value=1, max_value=3),
    preds=st.lists(int_pred_strategy, min_size=1, max_size=3),
)
def test_truncate_pruning_soundness(ks, w, splits, preds):
    """truncate[w] on integers: numeric width partitioning must never
    prune a file holding a matching row — the regression class where
    integer partition strings compared lexicographically ("1000" <
    "200") or write/plan truncation semantics diverged. Directory
    values are built exactly as the writer emits them
    (str(v - pmod(v, w)); Python % matches Spark pmod on negatives)."""
    spec = [{"source": "k", "transform": f"truncate[{w}]", "name": "p"}]
    groups: dict[str, list[int]] = {}
    for k in ks:
        groups.setdefault(str(k - k % w), []).append(k)
    files, contents = [], []
    for pv, members in sorted(groups.items()):
        for chunk in (members[i::splits] for i in range(splits)):
            if not chunk:
                continue
            files.append(
                {
                    "path": f"f{len(files)}",
                    "spec_id": 0,
                    "partition": {"p": pv},
                    "bounds": {"k": [min(chunk), max(chunk)]},
                }
            )
            contents.append(chunk)
    kept, _ = prune_files(files, {0: spec}, preds)
    kept_paths = {f["path"] for f in kept}
    for f, chunk in zip(files, contents):
        for k in chunk:
            if _matches((None, k), [p for p in preds if p.col == "k"]):
                assert f["path"] in kept_paths, (
                    f"k={k} matches {preds} but file {f['path']} "
                    f"(partition {f['partition']}) was pruned, w={w}"
                )


@settings(max_examples=200, deadline=None)
@given(
    rows=st.lists(row_strategy, min_size=1, max_size=60),
    transform=transform_strategy,
    splits=st.integers(min_value=1, max_value=3),
    dnf=st.lists(
        st.lists(pred_strategy, min_size=1, max_size=2), min_size=1, max_size=3
    ),
)
def test_dnf_pruning_never_drops_matching_rows(rows, transform, splits, dnf):
    """OR soundness: under a DNF predicate, a row matching ANY disjunct
    must live in a surviving file (per-file interval-union semantics)."""
    spec = [{"source": "ts", "transform": transform, "name": "p"}]
    files, contents = _build_files(rows, transform, splits)
    kept, _ = prune_files(files, {0: spec}, dnf)
    kept_paths = {f["path"] for f in kept}
    for f, chunk in zip(files, contents):
        for ts, k in chunk:
            if any(_matches((ts, k), d) for d in dnf):
                assert f["path"] in kept_paths, (
                    f"row (ts={ts}, k={k}) matches a disjunct of {dnf} but "
                    f"file {f['path']} was pruned under transform {transform}"
                )


def test_bloom_membership_never_false_negative():
    """Planner-side bloom check: for ANY value set, every member's
    probe bits are set in the encoded bitmap (no false negative —
    pruning must never drop a file that holds the value), and the
    false-positive rate at fixture-like load stays far below 1 (the
    filter actually prunes)."""
    import random

    from iceberg_workshop_spark.icetbl.bloom import (
        BLOOM_BITS,
        encode_bits,
        file_survives_bloom,
        positions,
    )
    from iceberg_workshop_spark.icetbl.pruning import Pred

    rng = random.Random(20260814)
    for _ in range(20):
        vals = [rng.randrange(0, 10**9) for _ in range(rng.randrange(1, 120))]
        bits = [b for v in vals for b in positions(v)]
        bloom = {
            "k": {"m": BLOOM_BITS, "k": 3, "bits": encode_bits(bits)}
        }
        for v in vals:  # members always survive
            assert file_survives_bloom(bloom, [Pred("k", "=", v)])
        # non-members: mostly pruned (3 probes over 1024 bits,
        # <=360 set bits -> FP rate well under 10%)
        probes = [rng.randrange(10**12, 10**13) for _ in range(200)]
        fp = sum(
            1
            for v in probes
            if file_survives_bloom(bloom, [Pred("k", "=", v)])
        )
        assert fp < 40, f"false-positive rate too high: {fp}/200"
        # other predicates / other columns never prune
        assert file_survives_bloom(bloom, [Pred("k", ">", 0)])
        assert file_survives_bloom(bloom, [Pred("other", "=", 1)])
    # absent/malformed filters keep the file
    assert file_survives_bloom(None, [Pred("k", "=", 1)])
    assert file_survives_bloom(
        {"k": {"m": "x", "k": 3, "bits": "zz"}}, [Pred("k", "=", 1)]
    )
