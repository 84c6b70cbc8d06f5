"""Metadata-commit scaling certificate (O(changed-files) commits).

Measures what ONE single-file append commit costs — wall time, bytes
of the new v<N>.json, bytes of newly-written mf-*.json manifests —
as the table's live file count grows 1k → 10k → 100k, and compares
against the inline-equivalent baseline (the bytes a pre-sharding
v<N>.json would have carried: every retained snapshot's full entry
list). The whole point of manifest sidecars (icetbl/meta.py) is that
the written bytes stay O(changed files) while the inline baseline is
O(live files × retained snapshots); this tool certifies it with
numbers the way BENCH_scale.json certifies query scaling.

Drives the REAL commit path: IceTable._commit_snapshot_delta
(snapshot construction, sequence stamping, summary, manifest writes
with parent-manifest carry-over, CAS link) over synthetic file
entries — no Spark session needed, this is a pure metadata-layer
benchmark.

Writes BENCH_meta.json; prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_workshop_spark.icetbl import meta as M
from iceberg_workshop_spark.icetbl.table import IceTable

TIERS = [1_000, 10_000, 100_000]
PROBES = 5  # single-file commits measured per tier


def _entry(i: int) -> dict:
    """A realistic data-file manifest entry (same shape append()
    writes: path, counts, footer stats with per-column bounds)."""
    return {
        "path": f"data/snap-bench/part-{i:08d}.parquet",
        "record_count": 1_000,
        "file_size_bytes": 4_194_304,
        "spec_id": 0,
        "partition": {},
        "stats": {
            "id": {"min": i * 1_000, "max": (i + 1) * 1_000 - 1},
            "v": {"min": 0.0, "max": 1.0},
        },
    }


class _Shim:
    """Minimal stand-in for IceTable in _commit_snapshot_delta (which
    only touches self.meta plus sibling helpers); lets the benchmark
    run the real commit path without a SparkSession."""

    _partition_manifests = IceTable._partition_manifests
    _commit_meta = IceTable._commit_meta
    _refresh_meta = IceTable._refresh_meta
    _committer = staticmethod(M.commit)
    _refresher = None


def _metadata_bytes(location: str) -> dict[str, int]:
    out: dict[str, int] = {}
    mdir = os.path.join(location, M.METADATA_DIR)
    for name in os.listdir(mdir):
        out[name] = os.path.getsize(os.path.join(mdir, name))
    return out


def main() -> None:
    loc = tempfile.mkdtemp(prefix="iws_bench_meta_")
    try:
        meta = M.TableMeta.empty(loc, "id bigint, v double", [])
        meta = M.commit(meta)
        shim = _Shim()
        shim.meta = meta

        results: dict[str, dict] = {}
        n_live = 0
        next_id = 0
        for tier in TIERS:
            # one batch append up to the tier size (the real append()
            # delta contract: added entries only, the base's manifests
            # carry by reference)
            batch = [_entry(next_id + j) for j in range(tier - n_live)]
            next_id += len(batch)
            IceTable._commit_snapshot_delta(shim, batch, [], "append", rebase="blind")
            n_live = tier

            ms, vbytes, mfbytes, mfcount, mlbytes = [], [], [], [], []
            for _ in range(PROBES):
                before = _metadata_bytes(loc)
                one = [_entry(next_id)]
                next_id += 1
                t0 = time.perf_counter()
                IceTable._commit_snapshot_delta(shim, one, [], "append", rebase="blind")
                ms.append((time.perf_counter() - t0) * 1000)
                after = _metadata_bytes(loc)
                new = {k: v for k, v in after.items() if k not in before}
                vbytes.append(
                    sum(v for k, v in new.items() if k.startswith("v"))
                )
                mfs = {
                    k: v
                    for k, v in new.items()
                    if k.startswith(M.MANIFEST_PREFIX)
                }
                mfbytes.append(sum(mfs.values()))
                mfcount.append(len(mfs))
                mlbytes.append(
                    sum(
                        v
                        for k, v in new.items()
                        if k.startswith(M.MANIFEST_LIST_PREFIX)
                    )
                )

            # inline-equivalent baseline: what v<N>.json carried before
            # sharding — every retained snapshot's full entry lists
            inline = sum(
                len(
                    json.dumps(
                        list(shim.meta.files(s))
                        + list(shim.meta.delete_entries(s)),
                        separators=(",", ":"),
                        default=str,
                    )
                )
                for s in shim.meta.snapshots
            )
            results[str(tier)] = {
                "commit_ms_median": round(statistics.median(ms), 2),
                "vjson_bytes": int(statistics.median(vbytes)),
                "new_manifest_bytes": int(statistics.median(mfbytes)),
                "new_manifests": int(statistics.median(mfcount)),
                "manifest_list_bytes": int(statistics.median(mlbytes)),
                "inline_equiv_bytes": inline,
                "written_over_inline": round(
                    (
                        statistics.median(vbytes)
                        + statistics.median(mfbytes)
                        + statistics.median(mlbytes)
                    )
                    / max(inline, 1),
                    6,
                ),
                "n_snapshots": len(shim.meta.snapshots),
            }

        lo, hi = results[str(TIERS[0])], results[str(TIERS[-1])]
        out = {
            "metric": "metadata_commit_scaling",
            "tiers": results,
            # written bytes should be ~flat across a 100x live-file
            # growth; the inline baseline grows ~linearly
            "written_bytes_growth_100x": round(
                (
                    hi["vjson_bytes"]
                    + hi["new_manifest_bytes"]
                    + hi["manifest_list_bytes"]
                )
                / max(
                    lo["vjson_bytes"]
                    + lo["new_manifest_bytes"]
                    + lo["manifest_list_bytes"],
                    1,
                ),
                3,
            ),
            "commit_ms_growth_100x": round(
                hi["commit_ms_median"] / max(lo["commit_ms_median"], 0.001), 3
            ),
        }
        dest = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH_meta.json",
        )
        # keep non-benchmark keys other tools/rounds recorded in the
        # same file (e.g. the r10 warm/cold triage note)
        if os.path.exists(dest):
            with open(dest) as f:
                prev = json.load(f)
            out = {**{k: v for k, v in prev.items() if k not in out}, **out}
        with open(dest, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(json.dumps(out))
    finally:
        shutil.rmtree(loc, ignore_errors=True)


if __name__ == "__main__":
    main()
