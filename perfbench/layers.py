"""Per-layer metrics of a traced run.

Every traced run reports every name in ``METRICS``; a layer the workload
does not use reads 0. Spark counts and times are per timed item (a
registry query or a lakehouse statement). See METRICS.md for what each
metric should move.
"""

from __future__ import annotations

import math
import statistics
import sys

from tracing import find_event_log, group_jobs, read_event_log

LAKEHOUSE_KINDS = {
    "insert": ("insert",), "merge": ("merge",), "update": ("update",), "delete": ("delete",),
    "select": ("select_range", "select_point", "select_agg"), "asof": ("asof",),
    "maint": ("rewrite", "rewrite_deletes", "expire"),
}
WRITE_KINDS = ("insert", "merge", "update", "delete", "rewrite")

METRICS: dict[str, str] = {
    "session.start_s": "s",
    "registry.construct_s": "s/item",
    "registry.eager_jobs": "count/item",
    "spark.execute_s": "s/item",
    "spark.jobs": "count/item",
    "spark.stages": "count/item",
    "spark.tasks": "count/item",
    "spark.no_task_s": "s/item",
    "spark.task_s": "s/item",
    "spark.task_cpu_s": "s/item",
    "spark.gc_s": "s/item",
    "spark.empty_task_frac": "ratio",
    "spark.shuffle_mb": "MB/item",
    "spark.spill_mb": "MB/item",
    "spark.scan_mb": "MB/item",
    "functions.python_rows": "count/item",
    "functions.arrow_mb": "MB/item",
    **{f"sqlfront.{k}_self_ms": "ms" for k in LAKEHOUSE_KINDS},
    "lakehouse.insert_p50_ms": "ms",
    "lakehouse.merge_p50_ms": "ms",
    "lakehouse.dml_p50_ms": "ms",
    "lakehouse.read_p50_ms": "ms",
    "lakehouse.read_p90_ms": "ms",
    "lakehouse.write_amp": "ratio",
    "lakehouse.space_amp": "ratio",
    "icetbl.commit_ms": "ms",
    "icetbl.commits": "count/cycle",
    "icetbl.commit_conflicts": "count",
    "icetbl.plan_ms": "ms",
    "icetbl.files_scanned_frac": "ratio",
    "icetbl.delete_files_read": "count/read",
    **{f"icetbl.{k}_files_written": "count/stmt" for k in WRITE_KINDS},
    **{f"icetbl.{k}_data_mb_written": "MB/stmt" for k in WRITE_KINDS},
    **{f"icetbl.{k}_meta_kb_written": "KB/stmt" for k in WRITE_KINDS},
    "icetbl.live_files": "count",
    "icetbl.snapshots": "count",
    "icetbl.maint_s": "s",
    "icetbl.rewritten_mb": "MB",
    "trace.entry_points_unused": "count",
    "trace.wall_s": "s",
}


def _med(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else 0.0


def nearest_rank(vals, q: float) -> float:
    """The q-quantile by nearest rank: always one of the samples."""
    s = sorted(vals)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def _timed(run) -> list[dict]:
    return [r for r in run.records if not r["failed"]]


def collect(run, wl) -> dict[str, tuple[float, str]]:
    """Metrics read from the benchmark's own records, taken while the
    session is still up."""
    recs = _timed(run)
    n = max(1, len(recs))
    out = {k: (0.0, u) for k, u in METRICS.items()}

    def put(name, value):
        out[name] = (float(value), METRICS[name])

    put("registry.construct_s", sum(r["phases"].get("construct", 0) for r in recs) / n)
    put("spark.execute_s", sum(r["phases"].get("execute", 0) for r in recs) / n)
    if not hasattr(wl, "table_state"):
        return out

    spans = run.spans
    by_kind: dict[str, list[dict]] = {}
    for r in recs:
        by_kind.setdefault(r["kind"], []).append(r)

    def ms(kinds):
        return [1000 * r["dur_s"] for k in kinds for r in by_kind.get(k, [])]

    put("lakehouse.insert_p50_ms", _med(ms(["insert"])))
    put("lakehouse.merge_p50_ms", _med(ms(["merge"])))
    put("lakehouse.dml_p50_ms", _med(ms(["update", "delete"])))
    reads = ms(["select_range", "select_point", "select_agg", "asof"])
    put("lakehouse.read_p50_ms", _med(reads))
    put("lakehouse.read_p90_ms", nearest_rank(reads, 0.9))

    for name, kinds in LAKEHOUSE_KINDS.items():
        self_ms = [
            1000 * (s.end - s.start - s.child_s)
            for k in kinds for r in by_kind.get(k, [])
            for s in spans.of("sqlfront", r["idx"]) if s.parent is None
        ]
        put(f"sqlfront.{name}_self_ms", _med(self_ms))

    timed_items = {r["idx"] for r in recs}
    commits = [s for s in spans.of("commit") if s.item in timed_items]
    put("icetbl.commit_ms", _med(1000 * (s.end - s.start) for s in commits))
    put("icetbl.commits", len(commits) / max(1, wl.timed_cycles))
    put("icetbl.commit_conflicts", sum(1 for s in commits if s.error == "CommitConflict"))
    plans = [
        1000 * (s.end - s.start) for s in spans.of("icetbl")
        if s.item in timed_items and s.name in ("read", "scan")
        and (s.parent is None or s.parent.layer != "icetbl")
    ]
    put("icetbl.plan_ms", _med(plans))
    put("icetbl.files_scanned_frac", _med(wl.scan_fracs))
    put("icetbl.delete_files_read", _med(wl.delete_files_read))
    for kind in WRITE_KINDS:
        files, data, meta, stmts = wl.written.get(kind, [0, 0, 0, 0])
        stmts = max(1, stmts)
        put(f"icetbl.{kind}_files_written", files / stmts)
        put(f"icetbl.{kind}_data_mb_written", data / 1e6 / stmts)
        put(f"icetbl.{kind}_meta_kb_written", meta / 1e3 / stmts)
    maint = [r for k in LAKEHOUSE_KINDS["maint"] for r in by_kind.get(k, [])]
    put("icetbl.maint_s", _med(r["dur_s"] for r in maint))
    rw = wl.written.get("rewrite", [0, 0, 0, 1])
    put("icetbl.rewritten_mb", rw[1] / 1e6 / max(1, rw[3]))

    state = wl.table_state(run)
    put("icetbl.live_files", state["live_files"])
    put("icetbl.snapshots", state["snapshots"])
    written = sum(w[1] + w[2] for w in wl.written.values())
    if state["changed_plain_bytes"]:
        put("lakehouse.write_amp", written / state["changed_plain_bytes"])
    put("lakehouse.space_amp", state["table_bytes"] / max(1, state["fresh_copy_bytes"]))
    return out


def from_event_log(run, log_dir: str, app_id: str) -> dict[str, tuple[float, str]]:
    """Spark-layer metrics from the event log, attributed by job group."""
    path = find_event_log(log_dir, app_id)
    if path is None:
        raise RuntimeError(f"no event log for {app_id} in {log_dir}")
    by_group = group_jobs(read_event_log(path))
    recs = _timed(run)
    n = max(1, len(recs))
    tot = dict.fromkeys(
        ("jobs", "eager", "stages", "tasks", "empty", "run_ms", "cpu_ns", "gc_ms",
         "shuffle", "spill", "scan", "py_rows", "py_bytes", "no_task_s"), 0.0)
    for r in recs:
        intervals = []
        for phase, gid in r["groups"]:
            for job in by_group.get(gid, []):
                tot["jobs"] += 1
                tot["eager"] += phase == "construct"
                tot["stages"] += len(job["stages"])
                tot["py_rows"] += job["python_rows"]
                tot["py_bytes"] += job["python_bytes"]
                for t in job["tasks"]:
                    tot["tasks"] += 1
                    tot["empty"] += t["records_in"] == 0
                    tot["run_ms"] += t["run_ms"]
                    tot["cpu_ns"] += t["cpu_ns"]
                    tot["gc_ms"] += t["gc_ms"]
                    tot["shuffle"] += t["shuffle_bytes"]
                    tot["spill"] += t["spill_bytes"]
                    tot["scan"] += t["scan_bytes"]
                    intervals.append((t["launch_ms"], t["finish_ms"]))
        busy_ms, end = 0.0, r["start_epoch"] * 1000
        for lo, hi in sorted(intervals):
            lo, hi = max(lo, end), min(hi, r["end_epoch"] * 1000)
            if hi > lo:
                busy_ms += hi - lo
                end = hi
        tot["no_task_s"] += max(0.0, r["dur_s"] - busy_ms / 1000)
    u = METRICS
    return {
        "registry.eager_jobs": (tot["eager"] / n, u["registry.eager_jobs"]),
        "spark.jobs": (tot["jobs"] / n, u["spark.jobs"]),
        "spark.stages": (tot["stages"] / n, u["spark.stages"]),
        "spark.tasks": (tot["tasks"] / n, u["spark.tasks"]),
        "spark.no_task_s": (tot["no_task_s"] / n, u["spark.no_task_s"]),
        "spark.task_s": (tot["run_ms"] / 1e3 / n, u["spark.task_s"]),
        "spark.task_cpu_s": (tot["cpu_ns"] / 1e9 / n, u["spark.task_cpu_s"]),
        "spark.gc_s": (tot["gc_ms"] / 1e3 / n, u["spark.gc_s"]),
        "spark.empty_task_frac": (tot["empty"] / max(1, tot["tasks"]), u["spark.empty_task_frac"]),
        "spark.shuffle_mb": (tot["shuffle"] / 1e6 / n, u["spark.shuffle_mb"]),
        "spark.spill_mb": (tot["spill"] / 1e6 / n, u["spark.spill_mb"]),
        "spark.scan_mb": (tot["scan"] / 1e6 / n, u["spark.scan_mb"]),
        "functions.python_rows": (tot["py_rows"] / n, u["functions.python_rows"]),
        "functions.arrow_mb": (tot["py_bytes"] / 1e6 / n, u["functions.arrow_mb"]),
    }


def entry_point_calls(spans, entry_points: dict[str, int], workload: str) -> dict[str, tuple[float, str]]:
    """Count calls per wrapped entry point; report how many saw none."""
    calls = dict(entry_points)
    for s in spans.done:
        key = f"{s.layer}.{s.name}"
        if key in calls:
            calls[key] += 1
    unused = sorted(k for k, v in calls.items() if not v)
    if calls:
        print(f"perfbench: {workload} entry-point calls {calls}", file=sys.stderr)
    return {"trace.entry_points_unused": (float(len(unused)), METRICS["trace.entry_points_unused"])}
