"""spark-graft benchmark: one workload, one seed, one JSON line.

Usage, from the repository root:

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Workloads: ``analytics`` and ``lakehouse`` (see METRICS.md).
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` Spark's event log and the program wrappers are on and
it carries the per-layer metrics. Inputs are generated into
``.perfbench/`` under the working directory, which also holds every file
the run writes.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

from layers import nearest_rank

SETUPS = 3
E2E = {
    "setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB",
}


class Run:
    """Session lifecycle, item timing and per-item Spark job groups."""

    def __init__(self, seed: int, seconds: float, trace: bool, spans) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spans = spans
        self.spark = None
        self.sc = None
        self.records: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def start_session(self) -> None:
        from iceberg_workshop_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = self.sc = None

    def close(self) -> None:
        """Stop the session and end the JVM, waiting for it to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    def guard_cache(self) -> bool:
        """True when Spark's CacheManager is empty; clears it otherwise."""
        empty = bool(self.spark._jsparkSession.sharedState().cacheManager().isEmpty())
        if not empty:
            self.spark.catalog.clearCache()
        return empty

    def count(self, ok: bool, what: str, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{what}: {why}"[:400])

    def phase(self, rec: dict, name: str, fn, *args):
        gid = f"perfbench-{rec['idx']}-{name}"
        self.sc.setJobGroup(gid, gid)
        rec["groups"].append((name, gid))
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            rec["phases"][name] = rec["phases"].get(name, 0.0) + time.perf_counter() - t0

    def time_item(self, kind: str, fn, *args) -> dict:
        rec = {"kind": kind, "idx": len(self.records), "groups": [], "phases": {}}
        self.spans.item = rec["idx"]
        why = ""
        rec["start_epoch"] = time.time()
        t0 = time.perf_counter()
        try:
            fn(self, rec, *args)
        except Exception as exc:  # noqa: BLE001 — a failing item is counted, not fatal
            why = f"{type(exc).__name__}: {exc}"
        rec["dur_s"] = time.perf_counter() - t0
        rec["end_epoch"] = time.time()
        self.spans.item = -1
        self.sc.setJobGroup("perfbench-idle", "idle")
        if not self.guard_cache():
            why = why or "CacheManager not empty after the item"
        rec["failed"] = bool(why)
        self.count(not why, kind, why)
        self.records.append(rec)
        return rec


def _configure(root: str, work: str, trace: bool) -> str:
    """Environment for Spark, set before the JVM starts. Returns the
    event-log directory."""
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log_dir = os.path.join(tmp, "eventlog")
    os.makedirs(log_dir)
    old = os.environ.get("PYTHONPATH")
    # Spark's Python workers import the program by name.
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["SPARK_GRAFT_SCRATCH"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    args = [
        "--conf", f"spark.sql.warehouse.dir={tmp}/warehouse",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options",
        # the heap starts at its full size, so peak RSS does not hang on
        # when the collector chose to grow it
        f"-Xms2g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file:{log_dir}",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


def _peak_rss_mb() -> float:
    """Peak RSS of this driver process plus its JVM child."""
    import resource

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if status.get("PPid", "").strip() == me and status.get("Name", "").strip() == "java":
            kb += int(status.get("VmHWM", "0 kB").split()[0])
    return kb / 1024.0


def make_workload(name: str, work: str, seed: int):
    import datagen
    import workloads

    data = datagen.base_tables(os.path.join(work, "data"))
    if name == "analytics":
        return workloads.RegistryWorkload(workloads.analytics_items(), data)
    return workloads.LakehouseWorkload(data, os.path.join(work, "tmp"), seed)


def item_medians(recs: list[dict]) -> dict[str, float]:
    """Each item's (lakehouse: statement kind's) median time, in s."""
    by_item: dict[str, list[float]] = {}
    for r in recs:
        by_item.setdefault(r["kind"], []).append(r["dur_s"])
    return {k: statistics.median(v) for k, v in by_item.items()}


def measure(run: Run, wl) -> dict:
    setups, starts = [], []
    for _ in range(SETUPS):
        run.stop_session()
        t0 = time.perf_counter()
        run.start_session()
        t1 = time.perf_counter()
        wl.setup(run)
        setups.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
    t_warm = time.perf_counter()
    wl.warm(run)
    # A fixed number of whole passes, sized so that they take about
    # --seconds at the baseline: every run of a workload times the same
    # items the same number of times, whatever the program's speed.
    passes = max(1, round(run.seconds / wl.nominal_pass_s))
    t0 = time.perf_counter()
    for i in range(passes):
        wl.run_pass(run, i)
    print(f"perfbench: set-ups {', '.join(f'{s:.2f}' for s in setups)} s; "
          f"check pass {t0 - t_warm:.2f} s; {passes} timed passes "
          f"{time.perf_counter() - t0:.2f} s", file=sys.stderr)
    timed = item_medians([r for r in run.records if not r["failed"]])
    print("perfbench: median s per item: " + ", ".join(
        f"{k} {v:.3f}" for k, v in sorted(timed.items())), file=sys.stderr)
    typical = list(timed.values()) or [float("nan")]
    # Stderr only: over a dozen item medians a percentile is one item's
    # sample, and which item it is changes with the seed.
    print(f"perfbench: item medians p50 {1000 * statistics.median(typical):.1f} ms, "
          f"p90 {1000 * nearest_rank(typical, 0.9):.1f} ms", file=sys.stderr)
    return {
        "setup_s": statistics.median(setups),
        "session_start_s": statistics.median(starts),
        "wall_s": sum(typical),
        "peak_rss_mb": _peak_rss_mb(),
        "samples": sum(1 for r in run.records if not r["failed"]),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("analytics", "lakehouse"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "iceberg_workshop_spark", "__init__.py")):
        print("perfbench: run from the repository root; iceberg_workshop_spark/ is missing",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench")
    log_dir = _configure(root, work, bool(args.trace))

    import layers
    from tracing import Spans, wrap_program

    spans = Spans()
    run = Run(args.seed, args.seconds, bool(args.trace), spans)
    wl = make_workload(args.workload, work, args.seed)
    # Only the workload that reaches the table layer has entry points to wrap.
    entry_points = wrap_program(spans) if args.trace and hasattr(wl, "table_state") else {}
    try:
        e2e = measure(run, wl)
        app_id = run.sc.applicationId
        layer = layers.collect(run, wl) if args.trace else {}
    finally:
        run.close()
        if hasattr(wl, "close"):
            wl.close()
    if args.trace:
        layer.update(layers.from_event_log(run, log_dir, app_id))
        layer.update(layers.entry_point_calls(spans, entry_points, args.workload))
        layer["session.start_s"] = (e2e["session_start_s"], "s")
        layer["trace.wall_s"] = (e2e["wall_s"], "s")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in sorted(layer.items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    print(f"perfbench: every item's output checked against {wl.check}", file=sys.stderr)
    for err in run.errors:
        print(f"perfbench: failed {err}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} samples={e2e['samples']} "
          f"attempted={run.attempted} failed={run.failed}", file=sys.stderr)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
