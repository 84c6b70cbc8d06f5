"""Per-statement Spark work of the perfbench ``lakehouse`` workload.

Usage, from the repository root:

    python3 tools/lakehouse_jobs.py --seed 1 [--seconds 15] [--work DIR]

Runs the lakehouse workload exactly as ``perfbench/run.py --trace 1``
sets it up (same ``Run``, ``make_workload`` and ``_configure``, Spark's
event log on), then prints, per statement kind, the mean jobs, stages,
tasks and task milliseconds per timed statement, and the call sites its
jobs came from. Jobs are attributed by the job group each timed item
runs under, as perfbench's per-layer metrics are.

``run.py`` deletes its event log when it exits; this tool keeps it as
``<work>/eventlog-<app id>`` so counts can be re-read later. The
program wrappers of ``--trace 1`` are not installed, so the seconds
printed here are not the benchmark's.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from collections import Counter

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(REPO_ROOT, "perfbench")


def call_sites(path: str) -> dict[int, str]:
    """Job id → the short call site Spark recorded for the job."""
    out: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            if e["Event"] != "SparkListenerJobStart":
                continue
            props = e.get("Properties") or {}
            site = props.get("callSite.short")
            if not site:
                stages = e.get("Stage Infos") or [{}]
                site = max(stages, key=lambda s: s.get("Stage ID", 0)).get("Stage Name", "?")
            out[e["Job ID"]] = site
    return out


def summarize(run, jobs: dict, sites: dict[int, str]) -> dict[str, dict]:
    """Per statement kind: timed statements, totals and call sites."""
    from layers import _timed
    from tracing import group_jobs

    for jid, job in jobs.items():
        job["site"] = sites.get(jid, "?")
    by_group = group_jobs(jobs)
    out: dict[str, dict] = {}
    for r in _timed(run):
        s = out.setdefault(r["kind"], {
            "n": 0, "jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0, "sites": Counter(),
        })
        s["n"] += 1
        for _phase, gid in r["groups"]:
            for job in by_group.get(gid, []):
                s["jobs"] += 1
                s["stages"] += len(job["stages"])
                s["tasks"] += len(job["tasks"])
                s["task_ms"] += sum(t["run_ms"] for t in job["tasks"])
                s["sites"][job["site"]] += 1
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--work", default=os.path.join(REPO_ROOT, ".lakehouse_jobs"),
                    help="inputs, scratch and the kept event log (default: .lakehouse_jobs/)")
    args = ap.parse_args(argv)

    sys.path[:0] = [REPO_ROOT, PERFBENCH]
    import run as perfrun
    from tracing import Spans, find_event_log, read_event_log

    work = os.path.abspath(args.work)
    log_dir = perfrun._configure(REPO_ROOT, work, True)
    run = perfrun.Run(args.seed, args.seconds, True, Spans())
    wl = perfrun.make_workload("lakehouse", work, args.seed)
    try:
        perfrun.measure(run, wl)
        app_id = run.sc.applicationId
    finally:
        run.close()
        wl.close()
    path = find_event_log(log_dir, app_id)
    if path is None:
        print(f"lakehouse_jobs: no event log for {app_id} in {log_dir}", file=sys.stderr)
        return 1
    kept = os.path.join(work, f"eventlog-{app_id}")
    shutil.copyfile(path, kept)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    stats = summarize(run, read_event_log(kept), call_sites(kept))
    n_items = sum(s["n"] for s in stats.values())
    print(f"seed {args.seed}: {n_items} timed statements, {run.failed} failed; "
          f"event log kept at {kept}")
    print(f"{'statement':<16}{'n':>4}{'jobs':>8}{'stages':>8}{'tasks':>8}{'task_ms':>9}")
    tot = Counter()
    for kind in sorted(stats):
        s = stats[kind]
        n = s["n"]
        print(f"{kind:<16}{n:>4}{s['jobs'] / n:>8.2f}{s['stages'] / n:>8.2f}"
              f"{s['tasks'] / n:>8.2f}{s['task_ms'] / n:>9.0f}")
        for site, c in s["sites"].most_common():
            print(f"{'':<20}{c / n:>6.2f}  {site}")
        tot.update({k: s[k] for k in ("jobs", "stages", "tasks", "task_ms")})
    m = max(1, n_items)
    print(f"{'per item':<20}{tot['jobs'] / m:>8.2f}{tot['stages'] / m:>8.2f}"
          f"{tot['tasks'] / m:>8.2f}{tot['task_ms'] / m:>9.0f}")
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
