"""Tracing from outside the program.

- ``Spans`` records nested spans (layer, name, start, end, parent, the
  timed item) in memory; a span's self time is its wall time minus
  ``child_s``, the time its child spans cover.
- ``wrap_program`` wraps ``IceSqlSession.sql`` and the public methods of
  ``IceTable`` on their classes (and the module functions the SQL front
  end calls directly), and routes a table's commits through a timing
  arbiter set with the public ``IceTable.set_commit_arbiter``.
- ``read_event_log`` parses Spark's JSON event log, enabled at launch, and
  returns per-job records (group, completed stages, tasks and task
  metrics). Each timed call runs under its own Spark job group, so
  jobs are attributed to calls exactly.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    name: str
    start: float
    parent: "Span | None"
    item: int
    end: float = 0.0
    child_s: float = 0.0
    error: str = ""


@dataclass
class Spans:
    item: int = -1
    stack: list[Span] = field(default_factory=list)
    done: list[Span] = field(default_factory=list)

    def open(self, layer: str, name: str) -> Span:
        sp = Span(layer, name, time.perf_counter(), self.stack[-1] if self.stack else None, self.item)
        self.stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self.stack.pop()
        if sp.parent is not None:
            sp.parent.child_s += sp.end - sp.start
        self.done.append(sp)

    def call(self, layer: str, name: str, fn, *a, **kw):
        sp = self.open(layer, name)
        try:
            return fn(*a, **kw)
        except Exception as exc:
            sp.error = type(exc).__name__
            raise
        finally:
            self.close(sp)

    def of(self, layer: str, item: int | None = None) -> list[Span]:
        return [s for s in self.done if s.layer == layer and (item is None or s.item == item)]


def _wrapper(spans: Spans, layer: str, name: str, fn):
    @functools.wraps(fn)
    def traced(*a, **kw):
        return spans.call(layer, name, fn, *a, **kw)

    return traced


# The public IceTable methods the lakehouse statements reach.
ICETABLE_ENTRY_POINTS = (
    "append", "merge_into", "update_where", "delete_where_pos",
    "read", "scan", "rewrite_data_files", "rewrite_position_deletes", "expire_snapshots",
)


def wrap_program(spans: Spans) -> dict[str, int]:
    """Wrap the program's entry points on their classes, and the module
    functions the SQL front end calls by module attribute.

    Returns {entry point: 0}: the names whose calls the run will count.
    """
    from iceberg_workshop_spark.icetbl import dml, maintenance
    from iceberg_workshop_spark.icetbl.table import IceTable
    from iceberg_workshop_spark.plans.sqlfront import IceSqlSession

    IceSqlSession.sql = _wrapper(spans, "sqlfront", "sql", IceSqlSession.sql)
    for attr in ICETABLE_ENTRY_POINTS:
        val = getattr(IceTable, attr)
        wrapped = _wrapper(spans, "icetbl", attr, val)
        setattr(IceTable, attr, wrapped)
        for mod in (dml, maintenance):
            if getattr(mod, attr, None) is val:
                setattr(mod, attr, wrapped)
    names = ["sqlfront.sql", "commit.commit"] + [f"icetbl.{a}" for a in ICETABLE_ENTRY_POINTS]
    return dict.fromkeys(names, 0)


def time_commits(spans: Spans, tbl) -> None:
    """Time every commit of ``tbl`` through its public commit arbiter.

    The arbiter keeps the table's default behaviour: commit through
    ``meta.commit`` and refresh from the table location.
    """
    from iceberg_workshop_spark.icetbl import meta as M

    location = tbl.meta.location
    tbl.set_commit_arbiter(
        _wrapper(spans, "commit", "commit", M.commit),
        lambda: M.read_current(location),
    )


def read_event_log(path: str) -> dict:
    """Jobs, stages and task metrics from one application's event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    python_acc_rows: set[int] = set()
    python_acc_bytes: set[int] = set()

    def plan_nodes(node):
        yield node
        for c in node.get("children", []):
            yield from plan_nodes(c)

    def python_metrics(plan):
        for n in plan_nodes(plan):
            nm = n.get("nodeName", "")
            if "Python" not in nm and "Pandas" not in nm and "InArrow" not in nm:
                continue
            for m in n.get("metrics", []):
                if m["name"] == "number of output rows":
                    python_acc_rows.add(m["accumulatorId"])
                elif "Python workers" in m["name"] and m["name"].startswith("data "):
                    python_acc_bytes.add(m["accumulatorId"])

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                jobs[jid] = {
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "stages": set(),
                    "tasks": [],
                }
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                jid = stage_job.get(info["Stage ID"])
                if jid is not None and "Completion Time" in info:
                    jobs[jid]["stages"].add((info["Stage ID"], info.get("Stage Attempt ID", 0)))
            elif ev == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                if jid is None:
                    continue
                ti, tm = e.get("Task Info", {}), e.get("Task Metrics") or {}
                inp = tm.get("Input Metrics", {})
                srd = tm.get("Shuffle Read Metrics", {})
                swr = tm.get("Shuffle Write Metrics", {})
                accs = {a["ID"]: a.get("Update") for a in ti.get("Accumulables", [])}
                jobs[jid]["tasks"].append({
                    "launch_ms": ti.get("Launch Time", 0),
                    "finish_ms": ti.get("Finish Time", 0),
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "scan_bytes": inp.get("Bytes Read", 0),
                    "records_in": inp.get("Records Read", 0) + srd.get("Total Records Read", 0),
                    "shuffle_bytes": swr.get("Shuffle Bytes Written", 0),
                    "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    "accs": accs,
                })
            elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                if "sparkPlanInfo" in e:
                    python_metrics(e["sparkPlanInfo"])
    for job in jobs.values():
        rows = nbytes = 0
        for t in job["tasks"]:
            for aid, upd in t.pop("accs").items():
                if aid in python_acc_rows:
                    rows += int(upd or 0)
                elif aid in python_acc_bytes:
                    nbytes += int(upd or 0)
        job["python_rows"], job["python_bytes"] = rows, nbytes
    return jobs


def find_event_log(log_dir: str, app_id: str) -> str | None:
    for name in os.listdir(log_dir):
        if app_id in name and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    return None


def group_jobs(jobs: dict) -> dict[str, list[dict]]:
    by_group: dict[str, list[dict]] = defaultdict(list)
    for job in jobs.values():
        by_group[job["group"]].append(job)
    return by_group
