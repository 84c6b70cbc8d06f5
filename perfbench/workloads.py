"""The two workloads: ``analytics`` and ``lakehouse``.

Each is a closed loop with one client on ``local[4]``. A workload has
``setup(run)`` (timed as set-up), ``warm(run)`` (an untimed pass that also
checks every item's output and warms the JIT) and ``run_pass(run, i)``
(one timed pass over its items), and ``nominal_pass_s``, the time of one
pass at the baseline on a 4-core host.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import duckdb
import pandas as pd

from check import mismatch
from datagen import TABLES

ANALYTICS_MODULES = {f"operators.{m}" for m in (
    "aggregates tpch_shapes sketches joins sequences stats_ext windows "
    "subqueries analytics setops filters skew"
).split()} | {"functions.scalar", "functions.scalar_ext", "functions.udfs"}
# Every 20th query of the sorted 148-query pool, so that a run can time
# the same items several times, plus the row-at-a-time Python UDF, which
# needs the program importable in Spark's Python workers.
ANALYTICS_STRIDE = 20
ANALYTICS_EXTRA = ("q_udf_python",)


def _error(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"


def analytics_items() -> list[str]:
    from iceberg_workshop_spark.registry import queries

    pool = sorted(
        n for n, fn in queries().items()
        if fn.__module__.removeprefix("iceberg_workshop_spark.") in ANALYTICS_MODULES
    )
    picked = pool[::ANALYTICS_STRIDE]
    return picked + [n for n in ANALYTICS_EXTRA if n not in picked]


class RegistryWorkload:
    """Registry queries executed through a noop write, as ``bench.py`` does,
    each checked against its DuckDB oracle."""

    nominal_pass_s = 5.0
    check = "duckdb-oracle"

    def __init__(self, items: list[str], data_dir: str) -> None:
        from iceberg_workshop_spark.registry import ORACLES, queries

        qs = queries()
        missing = [n for n in items if n not in qs or n not in ORACLES]
        if missing:
            raise KeyError(f"queries without a registry entry or oracle: {missing}")
        self.items = list(items)
        self.fns = {n: qs[n] for n in items}
        self.oracles = {n: ORACLES[n] for n in items}
        self.data_dir = data_dir
        self.wrong: dict[str, str] = {}

    def setup(self, run) -> None:
        from iceberg_workshop_spark.sources.tables import load

        for t in TABLES:
            load(run.spark, self.data_dir, t)

    def warm(self, run) -> None:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')")
            for name in self.items:
                try:
                    got = self.fns[name](run.spark, self.data_dir).toPandas()
                    why = mismatch(got, con.execute(self.oracles[name]).df())
                except Exception as exc:  # noqa: BLE001 — a failing item is counted, not fatal
                    why = _error(exc)
                if not run.guard_cache():
                    why = why or "CacheManager not empty after the item"
                if why:
                    self.wrong[name] = why
                run.count(not why, f"check {name}", why or "")
        finally:
            con.close()

    def run_pass(self, run, i: int) -> None:
        order = list(self.items)
        random.Random(f"{run.seed}:{i}").shuffle(order)
        for name in order:
            run.time_item(name, self._execute, name)

    def _execute(self, run, rec, name: str) -> None:
        df = run.phase(rec, "construct", self.fns[name], run.spark, self.data_dir)
        run.phase(rec, "execute", df.write.format("noop").mode("overwrite").save)
        if name in self.wrong:
            raise RuntimeError(f"wrong answer in the check pass: {self.wrong[name]}")


# --------------------------------------------------------------- lakehouse

TABLE = "db.events"
SOURCE = "stage.events_src"
INSERT_ROWS = 40
MERGE_UPDATES = 20
MERGE_INSERTS = 10
READ_KINDS = ("select_range", "select_point", "select_agg", "asof")
COLS = "event_id, ts, user_id, event_type, value, props"


def _ids(ids) -> str:
    return ", ".join(str(int(i)) for i in ids)


def _listing(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class LakehouseWorkload:
    """A seeded stream of the workshop's SQL through ``IceSqlSession.sql``
    against one long-lived merge-on-read table partitioned by ``day(ts)``,
    replayed in DuckDB to check every read."""

    nominal_pass_s = 11.0
    check = "duckdb-replay"

    def __init__(self, data_dir: str, work_dir: str, seed: int) -> None:
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.rng = random.Random(seed)
        self.tbl = None
        self.sess = None
        self.con = None
        self.timed_cycles = 0
        self.tables_made = 0
        # traced runs only: what each statement left under the table root
        self.written: dict[str, list[int]] = {}
        self.scan_fracs: list[float] = []
        self.delete_files_read: list[int] = []
        self.changed: set[int] = set()
        ev = pd.read_parquet(f"{data_dir}/events.parquet", columns=["event_id"])
        ids = sorted(int(i) for i in ev["event_id"])
        held = set(random.Random(0).sample(ids, len(ids) // 4))
        self.base_ids = [i for i in ids if i not in held]
        self.held = sorted(held)
        self.rng.shuffle(self.held)

    # -- set-up: the table the stream runs against ----------------------
    def setup(self, run) -> None:
        from iceberg_workshop_spark.icetbl import IceTable, spec_field
        from iceberg_workshop_spark.plans.sqlfront import IceSqlSession
        from iceberg_workshop_spark.sources.tables import load

        spark = run.spark
        self.tables_made += 1
        self.loc = os.path.join(self.work_dir, f"lakehouse_{self.tables_made}")
        shutil.rmtree(self.loc, ignore_errors=True)
        src = load(spark, self.data_dir, "events")
        base = src.where(f"event_id IN ({_ids(self.base_ids)})")
        self.tbl = IceTable.create_as(spark, self.loc, base, partition_spec=[spec_field("ts", "day")])
        scratch = os.path.join(self.work_dir, "sqlfront")
        os.makedirs(scratch, exist_ok=True)
        self.sess = IceSqlSession(spark, scratch=scratch)
        self.sess.register_table(TABLE, self.tbl)
        self.sess.register_view(SOURCE, src)
        self.sess.sql(f"ALTER TABLE {TABLE} SET TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")

    def warm(self, run) -> None:
        if run.trace:
            from tracing import time_commits

            time_commits(run.spans, self.tbl)
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE src AS SELECT {COLS} FROM read_parquet('{self.data_dir}/events.parquet')"
        )
        self.con.execute(f"CREATE TABLE t AS SELECT * FROM src WHERE event_id IN ({_ids(self.base_ids)})")
        self.con.execute("CREATE TABLE snap AS SELECT * FROM t")
        self.snapshot = self.tbl.meta.current_snapshot_id
        self.cycle(run, timed=False)
        self.changed.clear()

    def run_pass(self, run, i: int) -> None:
        self.cycle(run, timed=True)
        self.timed_cycles += 1

    # -- one cycle --------------------------------------------------------
    def _take_held(self, n: int) -> list[int]:
        if len(self.held) < n:
            raise RuntimeError("held-out events exhausted")
        out, self.held = self.held[:n], self.held[n:]
        return out

    def _live_ids(self, n: int, where: str = "true") -> list[int]:
        ids = [r[0] for r in self.con.execute(
            f"SELECT event_id FROM t WHERE {where} ORDER BY event_id").fetchall()]
        return self.rng.sample(ids, n) if n < len(ids) else ids

    def _live_row(self, cols: str) -> tuple:
        return self.con.execute(
            f"SELECT {cols} FROM t WHERE event_id = {self._live_ids(1)[0]}").fetchone()

    def statements(self) -> list[tuple[str, str, str | None]]:
        """(kind, Spark SQL, DuckDB replay SQL) for the next cycle."""
        r = self.rng
        ins = self._take_held(INSERT_ROWS)
        upd = self._live_ids(MERGE_UPDATES)
        new = self._take_held(MERGE_INSERTS)
        day = r.randrange(1, 29)
        lo, hi = f"2024-01-{day:02d} 00:00:00", f"2024-01-{day + 1:02d} 23:59:59"
        merge_src = (
            f"SELECT event_id, ts, user_id, event_type, value + 0.25 AS value, props "
            f"FROM {SOURCE} WHERE event_id IN ({_ids(upd)}) UNION ALL "
            f"SELECT {COLS} FROM {SOURCE} WHERE event_id IN ({_ids(new)})"
        )
        duck_src = merge_src.replace(SOURCE, "src")
        # UPDATE and DELETE target a live row's user, so each matches rows
        user, day_u = self._live_row("user_id, day(ts)")
        upd_cond = (
            f"user_id = {user} AND ts BETWEEN '2024-01-{day_u:02d} 00:00:00' "
            f"AND '2024-01-{day_u:02d} 23:59:59'"
        )
        user, etype = self._live_row("user_id, event_type")
        del_cond = f"user_id = {user} AND event_type = '{etype}'"
        point = self._live_ids(1)[0]
        self.changed.update(ins + upd + new + self._live_ids(10**9, upd_cond))
        stmts = [
            ("insert", f"INSERT INTO {TABLE} SELECT {COLS} FROM {SOURCE} WHERE event_id IN ({_ids(ins)})",
             f"INSERT INTO t SELECT * FROM src WHERE event_id IN ({_ids(ins)})"),
            ("merge",
             f"MERGE INTO {TABLE} AS tgt USING ({merge_src}) AS s ON tgt.event_id = s.event_id "
             f"WHEN MATCHED THEN UPDATE SET value = s.value "
             f"WHEN NOT MATCHED THEN INSERT VALUES "
             f"(s.event_id, s.ts, s.user_id, s.event_type, s.value, s.props)",
             f"UPDATE t SET value = s.value FROM ({duck_src}) s WHERE t.event_id = s.event_id; "
             f"INSERT INTO t SELECT * FROM ({duck_src}) s "
             f"WHERE s.event_id NOT IN (SELECT event_id FROM t)"),
            ("update", f"UPDATE {TABLE} SET value = value + 1.5 WHERE {upd_cond}",
             f"UPDATE t SET value = value + 1.5 WHERE {upd_cond}"),
            ("select_range",
             f"SELECT COUNT(*) AS n, SUM(value) AS s FROM {TABLE} WHERE ts BETWEEN '{lo}' AND '{hi}'",
             f"SELECT COUNT(*) AS n, SUM(value) AS s FROM t WHERE ts BETWEEN '{lo}' AND '{hi}'"),
            ("select_point",
             f"SELECT event_id, user_id, event_type, value FROM {TABLE} WHERE event_id = {point}",
             f"SELECT event_id, user_id, event_type, value FROM t WHERE event_id = {point}"),
            ("delete", f"DELETE FROM {TABLE} WHERE {del_cond}",
             f"DELETE FROM t WHERE {del_cond}"),
            ("select_agg",
             f"SELECT event_type, COUNT(*) AS n, SUM(value) AS s FROM {TABLE} GROUP BY event_type",
             "SELECT event_type, COUNT(*) AS n, SUM(value) AS s FROM t GROUP BY event_type"),
            ("asof",
             f"SELECT COUNT(*) AS n, SUM(value) AS s FROM {TABLE} "
             f"FOR SYSTEM_VERSION AS OF '{self.snapshot}'",
             "SELECT COUNT(*) AS n, SUM(value) AS s FROM snap"),
        ]
        stmts += [
            ("rewrite", f"CALL system.rewrite_data_files('{TABLE}')", None),
            ("rewrite_deletes", f"CALL system.rewrite_position_delete_files('{TABLE}')", None),
            ("expire",
             f"CALL system.expire_snapshots(table => '{TABLE}', "
             f"older_than => {int(time.time() * 1000)}, retain_last => 1)", None),
        ]
        return stmts

    def cycle(self, run, timed: bool) -> None:
        for kind, sql, duck in self.statements():
            before = _listing(self.loc) if run.trace and timed else None
            report = self.tbl.last_scan_report
            rec, why = None, None
            if timed:
                rec = run.time_item(kind, self._execute, kind, sql)
                got, ok = rec.pop("rows", None), not rec["failed"]
            else:
                try:
                    got, ok = self._execute(run, None, kind, sql), True
                except Exception as exc:  # noqa: BLE001 — a failing statement is counted, not fatal
                    got, ok, why = None, False, _error(exc)
            if before is not None:
                self._trace_statement(run, rec, kind, before, report)
            if duck is not None and kind not in READ_KINDS:
                self.con.execute(duck)
            elif duck is not None and ok:
                why = mismatch(got, self.con.execute(duck).df())
            if not timed:
                run.count(not why, f"warm {kind}", why or "")
            elif why:
                rec["failed"] = True
                run.failed += 1
                run.errors.append(f"{kind}: {why}")
        self.snapshot = self.tbl.meta.current_snapshot_id
        self.con.execute("CREATE OR REPLACE TABLE snap AS SELECT * FROM t")

    def _execute(self, run, rec, kind: str, sql: str):
        if rec is None:
            res = self.sess.sql(sql)
            return res.toPandas() if kind in READ_KINDS else None
        res = run.phase(rec, "sql", self.sess.sql, sql)
        if kind in READ_KINDS:
            rec["rows"] = run.phase(rec, "execute", res.toPandas)
        return None

    # -- traced runs: what the table layer did -----------------------------
    def _trace_statement(self, run, rec, kind, before, report) -> None:
        after = _listing(self.loc)
        new = {p: s for p, s in after.items() if p not in before}
        data = [s for p, s in new.items() if f"{os.sep}data{os.sep}" in p]
        w = self.written.setdefault(kind, [0, 0, 0, 0])
        w[0] += len(data)
        w[1] += sum(data)
        w[2] += sum(new.values()) - sum(data)
        w[3] += 1
        if kind not in READ_KINDS:
            return
        rep = self.tbl.last_scan_report
        if rep is not None and rep is not report and rep.get("files_total"):
            self.scan_fracs.append(rep["files_scanned"] / rep["files_total"])
        if any(s.name == "read" for s in run.spans.of("icetbl", rec["idx"])):
            meta = self.tbl.meta
            sid = self.snapshot if kind == "asof" else meta.current_snapshot_id
            self.delete_files_read.append(len(meta.delete_entries(meta.snapshot(sid))))

    def table_state(self, run) -> dict:
        """End-of-run sizes for write and space amplification."""
        from iceberg_workshop_spark.icetbl import IceTable, spec_field

        spark = run.spark
        meta = self.tbl.meta
        live = self.tbl.read()
        changed = live.where(f"event_id IN ({_ids(sorted(self.changed))})") if self.changed else None
        plain = os.path.join(self.work_dir, "plain_changed")
        copy = os.path.join(self.work_dir, "fresh_copy")
        shutil.rmtree(plain, ignore_errors=True)
        shutil.rmtree(copy, ignore_errors=True)
        if changed is not None:
            changed.coalesce(1).write.parquet(plain)
        IceTable.create_as(spark, copy, live, partition_spec=[spec_field("ts", "day")])
        return {
            "live_files": len(meta.current_files()),
            "snapshots": len(meta.snapshots),
            "table_bytes": sum(_listing(self.loc).values()),
            "fresh_copy_bytes": sum(_listing(copy).values()),
            "changed_plain_bytes": sum(_listing(plain).values()) if changed is not None else 0,
        }

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
