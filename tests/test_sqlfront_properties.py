"""Property tests for the IceSqlSession grammar (VERDICT r2 #5).

Three invariant families, each over generated statements:

1. Fall-through fidelity — statements no handler claims (nested
   subqueries, CTEs, quoted identifiers, string literals containing
   statement keywords; the front end dispatches on the root node of
   Spark's parse) answer exactly like plain ``spark.sql`` over the
   same rows.
2. Dispatch coverage — every workshop statement shape routes to its
   handler (state visibly changes), never to the fallthrough.
3. Pruned-WHERE exactness — for randomized WHERE clauses drawn from a
   grammar of comparisons/BETWEEN/IN/AND/OR/NOT/parens/functions, the
   front-end SELECT (which may bind a pruned scan) returns exactly
   the rows a full scan + filter returns: pruning may never change
   answers, whatever the parser extracted.
"""

from __future__ import annotations

import random

import pytest

from iceberg_workshop_spark.icetbl import IceTable
from iceberg_workshop_spark.plans.sqlfront import IceSqlSession

ROWS = [
    (i, name, f"2022-01-0{1 + i % 4}")
    for i, name in enumerate(
        ["alpha", "beta", "gamma", "delta", "x WHERE y", "OR", "select",
         "merge into t", "null-ish", "omega", "kappa", "zeta"]
    )
]


@pytest.fixture(scope="module")
def psess(spark):
    s = IceSqlSession(spark)
    s.sql(
        """CREATE TABLE pdb.t (id BIGINT, name STRING)
        PARTITIONED BY (d DATE) STORED BY ICEBERG STORED AS PARQUET"""
    )
    for batch_start in range(0, len(ROWS), 4):
        vals = ", ".join(
            f"({i}, '{n}', '{d}')" for i, n, d in ROWS[batch_start : batch_start + 4]
        )
        s.sql(f"INSERT INTO pdb.t VALUES {vals}")
    # ground truth: the same rows as a plain temp view
    spark.createDataFrame(ROWS, "id bigint, name string, d string").selectExpr(
        "id", "name", "CAST(d AS DATE) AS d"
    ).createOrReplaceTempView("truth_t")
    return s


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------- family 1
FALLTHROUGH_STATEMENTS = [
    # nested subquery
    "SELECT * FROM (SELECT id, name FROM pdb.t WHERE id > 3) sub WHERE id < 9",
    # CTE
    "WITH c AS (SELECT id FROM pdb.t WHERE id >= 6) SELECT COUNT(*) AS n FROM c",
    # string literal containing WHERE / OR
    "SELECT id FROM pdb.t WHERE name = 'x WHERE y'",
    "SELECT id FROM pdb.t WHERE name = 'OR'",
    # backtick-quoted identifier alias
    "SELECT id AS `weird name` FROM pdb.t WHERE id = 1",
    # scalar subquery in WHERE
    "SELECT id FROM pdb.t WHERE id = (SELECT MIN(id) FROM pdb.t)",
    # join of the table with itself
    "SELECT a.id FROM pdb.t a JOIN pdb.t b ON a.id = b.id WHERE a.id < 2",
    # set operation
    "SELECT id FROM pdb.t WHERE id < 2 UNION ALL SELECT id FROM pdb.t WHERE id > 9",
    # aggregate + HAVING
    "SELECT d, COUNT(*) AS n FROM pdb.t GROUP BY d HAVING COUNT(*) > 2",
]


@pytest.mark.parametrize("stmt", FALLTHROUGH_STATEMENTS)
def test_fallthrough_statements_answer_like_plain_sql(psess, spark, stmt):
    got = psess.sql(stmt)
    want = spark.sql(stmt.replace("pdb.t", "truth_t"))
    assert _rows(got) == _rows(want), stmt


def test_keyword_in_literal_is_not_a_statement(psess):
    # A string literal containing a statement keyword must survive the
    # table-name rewrite verbatim (it's data, not a reference).
    got = psess.sql(
        "SELECT 'DELETE FROM pdb.t' AS s, COUNT(*) AS n FROM pdb.t"
    ).collect()
    assert [(r.s, r.n) for r in got] == [("DELETE FROM pdb.t", len(ROWS))]


# ---------------------------------------------------------- family 2
def test_every_workshop_shape_dispatches(spark, tmp_path):
    """One statement per workshop shape; each must hit its handler —
    observable via state change or a handler-specific result shape."""
    s = IceSqlSession(spark)
    s.sql("CREATE DATABASE wdb")
    assert "wdb" in s.databases
    s.sql("CREATE TABLE wdb.a (id INT, v STRING) STORED BY ICEBERG STORED AS PARQUET")
    assert "wdb.a" in s.tables  # CREATE dispatched, not fallthrough
    s.sql("INSERT INTO wdb.a VALUES (1, 'x'), (2, 'y')")
    assert s.tables["wdb.a"].read().count() == 2
    s.sql("UPDATE wdb.a SET v = 'z' WHERE id = 2")
    assert {r.v for r in s.tables["wdb.a"].read().collect()} == {"x", "z"}
    s.sql("DELETE FROM wdb.a WHERE id = 1")
    assert s.tables["wdb.a"].read().count() == 1
    spark.createDataFrame([(2, "m"), (3, "n")], "id int, v string").createOrReplaceTempView(
        "wsrc"
    )
    s.sql(
        "MERGE INTO wdb.a AS t USING (SELECT * FROM wsrc) AS src ON id = src.id "
        "WHEN MATCHED THEN UPDATE SET v = src.v "
        "WHEN NOT MATCHED THEN INSERT VALUES (src.id, src.v)"
    )
    assert {(r.id, r.v) for r in s.tables["wdb.a"].read().collect()} == {(2, "m"), (3, "n")}
    # snapshots[0] is the first INSERT (2 rows) — time travel sees it
    v0 = s.tables["wdb.a"].meta.snapshots[0]["snapshot_id"]
    tt = s.sql(f"SELECT * FROM wdb.a FOR SYSTEM_VERSION AS OF '{v0}'")
    assert {(r.id, r.v) for r in tt.collect()} == {(1, "x"), (2, "y")}
    s.sql("ALTER TABLE wdb.a SET TBLPROPERTIES ('k' = 'v')")
    assert s.tables["wdb.a"].meta.properties["k"] == "v"
    assert s.sql("SHOW PARTITIONS wdb.a").count() >= 1
    s.sql("TRUNCATE TABLE wdb.a")
    assert s.tables["wdb.a"].read().count() == 0
    s.sql("CALL system.rewrite_data_files('wdb.a')")
    s.sql("ALTER TABLE wdb.a EXECUTE expire_snapshots('2099-01-01 00:00:00')")
    assert s.sql("SELECT * FROM wdb.a.history").count() >= 1
    # CALL procedure family: each form must dispatch, not fall through
    s.sql("INSERT INTO wdb.a VALUES (9, 'q')")
    sid = s.tables["wdb.a"].meta.current_snapshot_id
    s.sql("INSERT INTO wdb.a VALUES (10, 'r')")
    s.sql(f"CALL cat.system.rollback_to_snapshot('wdb.a', {sid})")
    assert s.tables["wdb.a"].read().count() == 1
    head = s.tables["wdb.a"].meta.snapshots[-1]["snapshot_id"]
    s.sql(
        f"CALL cat.system.cherrypick_snapshot(table => 'wdb.a', snapshot_id => {head})"
    )
    assert s.tables["wdb.a"].read().count() == 2
    out = s.sql(
        "CALL cat.system.create_changelog_view(table => 'wdb.a', "
        "changelog_view => 'a_changes', "
        f"options => map('start-snapshot-id', '{sid}'))"
    ).collect()
    assert out[0]["changelog_view"] == "a_changes"
    assert s.sql(
        "SELECT COUNT(*) AS n FROM a_changes WHERE _change_type = 'insert'"
    ).collect()[0]["n"] == 1
    s.sql("DROP TABLE wdb.a")
    assert "wdb.a" not in s.tables
    s.sql("DROP DATABASE wdb")
    assert "wdb" not in s.databases


# ---------------------------------------------------------- family 3
_COLS = [("id", [str(i) for i in range(-1, 13)]),
         ("name", ["'alpha'", "'x WHERE y'", "'OR'", "'zzz'"]),
         ("d", ["'2022-01-01'", "'2022-01-02'", "'2022-01-03'", "'2022-01-05'"])]


def _leaf(rng: random.Random) -> str:
    col, lits = rng.choice(_COLS)
    kind = rng.random()
    if kind < 0.5:
        op = rng.choice(["=", "<", "<=", ">", ">="])
        return f"{col} {op} {rng.choice(lits)}"
    if kind < 0.7:
        a, b = rng.choice(lits), rng.choice(lits)
        return f"{col} BETWEEN {min(a, b)} AND {max(a, b)}"
    if kind < 0.85:
        items = ", ".join(rng.sample(lits, k=min(2, len(lits))))
        return f"{col} IN ({items})"
    # a function leaf the pruner must treat as un-analyzable
    return f"length(name) > {rng.randint(1, 8)}"


def _expr(rng: random.Random, depth: int) -> str:
    if depth <= 0 or rng.random() < 0.35:
        return _leaf(rng)
    a, b = _expr(rng, depth - 1), _expr(rng, depth - 1)
    op = rng.choice(["AND", "OR"])
    e = f"{a} {op} {b}"
    if rng.random() < 0.3:
        e = f"({e})"
    if rng.random() < 0.15:
        e = f"NOT ({e})"
    return e


def test_randomized_where_pruned_equals_unpruned(psess, spark):
    rng = random.Random(20260814)
    for trial in range(60):
        cond = _expr(rng, depth=2)
        stmt = f"SELECT id, name, d FROM pdb.t WHERE {cond}"
        got = psess.sql(stmt)
        want = spark.sql(f"SELECT id, name, d FROM truth_t WHERE {cond}")
        assert _rows(got) == _rows(want), f"misparse for WHERE {cond}"
