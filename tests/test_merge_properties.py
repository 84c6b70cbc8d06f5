"""Property test for the front-end MERGE reduction: random
target/source overlaps and random clause subsets (conditional MATCHED
UPDATE/DELETE, NOT MATCHED INSERT, NOT MATCHED BY SOURCE
UPDATE/DELETE) must match a row-by-row Python model — catches clause
precedence and effect-set mistakes the scripted oracle can't."""

from __future__ import annotations

import random

import pytest

from iceberg_workshop_spark.icetbl import IceTable
from iceberg_workshop_spark.plans.sqlfront import IceSqlSession


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_merge_matches_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    n = 60
    rows = [
        (k, rng.choice("OFP"), rng.randint(1, 100))
        for k in range(n)
    ]
    tgt_rows = [r for r in rows if r[0] % 2 == 0]
    src_keys = {k for k in range(n) if rng.random() < 0.5}
    src_rows = [(k, rng.randint(1, 100)) for k in sorted(src_keys)]

    tbl = IceTable.create_as(
        spark,
        str(tmp_path / f"merge{seed}"),
        spark.createDataFrame(tgt_rows, "k bigint, st string, p bigint"),
    )
    sess = IceSqlSession(spark)
    sess.register_table("db.t", tbl)
    sess.register_view(
        "db.s", spark.createDataFrame(src_rows, "k bigint, sp bigint")
    )

    # Random clause set (always at least one).
    del_st = rng.choice("OFP")
    cut1 = rng.randint(1, 100)
    cut2 = rng.randint(1, 100)
    use = {
        "m_del": rng.random() < 0.7,
        "m_upd": rng.random() < 0.7,
        "ins": rng.random() < 0.7,
        "n_upd": rng.random() < 0.7,
        "n_del": rng.random() < 0.7,
    }
    if not any(use.values()):
        use["m_upd"] = True
    clauses = []
    if use["m_del"]:
        clauses.append(f"WHEN MATCHED AND st = '{del_st}' THEN DELETE")
    if use["m_upd"]:
        clauses.append("WHEN MATCHED THEN UPDATE SET st = 'M'")
    if use["ins"]:
        clauses.append("WHEN NOT MATCHED THEN INSERT VALUES (source.k, 'I', source.sp)")
    if use["n_upd"]:
        clauses.append(
            f"WHEN NOT MATCHED BY SOURCE AND p < {cut1} THEN UPDATE SET st = 'X'"
        )
    if use["n_del"]:
        clauses.append(
            f"WHEN NOT MATCHED BY SOURCE AND p >= {cut2} THEN DELETE"
        )
    sess.sql(
        "MERGE INTO db.t AS target USING db.s AS source ON k = source.k\n"
        + "\n".join(clauses)
    )

    # Python model, same first-applicable-wins semantics.
    expected = {}
    src_by_k = dict(src_rows)
    tgt_keys = {r[0] for r in tgt_rows}
    for k, st, p in tgt_rows:
        if k in src_by_k:
            if use["m_del"] and st == del_st:
                continue
            if use["m_upd"]:
                expected[k] = ("M", p)
            else:
                expected[k] = (st, p)
        else:
            if use["n_upd"] and p < cut1:
                expected[k] = ("X", p)
            elif use["n_del"] and p >= cut2:
                continue
            else:
                expected[k] = (st, p)
    if use["ins"]:
        for k, sp in src_rows:
            if k not in tgt_keys:
                expected[k] = ("I", sp)

    got = {
        r["k"]: (r["st"], r["p"]) for r in tbl.read().collect()
    }
    assert got == expected, (
        f"seed={seed} clauses={use} del_st={del_st} cut1={cut1} cut2={cut2}"
    )


@pytest.mark.parametrize(
    "seed,mode",
    [(s, m) for s in (0, 1) for m in ("copy-on-write", "merge-on-read")],
)
def test_merge_over_affected_subset_matches_model(spark, tmp_path, seed, mode):
    """A target of many files, most holding no source key, with a
    merge-on-read delete outstanding: the MERGE reads only the files
    that hold a source key. One source key matches only a deleted row;
    that row is inserted, not updated."""
    rng = random.Random(100 + seed)
    n, n_files = 200, 10
    tgt_rows = [(k, rng.choice("OFP"), rng.randint(1, 100)) for k in range(n)]
    tbl = IceTable.create_as(
        spark,
        str(tmp_path / f"subset{seed}"),
        spark.createDataFrame(tgt_rows, "k bigint, st string, p bigint")
        .repartitionByRange(n_files, "k"),
    )
    assert len(tbl.meta.current_files()) == n_files
    # keys 0-59 and 140-199 lie in files no source key reaches
    gone = rng.randrange(60, 140)
    tbl.delete_where_pos(f"k = {gone}")
    live = {k: (st, p) for k, st, p in tgt_rows if k != gone}

    src_keys = sorted(
        {k for k in range(60, 140) if rng.random() < 0.3} | {gone}
        | {n + i for i in range(5)}
    )
    src_rows = [(k, rng.randint(101, 200)) for k in src_keys]
    sess = IceSqlSession(spark)
    sess.register_table("db.t", tbl)
    sess.register_view("db.s", spark.createDataFrame(src_rows, "k bigint, sp bigint"))
    sess.sql(f"ALTER TABLE db.t SET TBLPROPERTIES ('write.merge.mode' = '{mode}')")

    holding = {
        r["__fp"]
        for r in tbl._read_files(tbl.meta.current_files(), with_fp=True)
        .filter(f"k IN ({', '.join(map(str, src_keys))})")
        .select("__fp")
        .distinct()
        .collect()
    }
    assert 0 < len(holding) < n_files
    before = {f["path"] for f in tbl.meta.current_files()}
    dels_before = {d["path"] for d in tbl.meta.current_deletes()}

    del_st = rng.choice("OFP")
    sess.sql(
        "MERGE INTO db.t AS target USING db.s AS source ON target.k = source.k\n"
        f"WHEN MATCHED AND st = '{del_st}' THEN DELETE\n"
        "WHEN MATCHED THEN UPDATE SET st = 'M', p = source.sp\n"
        "WHEN NOT MATCHED THEN INSERT VALUES (source.k, 'I', source.sp)"
    )

    expected = dict(live)
    for k, sp in src_rows:
        if k not in live:
            expected[k] = ("I", sp)
        elif live[k][0] == del_st:
            del expected[k]
        else:
            expected[k] = ("M", sp)
    got = {r["k"]: (r["st"], r["p"]) for r in tbl.read().collect()}
    assert got == expected, f"seed={seed} mode={mode} del_st={del_st}"
    assert got[gone][0] == "I"

    from iceberg_workshop_spark.icetbl.morread import canon_path

    holding = {canon_path(p) for p in holding}
    rewritten = before - {f["path"] for f in tbl.meta.current_files()}
    assert rewritten <= holding
    if mode == "merge-on-read":
        assert not rewritten
        added = [d for d in tbl.meta.current_deletes() if d["path"] not in dels_before]
        assert len(added) == 1 and set(added[0]["target_paths"]) <= holding


def _many_files(spark, tmp_path, name, n=200, n_files=10):
    """A (k, st, p) target of n keys in n_files files, p = k."""
    tbl = IceTable.create_as(
        spark,
        str(tmp_path / name),
        spark.createDataFrame(
            [(k, "O", k) for k in range(n)], "k bigint, st string, p bigint"
        ).repartitionByRange(n_files, "k"),
    )
    assert len(tbl.meta.current_files()) == n_files
    sess = IceSqlSession(spark)
    sess.register_table("db.t", tbl)
    return tbl, sess


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_merge_clause_subquery_reads_the_whole_target(spark, tmp_path, mode):
    """A subquery in a WHEN clause that reads the target alias sees the
    whole table, not only the files holding a source key."""
    tbl, sess = _many_files(spark, tmp_path, "sub")
    tbl.delete_where_pos("k = 0")
    sess.register_view(
        "db.s", spark.createDataFrame([(95, 1), (96, 2), (500, 3)], "k bigint, sp bigint")
    )
    sess.sql(f"ALTER TABLE db.t SET TBLPROPERTIES ('write.merge.mode' = '{mode}')")
    sess.sql(
        "MERGE INTO db.t AS tgt USING db.s AS s ON tgt.k = s.k\n"
        "WHEN MATCHED AND tgt.p < (SELECT max(p) FROM tgt) THEN\n"
        "  UPDATE SET st = 'M', p = (SELECT max(p) FROM tgt)\n"
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, 'I', (SELECT count(*) FROM tgt))"
    )
    expected = {k: ("O", k) for k in range(1, 200)}
    expected.update({95: ("M", 199), 96: ("M", 199), 500: ("I", 199)})
    assert {r["k"]: (r["st"], r["p"]) for r in tbl.read().collect()} == expected


def test_merge_key_matching_only_a_deleted_row_rewrites_its_file(spark, tmp_path):
    """Discovery reads the raw files with the raw source's keys, so a
    matched-only MERGE whose one source key matches only a deleted row
    still rewrites that row's file under copy-on-write; the row stays
    deleted and every other row keeps its value."""
    tbl, sess = _many_files(spark, tmp_path, "gone")
    tbl.delete_where_pos("k = 97")
    holding = {
        r["__fp"]
        for r in tbl._read_files(tbl.meta.current_files(), with_fp=True)
        .filter("k = 97")
        .select("__fp")
        .collect()
    }
    before = {f["path"] for f in tbl.meta.current_files()}
    sess.register_view("db.s", spark.createDataFrame([(97, 1)], "k bigint, sp bigint"))
    sess.sql(
        "MERGE INTO db.t AS tgt USING db.s AS s ON tgt.k = s.k\n"
        "WHEN MATCHED THEN UPDATE SET p = s.sp"
    )

    from iceberg_workshop_spark.icetbl.morread import canon_path

    rewritten = before - {f["path"] for f in tbl.meta.current_files()}
    assert rewritten == {canon_path(p) for p in holding}
    assert {r["k"]: r["p"] for r in tbl.read().collect()} == {
        k: k for k in range(200) if k != 97
    }


@pytest.mark.parametrize(
    "update_set,passed",
    [
        ("k = s.k, p = s.sp", True),
        ("p = s.sp, k = `s`.`k`", True),
        ("k = s.k + 1000, p = s.sp", False),
    ],
)
def test_merge_passes_discovered_files_only_when_keys_are_kept(
    spark, tmp_path, monkeypatch, update_set, passed
):
    """The front end hands its discovered files to the writer only
    while every effect row keeps its source row's ON key."""
    tbl, sess = _many_files(spark, tmp_path, "keys")
    sess.register_view("db.s", spark.createDataFrame([(5, 1), (900, 2)], "k bigint, sp bigint"))
    seen = []
    merge_into = IceTable.merge_into

    def spy(self, source, on, isolation="strict", affected=None):
        seen.append(affected)
        return merge_into(self, source, on, isolation=isolation, affected=affected)

    monkeypatch.setattr(IceTable, "merge_into", spy)
    sess.sql(
        "MERGE INTO db.t AS tgt USING db.s AS s ON tgt.k = s.k\n"
        f"WHEN MATCHED THEN UPDATE SET {update_set}\n"
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, 'I', s.sp)"
    )
    assert len(seen) == 1 and (seen[0] is not None) == passed
    assert len(seen[0] or []) == (1 if passed else 0)
