"""The shared merge-on-read read core (icetbl/morread.py): path
canonicalization, and both dialects agreeing on one table's rows."""

from __future__ import annotations

import pytest

from iceberg_workshop_spark.icetbl import IceTable, Pred
from iceberg_workshop_spark.icetbl.iceformat import (
    export_iceberg,
    read_iceberg,
    read_iceberg_changelog,
    scan_iceberg,
)
from iceberg_workshop_spark.icetbl.morread import canon_path, canon_path_col


@pytest.mark.parametrize(
    "uri, path",
    [
        ("file:/t/sp%20ace/f.parquet", "/t/sp ace/f.parquet"),
        ("file:///t/pct%2541/f.parquet", "/t/pct%41/f.parquet"),
        ("file:/t/plus+/f.parquet", "/t/plus+/f.parquet"),
        ("/t/plain/f.parquet", "/t/plain/f.parquet"),
    ],
)
def test_canon_path_forms_agree(spark, uri, path):
    """Python and Column forms strip the scheme and percent-decode; a
    literal + stays + (form decoding would turn it into a space)."""
    from pyspark.sql import functions as F

    assert canon_path(uri) == path
    got = spark.range(1).select(canon_path_col(F.lit(uri)).alias("p")).first()
    assert got["p"] == path


@pytest.mark.parametrize("kind", ["pos", "eq"])
@pytest.mark.parametrize("loc", ["sp ace", "pct%41", "plus+"])
def test_dialects_agree_under_special_locations(spark, tmp_path, loc, kind):
    """A table under a location Spark percent-encodes in
    ``_metadata.file_path`` reads the same rows natively and as real
    Iceberg: full read, pruned scan and changelog. ``plus+`` guards
    against a form-decoding (url_decode) canonicalizer."""
    t = IceTable.create_as(
        spark, str(tmp_path / loc / "t"),
        spark.range(100).selectExpr("id", "id % 7 AS g"),
    )
    base = t.meta.current_snapshot_id
    if kind == "pos":
        t.delete_where_pos("id % 7 = 0")
    else:
        t.delete_where_mor("id % 7 = 0", ["id"])
    want = sorted(r.id for r in t.read().collect())
    assert len(want) == 85
    dest = str(tmp_path / loc / "ice")
    export_iceberg(t, dest, history=True)

    assert sorted(r.id for r in read_iceberg(spark, dest).collect()) == want
    df, _report = scan_iceberg(spark, dest, [Pred("id", "<", 50)])
    assert sorted(r.id for r in df.collect()) == [i for i in want if i < 50]
    native = {(r.id, r._change_type) for r in t.changelog(base).collect()}
    foreign = {
        (r.id, r._change_type)
        for r in read_iceberg_changelog(spark, dest, base).collect()
    }
    assert native == foreign == {(i, "delete") for i in range(0, 100, 7)}


def test_read_plan_builds_path_lookups_in_constant_calls(spark, tmp_path, monkeypatch):
    """Planning a read over data files of three sequence numbers under
    positional and equality delete files of two sequence numbers, some
    older than a file they can hit (so every path → seq lookup is
    built), makes as many ``F.lit``/``F.create_map`` calls for 500 data
    and 100 delete files as for 50 and 10."""
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from iceberg_workshop_spark.icetbl import morread
    from iceberg_workshop_spark.icetbl.morread import DeleteFile, read_with_deletes

    def delete_files(n: int) -> list[DeleteFile]:
        dels = []
        for i in range(n):
            pos = str(tmp_path / f"pos{n}-{i}.parquet")
            pq.write_table(pa.table({"file_path": ["file:/x/f0.parquet"], "pos": [i]}), pos)
            eq = str(tmp_path / f"eq{n}-{i}.parquet")
            pq.write_table(pa.table({"k": [i]}), eq)
            targets = frozenset({"/x/f0.parquet", "/x/f1.parquet", "/x/f2.parquet"})
            dels.append(DeleteFile(eq, 2 + i % 2, keys=(("k", "k"),)))
            dels.append(DeleteFile(pos, 2 + i % 2, targets=targets))
        return dels

    def opener(fs, with_pos):
        df = spark.range(0).selectExpr("id AS k")
        return df.selectExpr("k", "'file:/x/f0.parquet' AS __path", "k AS __pos") if with_pos else df

    def calls(n: int) -> Counter:
        files = [{"path": f"/x/f{i}.parquet", "seq": 1 + i % 3} for i in range(n)]
        dels = delete_files(n // 10)
        counts: Counter = Counter()
        for mod, name in ((F, "lit"), (F, "create_map"), (morread, "_path_lookup")):
            fn = getattr(mod, name)

            def counted(*a, _fn=fn, _name=name, **kw):
                counts[_name] += 1
                return _fn(*a, **kw)

            monkeypatch.setattr(mod, name, counted)
        try:
            df = read_with_deletes(spark, files, dels, opener, {"k": LongType()})
        finally:
            monkeypatch.undo()
        assert df.columns == ["k"]
        return counts

    small, large = calls(50), calls(500)
    assert small == large
    # one data-file lookup, and one per delete kind for its own files
    assert large["_path_lookup"] == 3
    assert large["lit"] < 50
