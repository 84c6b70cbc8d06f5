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
