"""The write side and the planner agree on every partition transform
(icetbl/transforms.py).

Values drawn by hypothesis are written through
``transforms.write_partitioned`` in one Spark job, under a spec that
holds every transform at once. Each data file's recorded partition
string must equal the planner's Python value for every row in it
(``transform_value``, or ``bucket_value`` for a bucket), and must
survive Iceberg's typed encoding unchanged
(``decode(encode(s)) == s``)."""

from __future__ import annotations

import uuid
from datetime import date, datetime

import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from iceberg_workshop_spark.icetbl import transforms
from iceberg_workshop_spark.icetbl.bucketing import bucket_value

# (field name, source column, transform, Iceberg source type); the
# bracketed names are percent-escaped by Spark in the directory key
SPEC = [
    ("i", "i", "identity", "int"),
    ("s", "s", "identity", "string"),
    ("d", "d", "identity", "date"),
    ("b", "b", "identity", "boolean"),
    ("ts_year", "ts", "year", "timestamptz"),
    ("ts_month", "ts", "month", "timestamptz"),
    ("ts_day", "ts", "day", "timestamptz"),
    ("ts_hour", "ts", "hour", "timestamptz"),
    ("l_truncate[10]", "l", "truncate[10]", "long"),
    ("s_truncate[3]", "s", "truncate[3]", "string"),
    ("l_bucket[8]", "l", "bucket[8]", "long"),
]

_rows = st.lists(
    st.tuples(
        st.integers(min_value=-(2**31), max_value=2**31 - 1),
        st.text(
            alphabet=st.sampled_from("abcXYZ019 %=/[]:#?'*{^-_.é"),
            min_size=1,
            max_size=8,
        ),
        st.dates(min_value=date(1900, 1, 1), max_value=date(2200, 1, 1)),
        st.booleans(),
        st.datetimes(min_value=datetime(1960, 1, 1), max_value=datetime(2100, 1, 1)),
        st.integers(min_value=-(2**62), max_value=2**62),
    ),
    min_size=1,
    max_size=30,
)


def _planner_value(transform: str, v):
    if transforms.is_bucket(transform):
        return str(bucket_value(v, transforms.width(transform)))
    return str(transforms.transform_value(transform, v))


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rows)
def test_write_side_and_planner_agree(spark, tmp_path, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(n, i, s, d.isoformat(), b, ts.isoformat(" "), lv)
         for n, (i, s, d, b, ts, lv) in enumerate(rows)],
        "id long, i int, s string, d string, b boolean, ts string, l long",
    ).select(
        "id", "i", "s", F.col("d").cast("date").alias("d"), "b",
        F.col("ts").cast("timestamp").alias("ts"), "l",
    )
    spec = [{"name": n, "source": c, "transform": t} for n, c, t, _ in SPEC]
    types = {f.name: f.dataType for f in df.schema.fields}
    written = transforms.write_partitioned(
        df, str(tmp_path / uuid.uuid4().hex), spec, types
    )

    seen = set()
    for path, partition, n, _bounds in written:
        ids = pq.read_table(path, columns=["id"]).column("id").to_pylist()
        assert len(ids) == n and set(partition) == {f[0] for f in SPEC}
        seen.update(ids)
        for name, col, t, ice_type in SPEC:
            got = partition[name]
            for k in ids:
                v = rows[k][["i", "s", "d", "b", "ts", "l"].index(col)]
                assert got == _planner_value(t, v), (name, v)
            codec = transforms.codec(t, ice_type)
            assert codec.decode(codec.encode(got)) == got, (name, got)
    assert seen == set(range(len(rows)))
