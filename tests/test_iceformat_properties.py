"""Property tests for the byte-format boundary's partition-value
translation (icetbl/iceformat.py).

Pruning soundness across export→import rests on a convention parity:
the dir-string partition values the WRITE path records (mirrored by
``transforms.transform_value``, which the planner compares against) must
survive export's typed encoding and import's decoding UNCHANGED —
``decode(encode(dir)) == dir`` for every transform and value. A drift
in either direction silently mis-prunes adopted foreign tables, so
the round trip is pinned here property-style, Spark-free (the
encoders/decoders are pure functions over metadata).

The last test drives Spark: it pins the one metadata writer by
checking that every manifest-list row, snapshot summary and
metadata-log entry agrees with the manifests after export and after
each foreign commit."""

from __future__ import annotations

from datetime import date, datetime

from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_workshop_spark.icetbl import meta as M
from iceberg_workshop_spark.icetbl.bucketing import bucket_value
from iceberg_workshop_spark.icetbl.iceformat import (
    _export_partitioning,
    _import_one_spec,
)
from iceberg_workshop_spark.icetbl.transforms import transform_value

_ICE_TYPE = {
    "int": "int", "long": "long", "bigint": "long",
    "string": "string", "date": "date", "timestamp": "timestamptz",
}


def _roundtrip(transform: str, src_type: str, dir_value: str | None) -> str:
    """dir string → export's typed encoding → import's decoding."""
    spec = [{"source": "c", "transform": transform, "name": "p"}]
    meta = M.TableMeta.empty("/tmp/_prop", f"c {src_type}", spec)
    meta.properties["write.bucket.hash"] = "iceberg-murmur3"
    by_name = {"c": {"id": 1, "name": "c", "type": _ICE_TYPE.get(src_type, src_type)}}
    sj, _af, enc = _export_partitioning(meta, by_name, 0, {})
    part = enc(
        {"partition": {"p": dir_value if dir_value is not None else "__HIVE_DEFAULT_PARTITION__"}}
    )
    doc = {
        "current-schema-id": 0,
        "schemas": [{
            "schema-id": 0,
            "fields": [{"id": 1, "name": "c", "type": _ICE_TYPE.get(src_type, src_type)}],
        }],
    }
    carried = _import_one_spec(doc, sj)
    assert carried is not None
    _spec_fields, dec = carried
    decoded = dec({"partition": part})
    # export sanitizes the spec NAME; single-field specs keep "p"
    return decoded["p"]


@settings(max_examples=200, deadline=None)
@given(
    transform=st.sampled_from(["year", "month", "day", "hour"]),
    ts=st.datetimes(
        min_value=datetime(1960, 1, 1), max_value=datetime(2100, 1, 1)
    ),
)
def test_temporal_dir_roundtrip(transform, ts):
    d = transform_value(transform, ts)
    assert _roundtrip(transform, "timestamp", d) == d


@settings(max_examples=100, deadline=None)
@given(
    v=st.dates(min_value=date(1900, 1, 1), max_value=date(2200, 1, 1)),
)
def test_identity_date_dir_roundtrip(v):
    d = v.isoformat()
    assert _roundtrip("identity", "date", d) == d


@settings(max_examples=100, deadline=None)
@given(v=st.integers(min_value=-(2**62), max_value=2**62))
def test_identity_long_dir_roundtrip(v):
    assert _roundtrip("identity", "bigint", str(v)) == str(v)


@settings(max_examples=100, deadline=None)
@given(
    v=st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x2FF
        ),
        min_size=1,
        max_size=20,
    ),
)
def test_identity_string_dir_roundtrip(v):
    assert _roundtrip("identity", "string", v) == v


@settings(max_examples=100, deadline=None)
@given(
    v=st.integers(min_value=-(2**62), max_value=2**62),
    w=st.integers(min_value=1, max_value=1000),
)
def test_truncate_long_dir_roundtrip(v, w):
    d = str(transform_value(f"truncate[{w}]", v))
    assert _roundtrip(f"truncate[{w}]", "bigint", d) == d


@settings(max_examples=100, deadline=None)
@given(
    v=st.integers(min_value=-(2**62), max_value=2**62),
    n=st.integers(min_value=1, max_value=4096),
)
def test_bucket_dir_roundtrip(v, n):
    d = str(bucket_value(v, n))
    assert _roundtrip(f"bucket[{n}]", "bigint", d) == d


@settings(max_examples=30, deadline=None)
@given(
    transform=st.sampled_from(
        ["identity", "year", "month", "day", "bucket[8]", "truncate[10]"]
    ),
)
def test_null_partition_roundtrip(transform):
    src = "date" if transform in ("year", "month", "day") else "bigint"
    if transform == "identity":
        src = "bigint"
    assert (
        _roundtrip(transform, src, None) == "__HIVE_DEFAULT_PARTITION__"
    )


# ----------------------------------------------------- sort orders


_SORT_FIELD = st.fixed_dictionaries(
    {
        "source": st.sampled_from(["a", "bb", "c_3", "ts"]),
        "transform": st.one_of(
            st.sampled_from(["identity", "year", "month", "day", "hour"]),
            st.integers(1, 64).map(lambda w: f"truncate[{w}]"),
            st.integers(1, 1024).map(lambda n: f"bucket[{n}]"),
        ),
        "direction": st.sampled_from(["asc", "desc"]),
        "null_order": st.sampled_from(["nulls-first", "nulls-last"]),
    }
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_SORT_FIELD, min_size=1, max_size=5))
def test_sort_order_serialize_parse_roundtrip(fields):
    """Round 14: the write.sort-order grammar (sortorder.py) must
    round-trip EVERY representable field list exactly — a lossy
    serialize would silently change the clustering contract at the
    next export/import hop."""
    from iceberg_workshop_spark.icetbl.sortorder import (
        from_iceberg_fields,
        parse_sort_order,
        serialize_sort_order,
        to_iceberg_fields,
    )

    text = serialize_sort_order(fields)
    assert parse_sort_order(text) == fields
    # and through the Iceberg JSON shape both ways
    by_name = {
        n: {"id": i}
        for i, n in enumerate(["a", "bb", "c_3", "ts"], start=1)
    }
    name_by_id = {v["id"]: k for k, v in by_name.items()}
    jf = to_iceberg_fields(fields, by_name)
    assert from_iceberg_fields(jf, name_by_id) == fields


# ------------------------------------------ manifest-list consistency


def _assert_manifest_lists_agree(dest: str) -> None:
    """Every reachable snapshot's manifest-list rows agree with the
    entries of the manifests they name; its summary totals agree with
    the live data entries; every metadata-log entry names an existing
    earlier metadata file."""
    import json
    import os
    import re

    from iceberg_workshop_spark.icetbl.avroio import read_avro
    from iceberg_workshop_spark.icetbl.iceformat import (
        current_metadata_path,
        resolve_iceberg_metadata,
    )

    def version(path: str) -> int:
        return int(re.match(r"v(\d+)\.", os.path.basename(path)).group(1))

    doc = resolve_iceberg_metadata(dest)
    current = current_metadata_path(dest)
    for snap in doc["snapshots"]:
        _, rows, _ = read_avro(snap["manifest-list"])
        live_files = live_records = 0
        for row in rows:
            _, entries, fmeta = read_avro(row["manifest_path"])
            spec = json.loads(fmeta["partition-spec"])

            def of(status):
                return [e for e in entries if e["status"] == status]

            assert row["added_files_count"] == len(of(1))
            assert row["existing_files_count"] == len(of(0))
            assert row["added_rows_count"] == sum(
                e["data_file"]["record_count"] for e in of(1)
            )
            assert row["existing_rows_count"] == sum(
                e["data_file"]["record_count"] for e in of(0)
            )
            seqs = [e["sequence_number"] for e in entries]
            if seqs:
                assert row["sequence_number"] == max(seqs)
                assert row["min_sequence_number"] == min(seqs)
            assert [p["contains_null"] for p in row["partitions"]] == [
                any(e["data_file"]["partition"].get(pf["name"]) is None
                    for e in entries)
                for pf in spec
            ]
            live = [
                e["data_file"] for e in entries
                if e["status"] != 2 and e["data_file"]["content"] == 0
            ]
            live_files += len(live)
            live_records += sum(f["record_count"] for f in live)
        assert snap["summary"]["total-data-files"] == str(live_files)
        assert snap["summary"]["total-records"] == str(live_records)
    for entry in doc["metadata-log"]:
        assert os.path.exists(entry["metadata-file"])
        assert version(entry["metadata-file"]) < version(current)


def test_manifest_lists_agree_with_manifests_across_writers(spark, tmp_path):
    """Export a partition-evolved table carrying both delete kinds,
    then commit through every snapshot-producing foreign writer: after
    each commit the manifest lists, snapshot summaries and metadata
    log of every reachable snapshot agree with the manifests."""
    from iceberg_workshop_spark.icetbl import spec_field
    from iceberg_workshop_spark.icetbl.iceformat import (
        append_iceberg,
        delete_iceberg_keys,
        delete_iceberg_where,
        export_iceberg,
        read_iceberg,
        rewrite_iceberg_files,
        update_iceberg_where,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    schema = "id bigint, name string"
    t = IceTable.create_as(
        spark, str(tmp_path / "src"),
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(16)], schema
        ).repartition(4),
    )
    t.set_partition_spec([spec_field("name", "truncate[2]", "name_t2")])
    t.append(
        spark.createDataFrame(
            [(i, f"{chr(97 + i % 5)}{i}") for i in range(16, 40)]
            + [(40, None)],
            schema,
        )
    )
    t.delete_keys_mor(spark.createDataFrame([(3,), (20,)], "id bigint"), ["id"])
    t.delete_where_pos("id IN (5, 30)")
    want = set(range(41)) - {3, 5, 20, 30}

    dest = str(tmp_path / "ice")
    export_iceberg(t, dest, history=True)
    _assert_manifest_lists_agree(dest)

    append_iceberg(
        spark, dest,
        spark.createDataFrame([(50, "zz"), (51, None)], schema),
    )
    want |= {50, 51}
    _assert_manifest_lists_agree(dest)
    delete_iceberg_keys(
        spark, dest, spark.createDataFrame([(7,), (50,)], "id bigint"),
        ["id"],
    )
    want -= {7, 50}
    _assert_manifest_lists_agree(dest)
    delete_iceberg_where(spark, dest, "id % 9 = 0")
    want = {i for i in want if i % 9 != 0}
    _assert_manifest_lists_agree(dest)
    update_iceberg_where(spark, dest, "id < 12", {"name": "'up'"})
    _assert_manifest_lists_agree(dest)
    rewrite_iceberg_files(spark, dest)
    _assert_manifest_lists_agree(dest)
    assert {r.id for r in read_iceberg(spark, dest).collect()} == want
