"""Partition transforms: the one place that decides how each Iceberg
transform (identity, year, month, day, hour, ``bucket[N]``,
``truncate[W]``) is written, named on disk, compared by the planner
and typed in Iceberg metadata.

For every transform this module defines

- ``column``: the Spark column the writer partitions by;
- ``dir_str``: the directory string Spark writes for a value;
- ``transform_value``: the Python value the planner compares a
  file's partition string against;
- ``codec``: Iceberg's typed partition value, both directions
  (dir string → typed value for export and foreign writes, typed
  value → dir string for import).

``write_partitioned`` is the one partitioned data-file writer: native
``IceTable`` writes and the real-Iceberg foreign writers both call it.
Hidden partitioning keeps the source columns in the data files and
writes each transform as a ``__p_<field>`` directory key; the key and
the value of every such segment are stored decoded (Spark
percent-escapes characters such as ``[`` and ``%`` in both).
"""

from __future__ import annotations

import datetime as _dt
import os
import urllib.parse
from typing import Any, Callable, NamedTuple

PREFIX = "__p_"
# optional cluster-key column of ``write_partitioned``: spreads one
# partition over several writer tasks
SPREAD = "__spread"
# Spark's directory value for NULL and the empty string
NULL_DIR = "__HIVE_DEFAULT_PARTITION__"
MURMUR3 = "iceberg-murmur3"
_FLAVOR_KEY = "write.bucket.hash"
_TIME_FORMATS = {
    "year": "yyyy",
    "month": "yyyy-MM",
    "day": "yyyy-MM-dd",
    "hour": "yyyy-MM-dd-HH",
}
_EPOCH = _dt.date(1970, 1, 1)


def width(transform: str) -> int:
    """The N of ``bucket[N]`` or the W of ``truncate[W]``."""
    return int(transform[transform.index("[") + 1 : -1])


def is_bucket(transform: str) -> bool:
    return transform.startswith("bucket[")


# ------------------------------------------------------ bucket hash


def stamp_bucket_flavor(properties: dict, specs: list[list[dict]]) -> None:
    """A table whose specs bucket records ``write.bucket.hash`` (Iceberg's
    murmur3, bucketing.py) in its properties, which SHOW TBLPROPERTIES
    and DESCRIBE print. Every bucket column uses murmur3; nothing reads
    the property back."""
    if any(is_bucket(str(f.get("transform", ""))) for s in specs for f in s):
        properties.setdefault(_FLAVOR_KEY, MURMUR3)


# -------------------------------------------------------- write side


def column(transform: str, source: str, dtype: Any) -> Any:
    """The Spark column holding ``transform`` of ``source`` (Spark type
    ``dtype``) as the directory string the writer partitions by."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if transform == "identity":
        return F.col(source)
    if transform in _TIME_FORMATS:
        return F.date_format(source, _TIME_FORMATS[transform])
    if is_bucket(transform):
        # Iceberg's bucket transform (murmur3_x86_32 of the spec's
        # value encoding): the ids a real Iceberg engine computes
        from iceberg_workshop_spark.icetbl.bucketing import bucket_col

        return bucket_col(F.col(source), width(transform), dtype)
    if transform.startswith("truncate["):
        # numeric columns truncate to width-w value ranges (v - v % w,
        # order-preserving); strings truncate to a w-character prefix
        w = width(transform)
        if isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
            return (F.col(source) - F.pmod(F.col(source), F.lit(w))).cast("long")
        return F.substring(F.col(source).cast("string"), 1, w)
    raise ValueError(f"unknown transform {transform}")


def write_partitioned(
    df: Any,
    directory: str,
    spec: list[dict],
    types: dict[str, Any],
    *,
    cluster: bool | int = False,
    options: dict[str, str] | None = None,
) -> list[tuple[str, dict[str, str], int, dict]]:
    """Write ``df`` as parquet under ``directory``, hidden-partitioned
    by ``spec`` (``types``: column → Spark type), and return ``(path,
    partition, record_count, bounds)`` per data file. ``partition``
    maps each spec field name to its decoded directory string.
    ``cluster`` hash-repartitions by the partition tuple first (one
    task per partition); an int is also the shuffle width. A
    :data:`SPREAD` column of ``df`` joins the cluster key, so a
    partition goes to at most as many tasks as it has spread values;
    it is not written. ``options`` go to the parquet writer."""
    from pyspark.sql import functions as F

    from iceberg_workshop_spark.icetbl.stats import file_stats

    out = df
    keys = []
    for field in spec:
        key = PREFIX + field["name"]
        src, t = field["source"], field["transform"]
        if is_bucket(t):
            # the df-level named-chain form: whole-stage codegen fuses
            # the staged arithmetic, ~11x faster than the
            # single-Column let-binding of ``column``
            from iceberg_workshop_spark.icetbl.bucketing import with_bucket_column

            out = with_bucket_column(out, key, src, width(t), types[src])
        else:
            out = out.withColumn(key, column(t, src, types.get(src)))
        keys.append(key)
    if keys and cluster:
        by = keys + ([SPREAD] if SPREAD in out.columns else [])
        num = [] if cluster is True else [cluster]
        out = out.repartition(*num, *[F.col(k) for k in by])
    out = out.drop(SPREAD)
    writer = out.write.mode("overwrite")
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    if keys:
        writer = writer.partitionBy(*keys)
    writer.parquet(directory)

    files = []
    for root, _dirs, names in os.walk(directory):
        for name in names:
            if name.endswith(".parquet"):
                path = os.path.join(root, name)
                n, bounds = file_stats(path)
                files.append((path, _dir_partition(directory, root), n, bounds))
    return files


def _dir_partition(directory: str, root: str) -> dict[str, str]:
    """The decoded ``__p_`` keys and values on the path from
    ``directory`` down to ``root``."""
    out = {}
    for seg in os.path.relpath(root, directory).split(os.sep):
        k, eq, v = seg.partition("=")
        if eq and k.startswith(PREFIX):
            out[urllib.parse.unquote(k)[len(PREFIX) :]] = urllib.parse.unquote(v)
    return out


# ------------------------------------------------------- planner side


def transform_value(transform: str, v: Any) -> Any:
    """Apply a partition transform to a literal, matching the directory
    strings ``column`` writes. Sortable-string encodings make range
    pruning a plain string comparison."""
    if transform == "identity":
        # Numeric literals stay numeric so the caller compares
        # numerically against the (parsed) partition value —
        # "2" > "10" lexicographically, so a string comparison on an
        # int-partitioned column both over- and under-prunes.
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return v
        return dir_str(v)
    if transform in _TIME_FORMATS:
        # TIME transforms coerce string literals to datetime; other
        # transforms must NOT (a truncate[w] on a STRING column whose
        # values merely look ISO-ish would otherwise compare
        # str(datetime) — space-separated — against the raw substring
        # dir value and over-prune)
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        if transform == "year":
            return f"{v.year:04d}"
        if transform == "month":
            return f"{v.year:04d}-{v.month:02d}"
        if transform == "day":
            return f"{v.year:04d}-{v.month:02d}-{v.day:02d}"
        # hour: a plain DATE literal has no .hour — treat it as
        # midnight (its day's first hour) instead of crashing
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            return f"{v.year:04d}-{v.month:02d}-{v.day:02d}-00"
        return f"{v.year:04d}-{v.month:02d}-{v.day:02d}-{v.hour:02d}"
    if transform.startswith("truncate["):
        w = width(transform)
        if isinstance(v, int) and not isinstance(v, bool):
            # numeric truncate: return the INT so the caller compares
            # numerically — "1000" < "200" lexicographically, so a
            # string comparison over-prunes
            return v - v % w
        return dir_str(v)[:w]
    raise ValueError(f"cannot prune transform {transform}")


def dir_str(v: Any) -> str:
    """The string Spark writes into a partition directory for value v."""
    if isinstance(v, bool):
        # Spark writes lowercase 'true'/'false' dirs; Python's
        # str(True) == 'True' would compare above 'true' and prune
        # every matching file
        return str(v).lower()
    if isinstance(v, _dt.datetime):
        # Spark dir encoding for timestamps varies; identity-partition
        # comparison is done on ISO seconds (both sides truncated to
        # second precision in file_survives_partition — a literal's
        # sub-second digits must never narrow a bound).
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return str(v)


def is_null_dir(s: str | None) -> bool:
    """Spark's shared directory for NULL and the empty string: a file
    there may hold rows matching any predicate on those values."""
    return s is None or s == NULL_DIR


# --------------------------------------------------- Iceberg metadata


class Codec(NamedTuple):
    """Iceberg's typed partition value for one transform: its Avro
    type, ``encode`` (dir string → typed value) and ``decode`` (typed
    value → dir string). Both map the null directory to None and back.
    ``void`` has no Avro type: it only decodes."""

    avro_type: Any
    encode: Callable[[str | None], Any]
    decode: Callable[[Any], str]


def _days(s: str) -> int:
    return (_dt.date.fromisoformat(s) - _EPOCH).days


def _date_str(days: int) -> str:
    return (_EPOCH + _dt.timedelta(days=int(days))).isoformat()


def _month(s: str) -> int:
    y, m = s.split("-")
    return (int(y) - 1970) * 12 + int(m) - 1


def _hour(s: str) -> int:
    y, m, d, h = s.split("-")
    return (_dt.date(int(y), int(m), int(d)) - _EPOCH).days * 24 + int(h)


_DATE = {"type": "int", "logicalType": "date"}
_TIME_CODECS = {
    "year": ("int", lambda s: int(s) - 1970, lambda v: f"{1970 + int(v):04d}"),
    "month": (
        "int",
        _month,
        lambda v: f"{1970 + int(v) // 12:04d}-{int(v) % 12 + 1:02d}",
    ),
    "day": (_DATE, _days, _date_str),
    "hour": ("int", _hour, lambda v: _date_str(int(v) // 24) + f"-{int(v) % 24:02d}"),
}
_INTEGRAL = {"int": ("int", int, str), "long": ("long", int, str)}
_STRING = ("string", str, str)


def codec(transform: str, src_type: Any, src: str = "") -> Codec:
    """The ``Codec`` of ``transform`` over a source of Iceberg type
    ``src_type``; raises ValueError where no faithful encoding exists
    (an unsupported source type, an unknown transform)."""
    if is_bucket(transform):
        # the stored dir value IS the Iceberg bucket id already
        parts = ("int", int, str)
    elif transform == "identity":
        parts = {
            "date": (_DATE, _days, _date_str),
            "boolean": ("boolean", lambda s: s == "true", dir_str),
            "string": _STRING,
            **_INTEGRAL,
        }.get(src_type)
        if parts is None:
            raise ValueError(
                f"identity partition on {src_type} column {src!r} is "
                "not supported"
            )
    elif transform in _TIME_CODECS:
        parts = _TIME_CODECS[transform]
    elif transform.startswith("truncate["):
        parts = {"string": _STRING, **_INTEGRAL}.get(src_type)
        if parts is None:
            raise ValueError(f"truncate partition on {src_type} is not supported")
    elif transform == "void":
        parts = (None, lambda s: None, lambda v: NULL_DIR)
    else:
        raise ValueError(f"unknown partition transform {transform!r}")
    avro_type, enc, dec = parts
    return Codec(
        avro_type,
        lambda s: None if is_null_dir(s) else enc(s),
        lambda v: NULL_DIR if v is None else dec(v),
    )
