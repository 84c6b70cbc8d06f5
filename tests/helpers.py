"""Result-set comparison mimicking the driver's t2 check:
row-count + schema (column names) + order-insensitive values.

Stricter than a hash: normalizes both frames (sort columns by name,
sort rows by every column, unify dtypes) and asserts exact equality —
if this passes, any order-insensitive value-hash passes too.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pandas as pd


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = {}
    for col in sorted(pdf.columns):
        s = pdf[col]
        if pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        elif s.dtype == object:
            # Decimal / list values → canonical string form.
            s = s.map(lambda v: None if v is None else _canon(v))
        out[col] = s.reset_index(drop=True)
    ndf = pd.DataFrame(out)
    ndf = ndf.sort_values(by=list(ndf.columns), kind="mergesort").reset_index(drop=True)
    return ndf


def _canon(v):
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def assert_driver_sortable(pdf: pd.DataFrame, name: str, side: str = "spark"):
    """Replay the driver's canonicalization contract on the RAW frame.

    The driver lexsorts the raw result with pandas ``sort_values``
    before hashing; pandas builds an ordered ``Categorical`` per sort
    key, which requires hashable, mutually-comparable cell values.
    Raw ARRAY/MAP outputs (python lists / ndarrays / dicts) raise
    ``TypeError: unhashable type`` there — exactly the round-8
    ``q_fn_array2`` driver failure, which our permissive ``_canon``
    stringification masked locally. Run the same raw sort here so the
    contract violation fails pre-commit, not in the driver.
    """
    if len(pdf) == 0 or len(pdf.columns) == 0:
        return
    try:
        pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    except TypeError as exc:
        raise AssertionError(
            f"{name}: {side} result violates the driver's canonicalizer "
            f"contract (raw pandas lexsort failed: {exc}). Serialize "
            f"ARRAY/MAP columns to strings on both sides "
            f"(F.array_join / to_json; DuckDB array_to_string)."
        ) from exc


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert_driver_sortable(spark_pdf, name, "spark")
    assert_driver_sortable(oracle_pdf, name, "oracle")
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    )
    a = normalize(spark_pdf)
    b = normalize(oracle_pdf)
    pd.testing.assert_frame_equal(a, b, check_exact=True, obj=name)


def scratch_entries(spark) -> set[str]:
    """Top-level entries under the temp dir, ``$SPARK_GRAFT_SCRATCH``
    and ``spark.sql.warehouse.dir``, Spark's local dirs excluded, plus
    the ``default`` database's tables: the places a query could leave
    files."""
    from urllib.parse import urlparse

    tmp = tempfile.gettempdir()
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    roots = {tmp, os.environ.get("SPARK_GRAFT_SCRATCH") or tmp, warehouse}
    local = {
        os.path.abspath(d)
        for d in os.environ.get("SPARK_LOCAL_DIRS", "").split(",")
        if d
    }
    entries = set()
    for root in roots:
        if os.path.isdir(root):
            entries |= {os.path.abspath(os.path.join(root, e)) for e in os.listdir(root)}
    tables = {
        f"default.{t.name}"
        for t in spark.catalog.listTables("default")
        if not t.isTemporary
    }
    return (entries - local) | tables


def databases(spark) -> set[str]:
    return {d.name for d in spark.catalog.listDatabases()}


def data_scans(df, paths: set[str]) -> int:
    """File scans in ``df``'s optimized plan that read any of ``paths``
    (local paths): the data-file scans of a table read, its delete-file
    scans excluded."""
    from urllib.parse import unquote, urlparse

    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    n = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        roots = leaf.relation().location().rootPaths()
        read = {
            os.path.abspath(unquote(urlparse(roots.apply(j).toUri().toString()).path))
            for j in range(roots.size())
        }
        n += bool(read & paths)
    return n
