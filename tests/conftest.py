"""Shared fixtures: one SparkSession per test run + DuckDB oracle helpers."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from data_ingestion_system_spark.session import get_spark  # noqa: E402
from data_ingestion_system_spark.tables import TABLE_NAMES  # noqa: E402

# tests run at the smallest scale factor for speed; the driver re-checks at sf0.01
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = get_spark(
        app_name="dis-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield session


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(TEST_SF_DIR, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def drain_jobs(spark, query) -> int:
    """Spark jobs one streaming drain ran, from the status store: a
    stream runs its batches under the job group of its runId."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(str(query.runId)))


def _normalize(value):
    """Make a cell comparable across engines (mirror of the driver's
    order-insensitive value compare, with float tolerance handled by caller)."""
    import datetime as _dt

    import pandas as _pd

    if value is None or value is _pd.NaT:
        return None
    if hasattr(value, "to_pydatetime"):  # pandas.Timestamp
        value = value.to_pydatetime()
    if isinstance(value, _dt.date) and not isinstance(value, _dt.datetime):
        # DuckDB DATE comes back as midnight datetime64 via pandas; Spark
        # DateType comes back as datetime.date — same logical value.
        return _dt.datetime(value.year, value.month, value.day)
    if hasattr(value, "tolist"):  # numpy scalar/array
        return value.tolist()
    return value


def assert_df_matches_oracle(spark_df, duck_con, oracle: str, *, float_rel=1e-9, float_abs=1e-9):
    """Order-insensitive comparison of a Spark DataFrame vs DuckDB SQL.

    Columns are matched by (sorted) name — mirrors the driver, which sorts
    columns by name before hashing. Floats compare with tolerance; the
    driver hash-compares, so queries must round floats they emit.
    """
    expected = duck_con.execute(oracle).fetchdf()
    got = spark_df.toPandas()

    exp_cols, got_cols = sorted(expected.columns), sorted(got.columns)
    assert got_cols == exp_cols, f"column mismatch: spark={got_cols} oracle={exp_cols}"
    assert len(got) == len(expected), f"row count: spark={len(got)} oracle={len(expected)}"

    def keyify(df):
        rows = [tuple(_normalize(v) for v in row) for row in df[exp_cols].itertuples(index=False)]
        return sorted(rows, key=lambda r: tuple(repr(x) for x in r))

    for i, (g_row, e_row) in enumerate(zip(keyify(got), keyify(expected))):
        for col, g, e in zip(exp_cols, g_row, e_row):
            if isinstance(g, float) and isinstance(e, float):
                if math.isnan(g) and math.isnan(e):
                    continue
                assert math.isclose(g, e, rel_tol=float_rel, abs_tol=float_abs), (
                    f"row {i} col {col}: spark={g!r} oracle={e!r}"
                )
            elif isinstance(g, list) and isinstance(e, list):
                assert len(g) == len(e), f"row {i} col {col}: len {len(g)} vs {len(e)}"
                for gx, ex in zip(g, e):
                    if isinstance(gx, float) and isinstance(ex, float):
                        assert math.isclose(gx, ex, rel_tol=1e-6, abs_tol=1e-6), (
                            f"row {i} col {col}: spark={gx!r} oracle={ex!r}"
                        )
                    else:
                        assert gx == ex, f"row {i} col {col}: spark={gx!r} oracle={ex!r}"
            else:
                assert g == e, f"row {i} col {col}: spark={g!r} oracle={e!r}"
