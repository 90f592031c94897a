"""Loader/normalization checks (SURVEY.md §7 M0, FIXTURES.md schemas)."""

from __future__ import annotations

import re
import time
import uuid

from python_etl_sample_spark.sources import TABLE_NAMES, load_tables, raw_schema, table

SF_DIR = "/root/testdata/sf0.001"

EXPECTED_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}


def test_row_counts(spark):
    tables = load_tables(spark, SF_DIR)
    for name, expected in EXPECTED_ROWS.items():
        assert tables[name].count() == expected, name


def test_events_ts_normalized(spark):
    ev = load_tables(spark, SF_DIR)["events"]
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    row = ev.orderBy("event_id").first()
    assert str(row["ts"]) == "2024-01-01 00:09:58.778549"


def test_date_columns_are_ntz(spark):
    tables = load_tables(spark, SF_DIR)
    assert dict(tables["orders"].dtypes)["o_orderdate"] == "timestamp_ntz"
    assert dict(tables["lineitem"].dtypes)["l_shipdate"] == "timestamp_ntz"


def test_embeddings_dim(spark):
    from pyspark.sql import functions as F

    emb = load_tables(spark, SF_DIR)["embeddings"]
    dims = emb.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r["d"] for r in dims] == [64]


def _group_job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _run_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "loader test")
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_repeated_table_read_runs_no_job(spark):
    """A repeated table() call plans its scan without Spark's schema
    inference job: the memoized schema is supplied to the reader."""
    table(spark, SF_DIR, "orders")  # first read in the process may infer
    tag = uuid.uuid4().hex[:8]
    memo_group, plain_group = f"memo-{tag}", f"plain-{tag}"
    _run_in_group(spark, memo_group, lambda: table(spark, SF_DIR, "orders"))
    # positive control, started after the memoized read: a plain read
    # does run an inference job, and job events reach the status
    # tracker in order, so once the control's job shows up any job of
    # the memoized read would have shown up too
    _run_in_group(
        spark, plain_group, lambda: spark.read.parquet(f"{SF_DIR}/orders.parquet")
    )
    deadline = time.monotonic() + 30
    while not _group_job_ids(spark, plain_group) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert _group_job_ids(spark, plain_group), "control read started no job"
    assert _group_job_ids(spark, memo_group) == []


def _plan_text(df) -> str:
    """executedPlan with expression IDs stripped."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+L?", "#", plan)


def test_memoized_read_plans_like_plain_read(spark):
    for name in TABLE_NAMES:
        path = f"{SF_DIR}/{name}.parquet"
        plain = spark.read.parquet(path)
        memo = spark.read.schema(raw_schema(spark, SF_DIR, name)).parquet(path)
        assert memo.schema == plain.schema, name
        assert _plan_text(memo) == _plan_text(plain), name
    assert dict(table(spark, SF_DIR, "events").dtypes)["ts"] == "timestamp_ntz"


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y")]
