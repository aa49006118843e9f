"""Reader-layer contracts: the parquet schema memo, the opt-in small-scan
split on directory tables, and SQL-text queries registering only the views
they read."""

from __future__ import annotations

import time

import pandas as pd

from inf_553_datamining_mapreduce_spark.plans.sql import run_sql
from inf_553_datamining_mapreduce_spark.sources import readers as R


def _jobs_of(spark, fn, group: str) -> tuple[object, list[int]]:
    """Run ``fn`` under its own job group and return its result and the
    jobs it launched. A marker job under a second group is waited for
    afterwards: the status store applies listener events in order, so once
    the marker is visible every job ``fn`` launched is too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc.setJobGroup(group + "-marker", group)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-marker"):
        assert time.monotonic() < deadline, "marker job never reported"
        time.sleep(0.05)
    return out, list(tracker.getJobIdsForGroup(group))


def test_schema_memo_skips_inference_and_tracks_rewrites(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/orders.parquet"
    pd.DataFrame({"o_orderkey": [1, 2, 3], "o_custkey": [7, 8, 9]}).to_parquet(
        path, index=False
    )
    first, jobs1 = _jobs_of(
        spark, lambda: R.read_parquet_table(spark, sf, "orders"), "memo-first"
    )
    assert jobs1, "schema inference launched no job: the test measures nothing"
    second, jobs2 = _jobs_of(
        spark, lambda: R.read_parquet_table(spark, sf, "orders"), "memo-second"
    )
    assert jobs2 == []
    assert second.schema == first.schema

    # A rewrite at the same path with another schema is re-inferred.
    pd.DataFrame({"o_orderkey": [4, 5], "o_comment": ["a", "b"]}).to_parquet(
        path, index=False
    )
    third = R.read_parquet_table(spark, sf, "orders")
    assert third.columns == ["o_orderkey", "o_comment"]
    assert sorted(third.collect()) == [(4, "a"), (5, "b")]


def test_schema_memo_keeps_nanosecond_events(spark, sf_dir):
    R._SCHEMA_MEMO.pop(f"{sf_dir.rstrip('/')}/events.parquet", None)
    inferred = R.read_parquet_table(spark, sf_dir, "events")
    memoized = R.read_parquet_table(spark, sf_dir, "events")
    assert memoized.dtypes == inferred.dtypes
    assert dict(memoized.dtypes)["ts"] == "timestamp"
    assert sorted(memoized.collect()) == sorted(inferred.collect())


def test_directory_table_is_never_split_nor_memoized(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/documents.parquet"
    spark.range(40).selectExpr("id AS doc_id", "'x' AS text").write.parquet(path)
    df = R.read_parquet_table(spark, sf, "documents", split=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" not in plan, plan
    assert df.count() == 40

    spark.range(5).selectExpr("id AS doc_id", "id * 2 AS n").write.mode(
        "overwrite"
    ).parquet(path)
    again = R.read_parquet_table(spark, sf, "documents", split=True)
    assert again.columns == ["doc_id", "n"]
    assert sorted(r.n for r in again.collect()) == [0, 2, 4, 6, 8]


def test_run_sql_registers_only_referenced_views(spark, sf_dir):
    session = spark.newSession()
    run_sql(session, sf_dir, "pricing_summary_sql")
    views = {t.name for t in session.catalog.listTables() if t.isTemporary}
    assert views == {"lineitem"}
