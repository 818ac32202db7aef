"""Pipeline orchestration: audit rows, failure path, MV refresh."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.pipeline import (
    PipelineRunner,
    mint_batch_id,
    refresh_materialized_view,
)
from automated_agro_climatic_data_warehouse_spark.plans import QUERIES


def test_batch_id_shape():
    b = mint_batch_id("soil")
    parts = b.split("_")
    assert parts[0] == "soil" and len(parts) == 4 and len(parts[3]) == 8


def test_runner_success_and_failure_audit(spark, sf_dir):
    with tempfile.TemporaryDirectory() as d:
        runner = PipelineRunner(spark, audit_path=f"{d}/audit", fail_fast=False)
        n = runner.run_phase(
            "compat", lambda: QUERIES["mv_compatibility"].spark_fn(spark, sf_dir)
        )
        assert n > 0

        def boom():
            raise RuntimeError("source unavailable")

        assert runner.run_phase("weather", boom) == 0
        runner.flush_audit()
        audit = {r.pipeline_name: r for r in runner.read_audit().collect()}
        assert audit["compat"].status == "SUCCESS"
        assert audit["compat"].records_processed == n
        assert audit["weather"].status == "FAILED"
        assert "source unavailable" in audit["weather"].error_message


def test_runner_fail_fast_flushes_and_raises(spark):
    with tempfile.TemporaryDirectory() as d:
        runner = PipelineRunner(spark, audit_path=f"{d}/audit", fail_fast=True)

        def boom():
            raise RuntimeError("boom")

        with pytest.raises(RuntimeError):
            runner.run_phase("p1", boom)
        assert runner.read_audit().filter(F.col("status") == "FAILED").count() == 1


def test_audit_timestamps_are_utc_instants_under_any_tz(spark):
    """started_at/ended_at must hold the run's real instants even when the
    Python process runs in a non-UTC zone."""
    import os
    import time

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Kolkata"  # UTC+05:30, no DST
    time.tzset()
    try:
        with tempfile.TemporaryDirectory() as d:
            runner = PipelineRunner(spark, audit_path=f"{d}/audit")
            t0 = time.time()
            runner.run_phase("p", lambda: spark.range(3))
            t1 = time.time()
            runner.flush_audit()
            row = runner.read_audit().select(
                F.unix_micros("started_at").alias("s"), F.unix_micros("ended_at").alias("e")
            ).collect()[0]
    finally:
        if old_tz is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert t0 * 1e6 - 1 <= row.s <= row.e <= t1 * 1e6 + 1


def test_mv_refresh_overwrite(spark, sf_dir):
    with tempfile.TemporaryDirectory() as d:
        mv = QUERIES["mv_compatibility"].spark_fn(spark, sf_dir)
        refresh_materialized_view(mv, f"{d}/mv", partition_by=["band_name"])
        first = spark.read.parquet(f"{d}/mv").count()
        refresh_materialized_view(mv.limit(10), f"{d}/mv", partition_by=["band_name"])
        assert spark.read.parquet(f"{d}/mv").count() == 10  # refresh replaced
        assert first > 10
