"""Checkpoint/resume: kill mid-write → re-run → complete, no duplicates."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from document_automation_spark.operators.extract import ExtractConfig, bucket_of
from document_automation_spark.plans.checkpoint import (
    done_buckets,
    read_manifest,
    read_output,
    run_extraction_job,
    write_parquet,
)
from document_automation_spark.plans.metrics import observe_extraction
from document_automation_spark.operators.extract import extract_documents
from document_automation_spark.sources.pages import pages_df

N_PAGES = 120
FP = "pages-seed42-n120"


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "documents_out")


def test_full_run_then_noop_resume(spark, out_dir):
    pages = pages_df(spark, N_PAGES, partitions=4)
    cfg = ExtractConfig(n_buckets=8)

    first = run_extraction_job(spark, pages, out_dir, FP, cfg)
    assert first["buckets_processed"] > 0
    assert first["buckets_skipped"] == 0
    baseline = read_output(spark, out_dir).count()

    second = run_extraction_job(spark, pages, out_dir, FP, cfg)
    assert second["buckets_processed"] == 0
    assert second["buckets_skipped"] == first["buckets_processed"]
    assert read_output(spark, out_dir).count() == baseline  # no dupes


def test_crash_then_resume_completes_without_duplicates(spark, out_dir):
    pages = pages_df(spark, N_PAGES, partitions=4)
    cfg = ExtractConfig(n_buckets=8)

    # reference run (no checkpointing) for the expected final state
    expected = sorted(
        (r.url, r.passage_idx, r.content)
        for r in extract_documents(pages, cfg).collect()
    )

    crashed = run_extraction_job(spark, pages, out_dir, FP, cfg, fail_buckets_above=4)
    assert crashed["buckets_processed"] < 8
    partial_done = set(done_buckets(spark, out_dir, FP))
    assert partial_done and all(b < 4 for b in partial_done)

    resumed = run_extraction_job(spark, pages, out_dir, FP, cfg)
    assert resumed["buckets_skipped"] == len(partial_done)
    assert resumed["buckets_processed"] > 0

    got = sorted(
        (r.url, r.passage_idx, r.content) for r in read_output(spark, out_dir).collect()
    )
    assert got == expected  # complete and duplicate-free


def test_manifest_lineage_counters(spark, out_dir):
    pages = pages_df(spark, N_PAGES, partitions=4)
    run_extraction_job(spark, pages, out_dir, FP, ExtractConfig(n_buckets=8))
    manifest = read_manifest(spark, out_dir)
    rows = manifest.collect()
    assert rows
    assert all(r.input_fingerprint == FP for r in rows)
    assert all(r.rows_in > 0 for r in rows)
    output = read_output(spark, out_dir)
    total_rows = output.count()
    assert sum(r.rows_out + r.error_rows for r in rows) == total_rows


def test_observation_metrics(spark):
    docs = extract_documents(pages_df(spark, 80, partitions=2), ExtractConfig(n_buckets=4))
    observed, observation = observe_extraction(docs)
    total = observed.count()
    got = observation.get
    assert got["rows_total"] == total
    assert got["urls_seen"] > 0
    assert got["error_rows"] >= 0
    assert got["passages_total"] > 0


def test_changed_input_fingerprint_reprocesses(spark, out_dir):
    pages = pages_df(spark, 60, partitions=2)
    cfg = ExtractConfig(n_buckets=4)
    run_extraction_job(spark, pages, out_dir, "fp-v1", cfg)
    # new input snapshot → same buckets must re-run
    second = run_extraction_job(spark, pages, out_dir, "fp-v2", cfg)
    assert second["buckets_skipped"] == 0
    assert second["buckets_processed"] > 0


def test_resume_feeds_the_kernel_only_pending_buckets(spark, out_dir):
    """The resume filter sits below the Python kernel: the pages handed to
    ``docs_fn`` (and so to mapInPandas) are those of pending buckets only."""
    pages = pages_df(spark, N_PAGES, partitions=4)
    cfg = ExtractConfig(n_buckets=8)
    run_extraction_job(spark, pages, out_dir, FP, cfg, fail_buckets_above=4)
    done = sorted(done_buckets(spark, out_dir, FP))
    assert done
    fed = Observation("kernel_input")

    def spy(pages_, cfg_):
        observed = pages_.observe(
            fed,
            F.count(F.lit(1)).alias("rows"),
            F.sum(bucket_of(cfg_.n_buckets).isin(done).cast("long")).alias("done_rows"),
        )
        return extract_documents(observed, cfg_)

    resumed = run_extraction_job(spark, pages, out_dir, FP, cfg, docs_fn=spy)
    assert resumed["buckets_skipped"] == len(done)
    pending = pages.filter(~bucket_of(cfg.n_buckets).isin(done)).count()
    assert 0 < pending < N_PAGES
    assert fed.get["rows"] == pending
    assert fed.get["done_rows"] == 0


def _jobs_run_by(spark, fn) -> list:
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex[:8]}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_fresh_run_job_budget(spark, out_dir):
    """A fresh directory costs no manifest probe job, and a fresh run at
    most 6 jobs: the data write, the manifest append, the extraction's own
    jobs, and one slot for a stage AQE resubmits."""
    pages = pages_df(spark, N_PAGES, partitions=4)
    cfg = ExtractConfig(n_buckets=8)
    assert _jobs_run_by(spark, lambda: done_buckets(spark, out_dir, FP)) == []
    jobs = _jobs_run_by(spark, lambda: run_extraction_job(spark, pages, out_dir, FP, cfg))
    assert len(jobs) <= 6, jobs


def test_run_leaves_session_overwrite_mode_alone(spark, out_dir, tmp_path):
    """Dynamic partition overwrite is the data write's own option: the
    caller's session conf is unchanged, so a later partitioned overwrite
    in the same session still drops partitions it no longer writes."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    run_extraction_job(spark, pages_df(spark, 40, partitions=2), out_dir, FP, ExtractConfig(n_buckets=4))
    assert spark.conf.get(key) == before

    table = str(tmp_path / "sharded")
    write_parquet(spark.range(4).withColumn("shard", F.col("id") % 2), table, partition_by="shard")
    write_parquet(spark.range(4).withColumn("shard", F.lit(0)), table, partition_by="shard")
    assert sorted(d for d in os.listdir(table) if d.startswith("shard=")) == ["shard=0"]
