"""Per-bucket checkpoint manifests: idempotent, resumable extraction runs.

The reference's resume story is a re-run with a ``vector_id IS NULL``
filter plus a retry-once writer (/root/reference/src/sql.py:313-314,
/root/reference/src/gen-sods-doc-image-ray.py:158-165).  Rebuilt here as
explicit job-level bookkeeping that works with ANY number of concurrent
writers:

* output is hash-partitioned by ``bucket = pmod(xxhash64(url), n_buckets)``
  (the column the extraction operator already emits) and written with
  dynamic partition overwrite, so re-processing a bucket REPLACES its
  files — write idempotency.  The mode is a writer option on the data
  write only, never a session conf: the caller's later partitioned
  overwrites keep their static semantics;
* the writer stage runs ``4 × defaultParallelism`` tasks, each bucket
  sub-split into ``max(1, tasks // n_buckets)`` salt slices — task count
  follows the cores, file count the buckets (one file per bucket whenever
  ``n_buckets >= 4 × cores``);
* after the data commit, one manifest row per completed bucket is appended:
  ``(bucket, run_id, input_fingerprint, rows_in, rows_out, error_rows,
  wall_ms, committed_at)`` — lineage + counter metrics required by the
  north rule.  The append is ONE JVM job: the post-commit per-bucket
  aggregate is written straight to ``_manifest`` (``coalesce(1)``), its
  row count riding the write as an Observation — no rows travel through
  the driver or a Python worker;
* on resume, pending work = input buckets ANTI-JOIN done manifest buckets
  (for the same input fingerprint), filtered on the PAGES before the
  extraction kernel.  A crash between data write and manifest append
  re-runs that bucket; overwrite makes that harmless.  A fresh directory
  (no ``_manifest``) costs no Spark job at all.

On Iceberg the manifest append and data commit would share a transaction
(snapshot id recorded in the manifest); with plain parquet the
crash-window is closed by overwrite-idempotency instead.  Scale note: the
manifest is O(n_buckets) rows — thousands, not billions — so the anti-join
side is always broadcastable.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from document_automation_spark.operators.extract import (
    DOCUMENTS_SCHEMA,
    ExtractConfig,
    bucket_of,
    extract_documents,
)

MANIFEST_SCHEMA = (
    "bucket int, run_id string, input_fingerprint string, rows_in long, "
    "rows_out long, error_rows long, wall_ms long, committed_at timestamp"
)


def manifest_path(output_path: str) -> str:
    return os.path.join(output_path, "_manifest")


def data_path(output_path: str) -> str:
    return os.path.join(output_path, "data")


def _manifest_or_none(spark: SparkSession, output_path: str) -> DataFrame | None:
    """The manifest table, or None before the first commit.  One
    filesystem stat decides, so probing a fresh directory runs no Spark
    job — and no failed read, whose analysis error Spark logs with a
    stack trace once the session has used an Observation."""
    path = manifest_path(output_path)
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(sc._jsc.hadoopConfiguration()).exists(jpath):
        return None
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def read_manifest(spark: SparkSession, output_path: str) -> DataFrame:
    manifest = _manifest_or_none(spark, output_path)
    if manifest is None:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return manifest


def done_buckets(spark: SparkSession, output_path: str, input_fingerprint: str) -> list[int]:
    manifest = _manifest_or_none(spark, output_path)
    if manifest is None:
        return []
    return [
        r.bucket
        for r in manifest.filter(F.col("input_fingerprint") == input_fingerprint)
        .select("bucket")
        .distinct()
        .collect()
    ]


def write_parquet(
    df: DataFrame, path: str, partition_by: str | None = None, dynamic: bool = False
) -> None:
    """Overwrite ``path`` with ``df`` as zstd level-1 parquet — the one
    codec decision for the durable writer and every corpus table the
    ingest job writes.  The codec is set as WRITER options, so the choice
    is session-independent.  Measured on the composed ingest (200k pages,
    local[32], warm): zstd-1 is ~25% faster end-to-end than snappy AND
    writes 21% smaller files (373 MB vs 474 MB); zstd's default level 3
    shrinks files another 22% but costs ~15% wall — at 100 TB the data
    table is re-read only by accounting + curation, so encode speed wins
    here and long-retention sinks can re-encode at a higher level
    downstream.

    ``dynamic=True`` replaces only the ``partition_by`` directories ``df``
    writes (the durable writer's per-bucket idempotency); it is a writer
    option too, so a later static overwrite in the same session still
    drops stale partitions."""
    writer = (
        df.write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", "1")
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    if dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    input_fingerprint: str,
    cfg: ExtractConfig = ExtractConfig(),
    fail_buckets_above: int | None = None,
    docs_fn=None,
) -> dict:
    """Run (or resume) the extraction job with per-bucket checkpointing.

    Returns a summary dict with processed/skipped bucket counts and
    counter totals.  ``fail_buckets_above`` is a test hook: rows of buckets
    with id >= the value are dropped after the kernel, simulating a crash
    after extraction but before those buckets were written.

    ``docs_fn`` is the documents-plan builder, ``(pages, cfg) ->
    DOCUMENTS_SCHEMA DataFrame`` — default :func:`extract_documents` (the
    HTML/PDF path); pass ``operators.extract.documents_from_text`` to run
    the WET/pre-extracted-text path through the SAME bucketed write +
    manifest + resume machinery (every plan builder emits the ``bucket``
    column via ``with_bucket``, which is all the checkpointing needs).  On
    resume ``docs_fn`` receives only the pages of PENDING buckets; a
    builder whose result depends on the whole corpus (the fused ingest's
    corpus-wide dedup) closes over the full pages instead, and the done
    buckets are filtered from its output.

    Write parallelism follows the CORES, file count the BUCKETS: the
    writer stage runs ``write_partitions = 4 × defaultParallelism`` tasks
    and each bucket is sub-split into ``k = max(1, write_partitions //
    n_buckets)`` salt slices, the shuffle keyed on (bucket, salt).  When
    ``n_buckets >= write_partitions`` (k = 1) every bucket lands in exactly
    one task — one file per bucket, with no more tasks than the cluster
    runs at once (a task per bucket measured ~39 ms of closure
    deserialization each, 64 tasks on 4 cores); a large cluster gets k
    slices per bucket and ~``write_partitions`` concurrent writers and
    files.  (Keying on something url-unique instead would write every
    bucket from every task, an O(tasks·buckets) small-file explosion:
    measured 11.2 s vs 2.0 s for the same 20k-page write.)  Dynamic
    partition overwrite is per-DIRECTORY, so multi-file buckets resume
    exactly as before (pinned by tests/test_resume.py).  The data files go
    through :func:`write_parquet` (zstd level 1, dynamic overwrite as a
    writer option — the caller's session conf is left untouched).

    The manifest append is one JVM job: the post-commit per-bucket
    aggregate is written straight to ``_manifest``, and
    ``buckets_processed`` is an Observation on that write.
    """
    run_id = uuid.uuid4().hex[:12]
    done = sorted(done_buckets(spark, output_path, input_fingerprint))

    if done:
        # resume anti-filter on the PAGES, below the Python kernel: the
        # done-set is tiny (O(n_buckets)), so an isin literal on the same
        # bucket expression prunes rows before they cross into mapInPandas
        pages = pages.filter(~bucket_of(cfg.n_buckets).isin(done))

    # content_sha (32-byte binary) rides the data files: computed here as a
    # JVM expression during the one pass that already has content in hand,
    # it lets downstream exact dedup (operators/curate) key on a PRUNED
    # (content_sha, url, passage_idx) scan instead of re-reading and
    # re-hashing every content byte — at 100 TB that is the difference
    # between a metadata-sized curation pass and a full-corpus re-scan.
    docs = (docs_fn or extract_documents)(pages, cfg).withColumn(
        "content_sha", F.unhex(F.sha2(F.col("content"), 256))
    )
    if done:
        # kept above the kernel too: a docs_fn that reads the full pages
        # (fused curation) must still not rewrite committed buckets
        docs = docs.filter(~F.col("bucket").isin(done))

    if fail_buckets_above is not None:
        # test hook: pretend the job died before these buckets were written
        docs = docs.filter(F.col("bucket") < fail_buckets_above)

    # 4× parallelism (round 6, was 2×): the writer stage is zstd-encode
    # CPU-bound and bucket sizes are uneven, so at 2× cores the encode tail
    # left cores idle — 200k-page durable write measured 6.6 s → 4.9 s at
    # 4×.  n_buckets does not raise the task count: tasks beyond 4× cores
    # only add per-task overhead (30k pages into 64 buckets on local[4]:
    # the writer stage took 2.07 s at 64 tasks, 1.13 s at 16).
    write_partitions = spark.sparkContext.defaultParallelism * 4
    salt_k = max(1, write_partitions // cfg.n_buckets)

    started = time.time()
    # extraction is map-only; the shuffle happens HERE, on the extracted
    # rows (≪ raw payload size).  (bucket, salt) sub-splits each bucket
    # across salt_k writer tasks; partitionBy routes the slices back to
    # one directory per bucket for per-bucket overwrite/resume.
    write_parquet(
        docs.withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(salt_k)))
        .repartition(write_partitions, "bucket", "_salt")
        .drop("_salt"),
        data_path(output_path),
        partition_by="bucket",
        dynamic=True,
    )
    wall_ms = int((time.time() - started) * 1000)

    # Post-commit accounting per bucket: a second scan of what was just
    # written, but PRUNED to the two tiny columns the counters need (the
    # bucket partition column is discovered from the directory layout).
    # Reading the full schema here cost ~14 s of a 24 s sf0.1 job — the
    # cold re-read of the wide `content` column; the pruned read is ~1 s.
    # (Persisting the extracted rows through the write to skip the re-scan
    # entirely was measured WORSE: caching the wide rows inflated the
    # write phase 14 s → 32 s.)
    written = spark.read.schema("passage_idx int, error string").parquet(
        data_path(output_path)
    )
    if done:
        written = written.filter(~F.col("bucket").isin(done))
    stats = (
        written.groupBy("bucket")
        .agg(
            # urls counted without DISTINCT: passage_idx==0 occurs exactly
            # once per extracted url, error rows once per failed url
            F.sum(
                F.when((F.col("passage_idx") == 0) | F.col("error").isNotNull(), 1).otherwise(0)
            ).alias("rows_in"),
            F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("rows_out"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_rows"),
        )
        .select(
            "bucket",
            F.lit(run_id).alias("run_id"),
            F.lit(input_fingerprint).alias("input_fingerprint"),
            "rows_in",
            "rows_out",
            "error_rows",
            F.lit(wall_ms).alias("wall_ms"),
            F.current_timestamp().alias("committed_at"),
        )
    )
    # one job appends the O(n_buckets) aggregate straight from the JVM and
    # counts it on the way; a collect() + createDataFrame(rows) round trip
    # would add a job through sc.parallelize and Python workers (0.14-0.44 s
    # on local[4]).  coalesce(1) collapses only the final aggregation (one
    # file); the pruned scan below the shuffle stays wide.
    appended = Observation("manifest_append")
    stats.observe(appended, F.count(F.lit(1)).alias("buckets")).coalesce(1).write.mode(
        "append"
    ).parquet(manifest_path(output_path))

    return {
        "run_id": run_id,
        "buckets_processed": int(appended.get["buckets"]),
        "buckets_skipped": len(done),
    }


def read_output(
    spark: SparkSession, output_path: str, with_sha: bool = False
) -> DataFrame:
    """The written documents table.  ``with_sha=True`` includes the
    ``content_sha`` column the durable writer stores (curation keys its
    dedup on it — column-pruned, no content re-hash); default excludes it
    so existing consumers see exactly DOCUMENTS_SCHEMA."""
    schema = DOCUMENTS_SCHEMA
    if with_sha:
        from pyspark.sql import types as T

        schema = T.StructType(
            list(DOCUMENTS_SCHEMA.fields)
            + [T.StructField("content_sha", T.BinaryType(), True)]
        )
    return spark.read.schema(schema).parquet(data_path(output_path))
