"""The traced run: every layer's public functions timed from outside.

Each probe is one call into a layer, run under its own span and Spark job
group; the status store gives the group's task time, task count, shuffle and
spill bytes.  Every probe runs on the workload's own input, so each workload
reports every per-layer metric.  The extraction probes take the pages the
workload's job extracts: the input itself for ``extract_mixed``, the
url-deduped pages (written out untimed) for ``ingest_recrawl``.

Which end-to-end metric each layer metric should move:

* ``kernels.*`` (pure Python, no Spark) -> ``pages_per_s``;
* ``sources.*`` -> the IO floor under ``pages_per_s`` on ``extract_mixed``;
* ``operators.extract.*`` -> ``pages_per_s`` on ``extract_mixed``;
* ``plans.checkpoint.*`` (fresh write) -> ``job_s`` on ``extract_mixed``;
  (resume) -> the resume call, which a pruning fix should shorten;
* ``operators.urls.*``, ``operators.curate.*``, ``jobs.ingest.glue_s`` ->
  ``job_s`` on ``ingest_recrawl``; no change predicted on ``extract_mixed``;
* ``session.build_s`` -> ``setup_s``.
"""

from __future__ import annotations

import gzip
import os
import statistics
import sys
import time
from typing import Callable, Dict, List

import inputs
from harness import CORES, _m
from tracing import MB, Tracer, span_s

KERNEL_SAMPLE = 1000  # first pages of the input, the same for every workload
SOURCE_SAMPLE = 2000  # first pages of pages_df looked up in the written input
PROBE_REPS = 3  # repetitions of the probes that take under a second
HALF = 32  # the resume probe starts with buckets 0..HALF-1 of 64 committed


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_ms(fn: Callable[[], None], reps: int = PROBE_REPS) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t) * 1000)
    return statistics.median(times)


def _decode_html(payload: bytes):
    """Decoded HTML of a generated payload, or None for PDF and malformed ones."""
    from document_automation_spark.kernels.pdf_extract import looks_like_pdf

    if payload[:2] == b"\x1f\x8b":
        payload = gzip.decompress(payload)
    if looks_like_pdf(payload):
        return None
    for codec in ("utf-8", "gbk"):
        try:
            return payload.decode(codec)
        except UnicodeDecodeError:
            pass
    return None


def kernel_metrics(tracer: Tracer, seed: int) -> Dict:
    from document_automation_spark.kernels.html_fast import extract_main_text_html_fast
    from document_automation_spark.kernels.page import extract_page
    from document_automation_spark.kernels.pdf_extract import extract_text_pdf, looks_like_pdf
    from document_automation_spark.kernels.textproc import extract_document

    pages = inputs.base_pages(seed, KERNEL_SAMPLE)
    payloads = [p["html"] for p in pages]
    htmls = [h for h in map(_decode_html, payloads) if h is not None]
    pdfs = [p for p in payloads if looks_like_pdf(p)]
    texts = [extract_main_text_html_fast(h) for h in htmls] + [extract_text_pdf(p) for p in pdfs]

    with tracer.span("kernels.page.extract_page", spark_job=False):
        page_ms = _median_ms(lambda: [extract_page(p["url"], p["html"]) for p in pages])
    with tracer.span("kernels.html_fast.extract_main_text_html_fast", spark_job=False):
        html_ms = _median_ms(lambda: [extract_main_text_html_fast(h) for h in htmls])
    with tracer.span("kernels.pdf_extract.extract_text_pdf", spark_job=False):
        pdf_ms = _median_ms(lambda: [extract_text_pdf(p) for p in pdfs])
    with tracer.span("kernels.textproc.extract_document", spark_job=False):
        text_ms = _median_ms(lambda: [extract_document(t) for t in texts])
    return {
        "kernels.page.pages_per_s_core": _m(len(pages) / (page_ms / 1000), "pages/s"),
        "kernels.html_fast.ms_per_kpage": _m(html_ms * 1000 / len(htmls), "ms"),
        "kernels.pdf_extract.ms_per_kpage": _m(pdf_ms * 1000 / max(1, len(pdfs)), "ms"),
        "kernels.textproc.ms_per_kpage": _m(text_ms * 1000 / len(texts), "ms"),
    }


def trace_layers(bench) -> Dict:
    """Per-layer metrics, in wall seconds; the spans go to one JSON file."""
    tracer = Tracer(bench.spark.sparkContext, enabled=True)
    with tracer.span(f"workload.{bench.workload}", spark_job=False):
        m = _probe_layers(bench, tracer)
    os.makedirs(os.path.join(bench.work, "traces"), exist_ok=True)
    tracer.dump(
        os.path.join(bench.work, "traces", f"{bench.workload}-s{bench.seed}.json"),
        {
            "workload": bench.workload,
            "seed": bench.seed,
            "session_s": bench.session_s,
            "op_s": bench.op_times,
            "metrics": m,
        },
    )
    return m


def _probe_layers(bench, tracer: Tracer) -> Dict:
    from pyspark.sql import functions as F

    from document_automation_spark.jobs.ingest_pipeline import run_ingest_pipeline
    from document_automation_spark.operators.curate import curate_extracted
    from document_automation_spark.operators.extract import extract_documents
    from document_automation_spark.operators.urls import dedup_by_url
    from document_automation_spark.plans.checkpoint import done_buckets, read_output
    from document_automation_spark.sources.pages import pages_df

    spark, expected, run_dir = bench.spark, bench.expected, bench.run_dir
    extracting = bench.workload == "extract_mixed"
    m: Dict[str, Dict] = {}

    def probe(name: str, fn: Callable[[], object], reps: int = 1) -> Dict:
        """Run ``fn`` ``reps`` times, each under its own span; return the
        span of median duration."""
        recs = []
        for _ in range(reps):
            with tracer.span(name) as rec:
                fn()
            recs.append(rec)
        return sorted(recs, key=span_s)[len(recs) // 2]

    def check(name: str, path: str, expect: Dict, curated: bool = False) -> None:
        bench.attempted += 1
        got = bench.output_digest(path, curated)
        if got != expect["digest"]:
            bench.failed += 1
            print(f"perfbench: {name} output {got} != oracle {expect['digest']}", file=sys.stderr)

    def count_check(name: str, got: int, want: int) -> None:
        bench.attempted += 1
        if got != want:
            bench.failed += 1
            print(f"perfbench: {name} = {got}, oracle says {want}", file=sys.stderr)

    m.update(kernel_metrics(tracer, bench.seed))
    m["session.build_s"] = _m(bench.session_s, "s")

    # sources: the engine's own generator's first pages are in the written input
    pages = bench.pages
    with tracer.span("sources.pages_df"):
        cols = ["url", "warc_ts", F.sha2("html", 256), "text", "lang"]
        sample = pages_df(spark, min(SOURCE_SAMPLE, bench.n_pages), bench.seed)
        missing = sample.select(*cols).exceptAll(pages.select(*cols)).count()
    count_check("sources.pages_df missing pages", missing, 0)

    # sources: the input scan to a noop sink
    rec = probe("sources.scan", lambda: _noop(pages.select("url", "warc_ts", "html")), PROBE_REPS)
    m["sources.scan_s"] = _m(span_s(rec), "s")
    m["sources.input_mb"] = _m(bench.meta["input_bytes"] / MB, "MB")

    # tracing overhead: the workload's own op untraced, traced, untraced, so
    # that the two pairs run in opposite order and a JVM still warming up
    # biases neither side.  Each op is timed with its whole span (job group,
    # status-store read).  The traced op is also the probe of its layer; its
    # output is kept for the probes below.
    op_name = "plans.checkpoint.run_extraction_job" if extracting else "jobs.ingest.run_ingest_pipeline"
    times = []
    for i, on in enumerate((False, True, False)):
        tracer.enabled = on
        times.append(bench.op(f"op{i}", lambda: tracer.span(op_name), keep=on)[0])
        if on:
            op_rec, op_out = tracer.spans[-1], os.path.join(run_dir, f"op{i}")
    tracer.enabled = True
    m["trace.overhead_s"] = _m(times[1] - (times[0] + times[2]) / 2, "s")

    # operators.urls: the payload-light dedup path the ingest job uses
    registry: List = []
    deduped = None

    def dedup():
        nonlocal deduped
        deduped = dedup_by_url(pages, shuffle_payloads=False, cache_registry=registry).drop("canonical_url")
        _noop(deduped)

    rec = probe("operators.urls.dedup_by_url", dedup)
    m["operators.urls.dedup_s"] = _m(span_s(rec), "s")
    m["operators.urls.shuffle_write_mb"] = _m(rec["stages"]["shuffleWriteBytes"] / MB, "MB")
    losers = bench.meta["n_rows"] - deduped.count()
    m["operators.urls.losers"] = _m(losers, "count")
    count_check("operators.urls.losers", losers, expected["losers"])
    extract_input = pages
    if not extracting:
        path = os.path.join(run_dir, "deduped_pages")
        deduped.write.parquet(path)
        extract_input = spark.read.parquet(path)
    for handle in registry:
        handle.unpersist()

    # operators.extract: the Python kernel behind mapInPandas, to a noop sink
    n_extract = extract_input.count()
    rec = probe("operators.extract.extract_documents", lambda: _noop(extract_documents(extract_input)))
    noop_s = span_s(rec)
    m["operators.extract.noop_s"] = _m(noop_s, "s")
    m["operators.extract.busy_task_s"] = _m(rec["stages"]["executorRunTime"] / 1000, "s")
    m["operators.extract.n_tasks"] = _m(rec["stages"]["numCompleteTasks"], "count")
    core = m["kernels.page.pages_per_s_core"]["value"]
    m["operators.extract.boundary_overhead"] = _m(1 - (n_extract / noop_s) / (CORES * core), "ratio")

    # plans.checkpoint, fresh write into an empty directory: the workload's
    # op on extract_mixed, the extraction step of the ingest otherwise
    if extracting:
        rec, fresh = op_rec, op_out
    else:
        fresh = os.path.join(run_dir, "fresh")
        rec = probe("plans.checkpoint.run_extraction_job", lambda: bench.extract(extract_input, fresh))
        check("plans.checkpoint.run_extraction_job", fresh, expected["extract"])
    fresh_s, fresh_busy = span_s(rec), rec["stages"]["executorRunTime"]
    m["plans.checkpoint.write_overhead_s"] = _m(fresh_s - noop_s, "s")
    m["plans.checkpoint.shuffle_write_mb"] = _m(rec["stages"]["shuffleWriteBytes"] / MB, "MB")
    m["plans.checkpoint.spill_mb"] = _m(rec["stages"]["diskBytesSpilled"] / MB, "MB")
    m["plans.checkpoint.files_written"] = _m(
        sum(f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(fresh, "data")) for f in fs), "count"
    )

    # plans.checkpoint, resume of a directory with buckets 0..HALF-1 committed
    half = os.path.join(run_dir, "half")
    probe("plans.checkpoint.prepare_half", lambda: bench.extract(extract_input, half, fail_buckets_above=HALF))
    rec = probe("plans.checkpoint.done_buckets", lambda: done_buckets(spark, half, bench.fp), PROBE_REPS)
    m["plans.checkpoint.manifest_s"] = _m(span_s(rec), "s")
    rec = probe("plans.checkpoint.resume", lambda: bench.extract(extract_input, half))
    check("plans.checkpoint.resume", half, expected["extract"])
    m["plans.checkpoint.resume_s"] = _m(span_s(rec), "s")
    m["plans.checkpoint.resume_busy_ratio"] = _m(rec["stages"]["executorRunTime"] / fresh_busy, "ratio")

    # jobs.ingest: the default recipe, the workload's op on ingest_recrawl
    if extracting:
        ingest = os.path.join(run_dir, "ingest")
        rec = probe("jobs.ingest.run_ingest_pipeline", lambda: run_ingest_pipeline(spark, pages, ingest, bench.fp))
        check("jobs.ingest.run_ingest_pipeline", os.path.join(ingest, "curated"), expected["ingest"], curated=True)
    else:
        rec, ingest = op_rec, op_out
    ingest_s = span_s(rec)

    # operators.curate: the ingest's curation step on the ingest's own output
    curated_path = os.path.join(run_dir, "curated")
    collect = None

    def curate():
        nonlocal collect
        curated, collect = curate_extracted(read_output(spark, ingest, with_sha=True), sha_is_complete=True)
        curated.write.option("compression", "zstd").option("parquet.compression.codec.zstd.level", "1").parquet(
            curated_path
        )

    rec = probe("operators.curate.curate_extracted", curate)
    n_deduped = collect().first()["deduped"]
    check("operators.curate.curate_extracted", curated_path, expected["ingest"], curated=True)
    count_check("operators.curate.deduped", n_deduped, expected["ingest"]["deduped"])
    m["operators.curate.curate_s"] = _m(span_s(rec), "s")
    m["operators.curate.deduped"] = _m(n_deduped, "count")
    m["operators.curate.shuffle_write_mb"] = _m(rec["stages"]["shuffleWriteBytes"] / MB, "MB")
    m["jobs.ingest.glue_s"] = _m(ingest_s - m["operators.urls.dedup_s"]["value"] - fresh_s - span_s(rec), "s")

    return m
