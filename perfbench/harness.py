"""Workloads, set-up and the timed loop.

Two workloads drive the engine's public entry points on ``local[4]``:

* ``extract_mixed``: ``plans.checkpoint.run_extraction_job`` into an empty
  directory over the v2 page mix.  Per-page work (kernel, bucket shuffle,
  parquet write) is about half of an op; url dedup and curation are not
  called.  North-star throughput.
* ``ingest_recrawl``: the default ``jobs.ingest_pipeline.run_ingest_pipeline``
  (url dedup -> durable extract -> curated copy) over the pages plus a 20 %
  re-crawl slice and a 10 % url-variant slice.  Without duplicates url dedup
  takes its ``isEmpty()`` fast path, so the slices are what make the loser
  anti-join, full canonicalization and curation's dedup do work.  The
  per-job cost of the chained Spark jobs is most of an op.

The resume path of ``run_extraction_job`` is measured layer by layer in the
traced run of both workloads (see ``layers``).

Every job call is one op.  An op fails when it raises or when the digest of
its output differs from the pure-Python oracle in ``inputs``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from multiprocessing import resource_tracker
from contextlib import nullcontext
from typing import Callable, ContextManager, Dict, List, Tuple

import inputs
from tracing import MB, RssSampler, host_context

CORES = 4
HEAP = "2g"

#: workload -> (input kind, base pages, oracle the job output must match,
#: nominal seconds of one warm op on a 4-CPU host).  At 30 000 pages about
#: half of an extraction op grows with the pages; the rest is the per-job
#: cost of the 64-bucket write, the manifest and scheduling.
WORKLOADS = {
    "extract_mixed": ("mixed", 30000, "extract", 8.0),
    "ingest_recrawl": ("recrawl", 10000, "ingest", 12.0),
}


def _m(value: float, unit: str) -> Dict:
    return {"value": value, "unit": unit}


def json_line(obj) -> str:
    return json.dumps(obj, separators=(",", ":"))


class Bench:
    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.kind, self.n_pages, self.oracle_key, nominal_s = WORKLOADS[workload]
        # --seconds buys a fixed number of ops, so every run times the same
        # ops whatever the host's speed
        self.n_ops = max(1, round(seconds / nominal_s))
        self.work = os.path.join(root, ".perfbench_work")
        self.cache = os.path.join(self.work, "inputs")
        self.run_dir = os.path.join(self.work, "runs", f"{workload}-s{seed}-p{os.getpid()}")
        self.processes = max(1, min(CORES, len(os.sched_getaffinity(0))))
        self.fp = f"perfbench-{workload}-s{seed}"
        self.spark = None
        self.session_s = self.warmup_s = 0.0
        self.attempted = self.failed = 0
        self.op_times: List[float] = []

    # --- set-up ---------------------------------------------------------------

    def _conf(self) -> Dict[str, str]:
        tmp = os.path.join(self.run_dir, "tmp")
        java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={self.run_dir}"
        return {
            "spark.driver.memory": HEAP,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        }

    def start_session(self) -> None:
        """Cold start: launch the JVM, build the session, open the inputs."""
        from document_automation_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench", master=f"local[{CORES}]", extra_conf=self._conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.pages = self.spark.read.parquet(self.meta["pages_path"])
        self.session_s = time.perf_counter() - t0

    # --- the job under test ---------------------------------------------------

    def extract(self, pages, out: str, **kw) -> Dict:
        from document_automation_spark.plans.checkpoint import run_extraction_job

        return run_extraction_job(self.spark, pages, out, self.fp, **kw)

    def call(self, out: str) -> Dict:
        """The timed job call."""
        if self.workload == "ingest_recrawl":
            from document_automation_spark.jobs.ingest_pipeline import run_ingest_pipeline

            return run_ingest_pipeline(self.spark, self.pages, out, self.fp)
        return self.extract(self.pages, out)

    def output_digest(self, path: str, curated: bool) -> str:
        from pyspark.sql import functions as F

        from document_automation_spark.plans.checkpoint import read_output

        df = self.spark.read.parquet(path) if curated else read_output(self.spark, path)
        sha = F.sha2("content", 256).alias("content_sha")
        cols = ["url", "passage_idx", sha, "char_start", "char_end", "n_passages", "error"]
        return spark_digest(df.select(*cols))

    def op(
        self, name: str, span: Callable[[], ContextManager] = nullcontext, keep: bool = False
    ) -> Tuple[float, bool, int]:
        """One op: (seconds, correct, parquet bytes it committed).  The time
        covers the job call inside ``span()``, entry and exit included.  The
        output is deleted unless ``keep``; it is then under ``run_dir/name``."""
        out = os.path.join(self.run_dir, name)
        expect = self.expected[self.oracle_key]
        curated = self.workload == "ingest_recrawl"
        self.attempted += 1
        t = time.perf_counter()
        try:
            with span():
                summary = self.call(out)
            elapsed = time.perf_counter() - t
            got = self.output_digest(os.path.join(out, "curated") if curated else out, curated)
        except Exception:  # a raising job is a failed op, not a crashed benchmark
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            _rmtree(out)
            self.op_times.append(time.perf_counter() - t)
            return self.op_times[-1], False, 0
        ok = got == expect["digest"] and summary.get("deduped") == expect.get("deduped")
        if not ok:
            print(f"perfbench: {self.workload} output {got} != oracle {expect['digest']}", file=sys.stderr)
            self.failed += 1
        written = inputs.parquet_bytes(out)
        if not keep:
            _rmtree(out)
        self.op_times.append(elapsed)
        return elapsed, ok, written

    # --- runs -----------------------------------------------------------------

    def run(self) -> Dict:
        context = {"start": host_context()}
        os.makedirs(self.run_dir, exist_ok=True)
        try:
            # inputs and oracle are generated once per seed and size, and are
            # not part of set-up: later runs of the seed read them from cache
            t = time.perf_counter()
            self.meta, self.expected = inputs.prepare(self.cache, self.kind, self.seed, self.n_pages, self.processes)
            context["inputs_s"] = time.perf_counter() - t
            self.start_session()
            # warm-up: one checked op on the full input, so that Python
            # workers, class loading and JIT compilation of the job's whole
            # path precede the timed ops
            self.warmup_s = self.op("warmup")[0]
            if self.trace:
                from layers import trace_layers

                metrics = trace_layers(self)
            else:
                metrics = self.measure()
        finally:
            if self.spark is not None:
                _stop_spark(self.spark)
            _rmtree(self.run_dir)
            # the spawned pools of inputs.prepare start multiprocessing's resource tracker
            resource_tracker._resource_tracker._stop()
        context.update(end=host_context(), session_s=self.session_s, op_s=self.op_times)
        print(json_line({"context": context}))
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def setup_s(self) -> float:
        """Set-up time: the cold session start plus the warm-up op."""
        return self.session_s + self.warmup_s

    def measure(self) -> Dict:
        times, written = [], []
        with RssSampler() as rss:
            for _ in range(self.n_ops):
                elapsed, ok, nbytes = self.op(f"op{self.attempted}")
                if ok:
                    times.append(elapsed)
                    written.append(nbytes)
        job_s = statistics.median(times or self.op_times)
        return {
            "job_s": _m(job_s, "s"),
            "pages_per_s": _m(self.meta["n_rows"] / job_s, "pages/s"),
            "bytes_written_per_input_byte": _m(statistics.median(written or [0]) / self.meta["input_bytes"], "ratio"),
            "peak_rss_mb": _m(rss.peak / MB, "MB"),
            "setup_s": _m(self.setup_s(), "s"),
        }


def spark_digest(df) -> str:
    """``inputs.digest`` of the rows of ``df``, computed in Spark.  Each row's
    sha256 is split into eight 32-bit words and each word position is summed
    (no overflow below 2**31 rows); the sums are recombined here with carries,
    which gives the row-hash sum modulo 2**256 exactly."""
    from pyspark.sql import functions as F

    text = F.concat_ws("\x1f", *[F.coalesce(df[c].cast("string"), F.lit("\x00")) for c in df.columns])
    hashed = df.select(F.sha2(text, 256).alias("h"))
    words = [F.sum(F.conv(F.substring("h", 8 * k + 1, 8), 16, 10).cast("long")) for k in range(8)]
    count, *sums = hashed.agg(F.count(F.lit(1)), *words).first()
    total = sum((w or 0) << (32 * (7 - k)) for k, w in enumerate(sums)) & ((1 << 256) - 1)
    return f"{count}:{total:064x}"


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until it exits."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
