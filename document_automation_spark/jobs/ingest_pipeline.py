"""The full crawl-ingest recipe, one spark-submit entry point:

    pages (parquet | WARC | WET | synthesized)
      → [--robots SNAPSHOT]         REP opt-out gate (blocked pages never
                                     reach extraction)
      → url-level dedup            (operators/urls.dedup_by_url, newest wins)
      → [--link-graph]              host + registrable-domain PageRank
                                     artifacts off the same gated pages
      → durable extraction          (plans/checkpoint.run_extraction_job:
                                     bucketed write + resume manifests)
      → curation                    (operators/curate: quarantine drop,
                                     gates, exact dedup — physical copy,
                                     tombstone view or fused into the write)
      → corpus stages, one runner, in this order (_corpus_stages):
          [--fix-encoding]          mojibake repair + exact re-dedup
          [--dedup-against PRIOR]   cross-snapshot dedup against a prior
                                     corpus ("xsnap")
          [--cut-dup-spans]         exact-substring span surgery
          [--dedup-paragraphs]      CCNet cross-document paragraph dedup
          [--quality-filter]        Gopher/C4 repetition gate
          [--decontaminate / --redact-pii]
                                    corpus hygiene: eval-set n-gram drop,
                                     PII redaction
          [--quality-classifier]    GPT-3-style learned quality filter
          [--dsir-target]           DSIR importance resampling
          [--train-bpe]             BPE merge table + per-row token counts
          [--embed]                 hash-embed + dense vector ids →
                                     embeddings table (the ANN/serving input)
          [--semantic-dedup T]      SemDeDup over those embeddings (corpus
                                     + embeddings both cut)
          [--pack-seqlen N]         LM-batcher chunk map
      → curated passages table + per-stage stats

This is the composition a reference user runs end to end (the reference's
gen-sods-doc-image-ray.py indexing flow, minus its head-node funnels);
every stage is the already-tested operator — this module only wires them.

Cluster usage:

    spark-submit --py-files dazspark.zip \\
        document_automation_spark/jobs/ingest_pipeline.py \\
        --warc s3://bucket/segments/ --output s3://bucket/corpus/ \\
        --input-fingerprint cc-2024-08 --buckets 4096 --scripts latin,zh

Local smoke:

    spark-submit document_automation_spark/jobs/ingest_pipeline.py \\
        --synthesize 500 --output /tmp/corpus --input-fingerprint demo
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from contextlib import contextmanager
from types import SimpleNamespace
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@contextmanager
def _conf_override(spark: SparkSession, key: str, value: str):
    """Set a session conf for one pipeline stage, restoring the caller's
    value afterwards (the caller may have tuned it for a DIFFERENT stage)."""
    before = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _rederive_identities(df: DataFrame, text_col: str = "content") -> DataFrame:
    """Recompute BOTH content-derived identities after a text rewrite:
    ``doc_id``'s invariant is sha256(url || content) (kernels/page.
    doc_id_for — sha2 over the UTF-8 concat matches hexdigest) and
    ``content_sha`` is the dedup key.  Every rewriting stage calls THIS —
    the invariant lives in one place."""
    return df.withColumn(
        "doc_id", F.sha2(F.concat(F.col("url"), F.col(text_col)), 256)
    ).withColumn("content_sha", F.unhex(F.sha2(F.col(text_col), 256)))


def _release(cache: list) -> None:
    """Unpersist every handle in the registry and empty it — targeted,
    never clearCache() (the caller may hold persisted data of its own)."""
    while cache:
        cache.pop().unpersist()


def _counters(obs: Observation | None, prefix: str = "") -> dict:
    """An Observation's metrics as summary ints (sum() is NULL on empty input)."""
    return {f"{prefix}{k}": int(v or 0) for k, v in obs.get.items()} if obs else {}


def _paragraph_mode(spec: str) -> tuple[str, bool, int] | None:
    """Parse ``first[+norm]`` / ``common[+norm][:MIN_DOCS]`` into
    (mode, normalize, min_docs); None when malformed."""
    mode, _, min_docs = spec.partition(":")
    mode, _, flag = mode.partition("+")
    # 'common:3+norm' (the natural mis-ordering of '+norm') must fail here,
    # not hours later at the paragraph stage's int() call
    if mode not in ("first", "common") or flag not in ("", "norm") or (
        min_docs and not min_docs.isdigit()
    ):
        return None
    return mode, flag == "norm", int(min_docs or 2)


class Stage(NamedTuple):
    """One corpus stage of the runner.  ``apply(docs, rows_in, write)``
    gets the current curated table with ``content`` renamed to ``text``
    and the number of rows in it; a stage that produces a new curated
    table hands it to ``write(df, table)``, which returns its row count.
    ``apply`` returns the stage's summary counters."""

    name: str  # the keyword(s) that switch the stage on
    enabled: bool
    apply: Callable[..., dict]


def run_ingest_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    input_fingerprint: str,
    cfg=None,
    url_dedup: bool = True,
    min_chars: int | None = None,
    scripts=None,
    drop_exact_dups: bool = True,
    from_text: bool = False,
    cut_dup_spans: bool = False,
    span_k: int = 32,
    dedup_paragraphs_mode: str | None = None,
    quality_filter: bool = False,
    quality_rules=None,
    curated_mode: str = "copy",
    decontaminate_path: str | None = None,
    decontaminate_ngram: int = 13,
    pii_redact: bool = False,
    embed: bool = False,
    embed_dim: int = 16,
    semantic_dedup_threshold: float | None = None,
    semantic_clusters: int = 16,
    pack_seqlen: int | None = None,
    robots_path: str | None = None,
    robots_agent: str = "CCBot",
    link_graph: bool = False,
    pagerank_iters: int = 5,
    classifier_good_path: str | None = None,
    classifier_alpha: float = 9.0,
    dedup_against_path: str | None = None,
    trust_existing_sha: bool = False,
    fix_encoding: bool = False,
    dsir_target_path: str | None = None,
    dsir_keep_frac: float = 0.5,
    train_bpe_merges: int | None = None,
    bpe_min_freq: int = 2,
) -> dict:
    """Run the whole recipe; returns a summary dict (stage counters).

    Every cross-stage rule is checked (``_validate``) before any Spark job
    runs.  The corpus-stage keywords are documented at their entries in
    :func:`_corpus_stages`.

    ``curated_mode``: ``"copy"`` (default) materializes the curated
    passages as a second physical table — right for a one-shot training
    dump read many times.  ``"view"`` materializes only the dup-loser
    TOMBSTONE table + gate config (``operators.curate.curation_tombstones``)
    — at 100 TB this halves ingest write bytes, and consumers reconstruct
    the curated view with :func:`read_curated` (gates re-evaluate at scan
    speed, losers broadcast-anti-join).  ``"fused"`` curates IN-FLIGHT:
    gates + exact dedup run between the extraction kernel and the one
    durable write, so the corpus table IS the curated table (quarantine
    rows retained with ``error`` set — filter ``error IS NULL`` to read
    the curated view); fastest wall-clock at small/medium scale, at the
    cost of persisting the extracted rows for the job's duration (the
    dup-loser subquery reads them twice).  Every corpus stage but
    ``embed`` requires ``"copy"``: they read or rewrite the physical
    curated table.

    ``from_text=True`` takes the WET path (documents_from_text over the
    pre-extracted ``text`` column) instead of HTML/PDF extraction; both
    paths run through ``run_extraction_job`` (via its ``docs_fn``
    parameter), so the WET path gets the identical durable write, resume
    manifests, and real per-bucket counters.
    """
    o = SimpleNamespace(**locals())  # first statement: exactly the keywords
    from pyspark import StorageLevel

    from document_automation_spark.operators.curate import (
        STATS_SCHEMA,
        curate_extracted,
        curation_tombstones,
    )
    from document_automation_spark.operators.extract import (
        ExtractConfig,
        documents_from_text,
        extract_documents,
    )
    from document_automation_spark.operators.urls import dedup_by_url
    from document_automation_spark.plans.checkpoint import (
        data_path,
        read_output,
        run_extraction_job,
        write_parquet,
    )
    from document_automation_spark.plans.metrics import one_row

    summary: dict = {}
    cache: list = []  # every persisted handle; released in the finally below
    stages = _corpus_stages(spark, o, summary, cache)
    _validate(o, stages)
    cfg = cfg or ExtractConfig()
    try:
        if robots_path:
            # ``robots_path`` prepends the robots-exclusion opt-out gate
            # (``operators.robots``): pages whose host's robots.txt
            # disallows ``robots_agent`` (Google-REP precedence) are dropped
            # BEFORE url dedup and extraction — the retroactive opt-out pass
            # a responsible LLM pipeline runs against a robots snapshot
            # table ``(host, robots_txt)``.  Summary gains ``robots_blocked``.
            # The blocked count is one extra pass over the pruned (url)
            # projection — the html payload is untouched by both the count
            # and the gate filter (row-local after the host join).
            # Deliberately NOT an Observation riding the extraction write: a
            # CollectMetrics node between the gate and the downstream
            # url-dedup would pin this subplan and block the
            # allowed-filter/projection pushdown that keeps the
            # payload-light dedup path narrow; the count pass costs one host
            # join over urls, far below that risk.
            from document_automation_spark.operators.robots import parse_robots, robots_gate

            rules = parse_robots(spark.read.parquet(robots_path))
            gated = robots_gate(pages, rules, agent=robots_agent)
            summary["robots_blocked"] = (
                gated.where(~F.col("allowed")).select(F.lit(1)).count()
            )
            pages = gated.where(F.col("allowed")).drop("allowed")

        if url_dedup:
            # payload-light path: ranking runs on a narrow projection and only
            # the (few) superseded re-crawl / double-ingest keys touch payloads
            # — the html column of clean rows never enters a shuffle
            # (see operators/urls.py)
            pages = dedup_by_url(
                pages, shuffle_payloads=False, cache_registry=cache
            ).drop("canonical_url")

        docs_fn = documents_from_text if from_text else extract_documents
        curation = dict(
            min_chars=min_chars, scripts=scripts, drop_exact_dups=drop_exact_dups
        )
        fused_stats: list = []
        if curated_mode == "fused":
            # FUSED mode: curation (gates + exact dedup) runs BETWEEN the
            # extraction kernel and the one durable write — the corpus table
            # IS the curated table, so the composed ingest pays a single
            # write instead of write-read-write (measured: the curated copy
            # pass alone is ~5 s of the 200k-page composed job).  Quarantine
            # rows are RETAINED in the table (filter ``error IS NULL`` to
            # read the curated view) so the audit trail survives without a
            # side write.  The dup-loser subquery re-reads the extraction
            # lineage, so the extracted docs persist for the job's duration —
            # the memory-footprint trade that makes this the small/medium-
            # scale mode: at 100 TB prefer 'view' (metadata-only curation) or
            # 'copy' (write-then-curate, nothing persisted).
            # The dedup must see EVERY bucket, so this builder ignores the
            # pending-bucket pages a resume hands it and extracts the full
            # `pages`; the durable writer drops the done buckets after it.
            extract_fn, all_pages = docs_fn, pages

            def docs_fn(_pending, cfg_):
                docs = extract_fn(all_pages, cfg_).persist(StorageLevel.MEMORY_AND_DISK)
                cache.append(docs)
                curated, collect = curate_extracted(
                    docs, keep_quarantined=True, **curation
                )
                fused_stats.append(collect)
                return curated

        if link_graph:
            # runs on the SAME gated+deduped pages the extractor consumes —
            # blocked hosts contribute no edges, re-crawls don't double-count;
            # running BEFORE extraction warms the url-dedup persist both share
            summary.update(
                _link_graph_stage(spark, pages, output_path, n_iters=pagerank_iters)
            )

        # both payload paths run through the SAME durable writer: bucketed
        # dynamic-overwrite data commit + per-bucket resume manifests + real
        # counter totals (a crashed --wet run resumes exactly like --warc)
        summary.update(
            run_extraction_job(
                spark, pages, output_path, input_fingerprint, cfg, docs_fn=docs_fn
            )
        )
        _release(cache)  # the url-dedup keys and fused docs served extraction only

        # content_sha completeness: THIS run's writer populates content_sha for
        # every row it writes — but a RESUMED run keeps already-done buckets
        # verbatim, and those may predate the sha-writing writer (NULL shas).
        # Keying curation on a NULL sha would collapse every legacy row into one
        # dedup group and silently drop all but one.  Only trust the pruned-scan
        # path when zero buckets were carried over from a previous run; a resumed
        # run falls back to curate's coalesce(sha, re-hash) guard.
        sha_complete = summary.get("buckets_skipped", 0) == 0

        # Stage-appropriate input split size: extraction wants FINE splits
        # (the per-row kernel is CPU-bound, so callers often set
        # maxPartitionBytes to a few MB for the pages scan), but every pass
        # from here on re-reads already-columnar parquet at IO speed — tiny
        # splits just multiply task/file/zstd-stream overhead.  Measured at
        # the 200k-page composed ingest: the curated copy pass is 9.9 s under
        # a 4 MB split vs 4.2-4.6 s at 128/32 MB.  32 MB keeps ~4x more tasks
        # in flight than the 128 MB default at this corpus size (straggler
        # headroom) at the same measured cost; the caller's value is restored
        # after the pipeline (it may be extraction-tuned).
        with _conf_override(spark, "spark.sql.files.maxPartitionBytes", "32m"):
            if curated_mode == "fused":
                stats_row = fused_stats[0]().first().asDict()
                summary.update(curated_mode="fused", curated_path=data_path(output_path))

                def read_docs() -> DataFrame:
                    return read_output(spark, output_path).filter(F.col("error").isNull())

            elif curated_mode == "view":
                losers, collect_in_counts = curation_tombstones(
                    read_output(spark, output_path, with_sha=True),
                    sha_is_complete=sha_complete,
                    **curation,
                )
                losers_path = os.path.join(output_path, "curation_losers")
                # no separate stats action: the input counters AND the loser
                # count both ride the loser write as Observations (a re-read +
                # count() after the write would be one more full job — at small
                # scale these fixed action costs dominate the composed wall)
                obs_losers = Observation("loser_count")
                losers.observe(
                    obs_losers, F.count(F.lit(1)).alias("n_losers")
                ).write.mode("overwrite").parquet(losers_path)
                n_losers = int(obs_losers.get["n_losers"] or 0)
                stats_row = collect_in_counts()
                stats_row["deduped"] = n_losers
                stats_row["rows_out"] = (
                    stats_row["rows_in"] - stats_row["quarantined"]
                    - stats_row["gated"] - n_losers
                )
                # persist the gate config so read_curated applies the SAME policy
                one_row(
                    spark,
                    "min_chars int, scripts string",
                    dict(min_chars=min_chars, scripts=",".join(scripts) if scripts else None),
                ).write.mode("overwrite").json(os.path.join(output_path, "_curation_config"))
                summary.update(curated_mode="view", losers_path=losers_path)

                def read_docs() -> DataFrame:
                    return read_curated(spark, output_path)

            else:
                curated, collect_stats = curate_extracted(
                    read_output(spark, output_path, with_sha=True),
                    sha_is_complete=sha_complete,
                    **curation,
                )
                # ONE action runs the whole curation: stage counters ride the
                # write as CollectMetrics observations (read afterwards)
                summary["curated_path"] = os.path.join(output_path, "curated")
                write_parquet(curated, summary["curated_path"])
                stats_row = collect_stats().first().asDict()

                def read_docs() -> DataFrame:
                    return spark.read.parquet(summary["curated_path"])

            one_row(spark, STATS_SCHEMA, stats_row).write.mode("overwrite").parquet(
                os.path.join(output_path, "_curation_stats")
            )
            summary.update(stats_row)
            _run_stages(stages, read_docs, stats_row["rows_out"], output_path, summary, cache)
    finally:
        _release(cache)
    return summary


def _validate(o: SimpleNamespace, stages: list[Stage]) -> None:
    """Every cross-stage rule in one table, checked before any Spark job
    runs — a rejected config must cost nothing and pin nothing."""
    rules = [
        (
            o.curated_mode not in ("copy", "view", "fused"),
            f"curated_mode must be 'copy', 'view' or 'fused', got {o.curated_mode!r}",
        ),
        (
            o.semantic_dedup_threshold is not None and not o.embed,
            "semantic_dedup needs the embeddings the --embed stage writes",
        ),
        (
            o.link_graph and o.from_text,
            "link_graph needs html pages (WET text carries no anchors)",
        ),
        (
            o.dedup_paragraphs_mode is not None
            and _paragraph_mode(o.dedup_paragraphs_mode) is None,
            "dedup_paragraphs_mode must be 'first[+norm]' or "
            f"'common[+norm][:MIN_DOCS]', got {o.dedup_paragraphs_mode!r}",
        ),
        (
            not 0.0 < o.dsir_keep_frac <= 1.0,
            f"dsir_keep_frac must be in (0, 1], got {o.dsir_keep_frac}",
        ),
    ]
    # embed reads the curated VIEW every mode offers; every other corpus
    # stage reads or rewrites the physical curated table
    rules += [
        (
            s.enabled and s.name != "embed" and o.curated_mode != "copy",
            f"{s.name} reads the curated table and needs curated_mode='copy'",
        )
        for s in stages
    ]
    for broken, message in rules:
        if broken:
            raise ValueError(message)


def _run_stages(
    stages: list[Stage],
    read_docs: Callable[[], DataFrame],
    rows: int,
    output_path: str,
    summary: dict,
    cache: list,
) -> None:
    """The one corpus-stage runner: every enabled stage reads the current
    curated table (``content`` as ``text``), and each table it writes —
    zstd-1, with its row count riding the write as an Observation —
    becomes the current curated table for the next stage."""
    from document_automation_spark.plans.checkpoint import write_parquet

    def write(df: DataFrame, table: str) -> int:
        nonlocal rows
        obs = Observation()
        path = os.path.join(output_path, table)
        write_parquet(
            df.withColumnRenamed("text", "content").observe(
                obs, F.count(F.lit(1)).alias("rows")
            ),
            path,
        )
        rows = int(obs.get["rows"])
        summary["curated_path"] = path
        return rows

    for stage in stages:
        if stage.enabled:
            docs = read_docs().withColumnRenamed("content", "text")
            summary.update(stage.apply(docs, rows, write))
            _release(cache)


def _corpus_stages(
    spark: SparkSession, o: SimpleNamespace, summary: dict, cache: list
) -> list[Stage]:
    """The corpus stages after curation, in runner order.  Building the
    table runs nothing; each stage's work happens in its ``apply``."""
    from document_automation_spark.plans.checkpoint import write_parquet

    out = o.output_path

    # ``fix_encoding=True``: the encoding-repair stage
    # (``operators.encoding.repair_mojibake``): ftfy-style
    # UTF-8-as-cp1252 mojibake repair as one single-pass JVM expression
    # over the curated text.  Runs FIRST among the corpus stages — before
    # cross-snapshot dedup (a re-crawled page stored corrupted must match
    # its repaired copy in the prior corpus, so content identity is made
    # canonical before any comparison), before span/paragraph dedup
    # (repaired variants of the same text must dedup together) and before
    # every scoring stage (the LM / quality / classifier legs never see
    # corrupted bytes); identities re-derived as in every rewriting stage,
    # and (when ``drop_exact_dups``) the exact keeper rule is re-applied on
    # the repaired shas — curation's dedup keyed on UNREPAIRED content, so
    # a clean copy and a corrupted copy of the same text in one snapshot
    # both survived it and collide only here.  Summary gains
    # ``mojibake_repaired`` (surviving repaired rows — a repaired row that
    # then loses the re-applied dedup counts in) + ``mojibake_dedup_losers``.
    def fix_encoding(docs, rows_in, write):
        from document_automation_spark.operators.encoding import repair_mojibake

        # passes=2 also heals generation-2 mojibake ("Ã¢â‚¬â„¢" — a
        # corrupted page re-crawled through another bad proxy); a pass
        # over clean text is a no-op, so this is free for the common case
        repaired = _rederive_identities(
            repair_mojibake(docs, text_col="text", passes=2), text_col="text"
        )
        if o.drop_exact_dups:
            # re-apply curation's keeper rule (min (url, passage_idx) per
            # content key) on the repaired shas.  Curate's byte-identical
            # (url, passage_idx) collision guard is intentionally omitted:
            # post-curation rows have unique (url, passage_idx) by
            # construction (extraction emits one row per passage), so two
            # rows can never tie on the min key here.  A future caller
            # feeding NON-unique keys through this stage must add the guard
            # back.
            keep = repaired.groupBy("content_sha").agg(
                F.min(F.struct("url", "passage_idx")).alias("_keep")
            )
            repaired = (
                repaired.join(keep, "content_sha")
                .filter(
                    (F.col("url") == F.col("_keep.url"))
                    & (F.col("passage_idx") == F.col("_keep.passage_idx"))
                )
                .drop("_keep")
            )
        # Counter contract: mojibake_repaired counts SURVIVING repaired rows
        # (the Observation rides the post-dedup write), so a repaired row
        # that then loses the re-applied exact dedup is counted in
        # mojibake_dedup_losers, not here.  Observing pre-dedup instead
        # would pin a CollectMetrics node into a plan the keeper-rule
        # self-join reads twice.
        obs = Observation("fix_encoding")
        rows_out = write(
            repaired.observe(
                obs, F.sum(F.col("was_mojibake").cast("long")).alias("n")
            ).drop("was_mojibake"),
            "curated_encfix",
        )
        return {
            "mojibake_repaired": _counters(obs)["n"],
            "mojibake_dedup_losers": rows_in - rows_out,
        }

    # ``dedup_against_path``: cross-snapshot incremental dedup
    # (``operators.curate.dedup_against_corpus``): drop every curated row
    # whose content already exists in the previously-published corpus at
    # that path — the Common-Crawl monthly-snapshot recipe (most of each
    # snapshot is carry-over; dropping it here spares every later stage).
    # ``trust_existing_sha=True`` prunes the existing-corpus scan to its
    # ``content_sha`` column alone (pass it only for corpora written by
    # this engine's durable writer).  Summary gains ``xsnap_rows_in`` (the
    # rows that entered this stage) / ``xsnap_rows_kept``.  Runs right
    # after curation (only encoding repair precedes it, to canonicalize
    # content identity first — the comparison must see REPAIRED content
    # or every corrupted carry-over row leaks back in as a "fresh"
    # duplicate) so carried-over rows never reach span surgery / quality /
    # hygiene / classifier.
    def xsnap(docs, rows_in, write):
        from document_automation_spark.operators.curate import dedup_against_corpus

        fresh = dedup_against_corpus(
            # the dedup key's re-hash fallback reads ``content``
            docs.withColumnRenamed("text", "content"),
            spark.read.parquet(o.dedup_against_path),
            # a RESUMED extraction can carry pre-content_sha buckets
            # through untouched (buckets_skipped > 0) — null shas would
            # silently bypass the anti-join, so only trust the pruned path
            # when this run materialized every bucket itself OR when the
            # encoding-repair stage just re-derived every row's sha
            new_sha_complete=summary.get("buckets_skipped", 0) == 0 or o.fix_encoding,
            existing_sha_complete=o.trust_existing_sha,
        )
        rows_kept = write(fresh, "curated_incremental")
        return {"xsnap_rows_in": rows_in, "xsnap_rows_kept": rows_kept}

    # ``cut_dup_spans=True``: exact-substring span surgery (Lee et al.
    # 2022, ``operators.dedup.duplicate_spans``/``cut_spans``): every
    # ≥``span_k``-char window occurring in ≥2 curated passages is cut from
    # ALL of them (the policy of Lee et al.'s released ExactSubstr tool —
    # cross-document repeated substrings at this length are boilerplate).
    # One extra corpus read/write (the gram explode is the operator's
    # inherent cost); re-derives BOTH content-derived identities
    # (``doc_id``, ``content_sha``) for surgered rows.  Summary gains
    # ``cut_chars`` / ``spanned_passages``.
    def span_cut(docs, rows_in, write):
        from document_automation_spark.operators.dedup import cut_spans, duplicate_spans

        spans = duplicate_spans(docs, k=o.span_k, min_docs=2, cache_registry=cache)
        obs = Observation("span_cut")
        surgered = (
            cut_spans(docs, spans)
            .observe(
                obs,
                F.sum("n_cut_chars").alias("cut_chars"),
                F.sum((F.col("n_cut_chars") > 0).cast("long")).alias("spanned_passages"),
            )
            .drop("n_cut_chars")
        )
        write(_rederive_identities(surgered, text_col="text"), "curated_cut")
        return _counters(obs)

    # ``dedup_paragraphs_mode``: CCNet-style cross-document PARAGRAPH
    # dedup (``operators.dedup.dedup_paragraphs``) over the curated
    # passages: ``'first'`` keeps the globally-first copy of every
    # duplicated paragraph, ``'common[:MIN_DOCS]'`` cuts paragraphs shared
    # by ≥ MIN_DOCS distinct passages everywhere (template boilerplate —
    # cookie banners, navigation stubs); a ``'+norm'`` suffix on either
    # mode keys on the CCNet hash normalization (case / accents / digits /
    # unicode punctuation folded) so boilerplate VARIANTS dedup together.
    # Passages emptied by the cut are dropped; identities re-derived as in
    # the span stage.  Summary gains ``dropped_paragraphs`` /
    # ``para_deduped_passages`` / ``para_emptied_passages``.
    def paragraph_dedup(docs, rows_in, write):
        from document_automation_spark.operators.dedup import dedup_paragraphs

        mode, normalize, min_docs = _paragraph_mode(o.dedup_paragraphs_mode)
        out = dedup_paragraphs(
            # passages share doc_id — the dedup row key must be unique
            # (and deterministically ordered for 'first' mode)
            docs.withColumn("_row_key", F.concat_ws(":", "doc_id", "passage_idx")),
            mode=mode,
            min_docs=min_docs,
            id_col="_row_key",
            normalize=normalize,
        )
        obs = Observation("para_dedup")
        surgered = (
            out.observe(
                obs,
                F.sum("n_dropped_paragraphs").alias("dropped_paragraphs"),
                F.sum((F.col("n_dropped_paragraphs") > 0).cast("long")).alias(
                    "para_deduped_passages"
                ),
                F.sum((F.trim("text") == "").cast("long")).alias("para_emptied_passages"),
            )
            # a passage whose every paragraph was boilerplate is gone
            .where(F.trim("text") != "")
            .drop("_row_key", "n_dropped_paragraphs")
        )
        write(_rederive_identities(surgered, text_col="text"), "curated_paradedup")
        return _counters(obs)

    # ``quality_filter=True``: the Gopher/C4 repetition gate
    # (``operators.webtext_quality.filter_by_quality``; thresholds from
    # ``quality_rules``, default the published Gopher bounds) — a
    # zero-shuffle expression gate whose per-rule drop counters ride the
    # write as Observation metrics (summary gains ``quality_n_docs`` /
    # ``quality_n_kept`` / ``quality_drop_<rule>``).
    def quality(docs, rows_in, write):
        from document_automation_spark.operators.webtext_quality import (
            QualityRules,
            filter_by_quality,
        )

        kept, obs = filter_by_quality(docs, rules=o.quality_rules or QualityRules())
        write(kept, "curated_quality")
        return _counters(obs, "quality_")

    # ``decontaminate_path`` / ``pii_redact``: the corpus-HYGIENE stage:
    # GPT-3-style n-gram benchmark decontamination (drop every doc sharing
    # a ``decontaminate_ngram``-gram with the eval-set parquet at
    # ``decontaminate_path`` — ``operators.decontaminate``) and/or PII
    # redaction (``operators.pii.redact_pii``; content-derived identities
    # re-derived after the rewrite).  Both compose into ONE plan + ONE
    # write; counters land in the summary as ``decontam_*`` / ``pii_*``.
    def hygiene(docs, rows_in, write):
        from document_automation_spark.operators.decontaminate import decontaminate
        from document_automation_spark.operators.pii import redact_pii

        obs_d = obs_p = None
        if o.decontaminate_path:
            bench = spark.read.parquet(o.decontaminate_path).select("text")
            docs, obs_d = decontaminate(
                docs, bench, n=o.decontaminate_ngram, doc_id_col="doc_id"
            )
        if o.pii_redact:
            docs, obs_p = redact_pii(docs, count_cols=False)
            docs = _rederive_identities(docs, text_col="text")
        write(docs, "curated_hygiene")
        return {**_counters(obs_d, "decontam_"), **_counters(obs_p, "pii_")}

    # ``classifier_good_path``: the GPT-3-style learned quality filter
    # (``operators.quality_classifier``): train reference-vs-crawl logistic
    # regression (positives = the trusted parquet's ``text`` column,
    # negatives = a deterministic ~2×-positive hash-sample of the corpus
    # itself — raw crawl IS the negative class), score every curated doc in
    # the same map pass as the write (map-only MLlib transform, no
    # re-join), keep iff ``pareto(classifier_alpha) > 1 - score``
    # (importance sampling, not a hard cut).  Summary gains
    # ``classifier_n_docs`` / ``classifier_n_kept``; the filtered table
    # carries a ``quality_score`` column.
    def classifier(docs, rows_in, write):
        from pyspark.ml import PipelineModel

        from document_automation_spark.operators.mixing import uniform_hash_col
        from document_automation_spark.operators.quality_classifier import (
            pareto_importance_filter,
            score_quality,
            train_quality_classifier,
        )

        pos = spark.read.parquet(o.classifier_good_path).select("text")
        n_pos = pos.count()
        n_docs = docs.count()
        rate = min(1.0, (2.0 * n_pos) / max(n_docs, 1))
        neg = docs.select("doc_id", "text").where(uniform_hash_col("doc_id") < rate)
        model = train_quality_classifier(pos, neg.select("text"))
        # persist the model beside the corpus (the reusable artifact) AND
        # reload it — belt-and-braces against the training-summary
        # serialization hazard (train_quality_classifier now strips the
        # summary at fit time, and load() never carries one)
        model_path = os.path.join(out, "quality_classifier_model")
        model.write().overwrite().save(model_path)
        model = PipelineModel.load(model_path)
        scored = score_quality(docs, model, keep_all=True)
        n_kept = write(
            pareto_importance_filter(scored, alpha=o.classifier_alpha),
            "curated_classifier",
        )
        return {
            "classifier_path": summary["curated_path"],
            "classifier_n_docs": int(n_docs),
            "classifier_n_kept": n_kept,
            "classifier_n_pos": int(n_pos),
        }

    # ``dsir_target_path``: DSIR importance resampling (``operators.dsir``):
    # fit hashed-ngram bucket models to the trusted target parquet vs the
    # curated corpus itself, score every doc by the log-ratio sum, and
    # Gumbel-top-k the best ``dsir_keep_frac`` of the corpus — distribution
    # matching where the classifier stage is quality thresholding; they
    # compose (classifier first, then DSIR).  Uses the xxhash64 fast path
    # (the oracle-parity md5 leg lives in the ``dsir_selection`` seat).
    # Summary gains ``dsir_n_docs`` / ``dsir_n_kept``.
    def dsir(docs, rows_in, write):
        from document_automation_spark.operators.dsir import (
            dsir_resample,
            dsir_scores,
            train_dsir_weights,
        )

        target = spark.read.parquet(o.dsir_target_path).select("text")
        weights = train_dsir_weights(target, docs.select("text"), hash_impl="xxhash64")
        # selection is DOC-level: passages of one doc share its doc_id, so
        # dsir_scores' groupBy already concatenates a doc's grams; count docs
        # off the scored table (one row per doc) rather than corpus rows —
        # k derives from that exact count, which the scoring pass needs anyway
        scored = dsir_scores(
            docs.select("doc_id", "text"), weights, hash_impl="xxhash64"
        ).localCheckpoint()
        n_docs = scored.count()
        k = max(1, int(n_docs * o.dsir_keep_frac))
        kept_ids = dsir_resample(scored, k=k).select("doc_id", "dsir_score")
        write(docs.join(kept_ids, "doc_id"), "curated_dsir")
        return {
            "dsir_path": summary["curated_path"],
            "dsir_n_docs": int(n_docs),
            "dsir_n_kept": int(min(k, n_docs)),
        }

    # ``train_bpe_merges``: the tokenizer stage (``operators.bpe``): train a
    # BPE merge table on the final curated corpus (one corpus pass for word
    # frequencies, ``bpe_min_freq`` hapax prune, then merge rounds on the
    # word table alone), persist it as the reusable ``bpe_merges/``
    # artifact (rank order IS the tokenizer), and annotate every corpus row
    # with its BPE token count (``n_tokens_bpe`` — counts only; token
    # streams are the loader's job via ``encode_documents``).  When
    # ``pack_seqlen`` also runs, packing sizes chunks by BPE tokens instead
    # of whitespace tokens — the tokenizer→budget→pack chain a real LM data
    # pipeline runs.  Summary gains ``bpe_n_merges`` / ``bpe_vocab_words`` /
    # ``bpe_total_tokens``.
    def bpe(docs, rows_in, write):
        from document_automation_spark.operators.bpe import (
            count_tokens,
            learn_bpe,
            segment_vocabulary,
            word_frequencies,
        )

        wf = word_frequencies(docs, min_freq=o.bpe_min_freq).localCheckpoint()
        merges = learn_bpe(wf, o.train_bpe_merges)
        merges_path = os.path.join(out, "bpe_merges")
        spark.createDataFrame(
            [(i, a, b, m, int(n)) for i, (a, b, m, n) in enumerate(merges)],
            "rank int, a string, b string, merged string, pair_count long",
        ).repartition(1).write.mode("overwrite").parquet(merges_path)

        vocab = segment_vocabulary(wf, merges)
        # lpad TRUNCATES over-width input — pad to 10 digits (covers all of
        # int32) so huge-document passage indexes can never collide row keys
        row_key = F.concat_ws(
            "#", "url", F.lpad(F.col("passage_idx").cast("string"), 10, "0")
        )
        counts = count_tokens(
            docs.select(row_key.alias("_rk"), "text"),
            vocab,
            id_col="_rk",
            broadcast_vocab=True,
        )
        obs = Observation("bpe_stage")
        write(
            docs.withColumn("_rk", row_key)
            .join(counts, "_rk", "left")
            .drop("_rk")
            .withColumn("n_tokens_bpe", F.coalesce("n_tokens_bpe", F.lit(0)))
            .observe(obs, F.sum("n_tokens_bpe").alias("tot")),
            "curated_bpe",
        )
        return {
            "bpe_path": summary["curated_path"],
            "bpe_merges_path": merges_path,
            "bpe_n_merges": int(len(merges)),
            "bpe_vocab_words": int(wf.count()),
            "bpe_total_tokens": _counters(obs)["tot"],
        }

    # ``embed=True``: the reference's post-extraction EMBEDDING phase
    # (the reference's gen-sods-doc-image-ray.py:203-231: embed every
    # passage, assign the global dense vector_id, push to the index) as one
    # more distributed stage of the same spark-submit: hash-embed the
    # curated passages (the model slot — swap ``embed_documents`` for
    # ``embed_with_model`` + a real encoder factory and nothing else
    # changes), assign dense 0-based vector ids WITHOUT a global
    # single-partition window, write the ``embeddings`` table.  The ANN
    # operators (similarity/ivf) and the serving layer read this table
    # as-is.  Artifact-only (the curated table is unchanged) and the one
    # corpus stage every ``curated_mode`` runs.  Summary gains
    # ``embeddings_path`` / ``n_vectors``.
    def embed(docs, rows_in, write):
        from document_automation_spark.functions.embed import (
            assign_dense_vector_ids,
            embed_documents,
        )

        embedded = embed_documents(docs.select("doc_id", "text"), dim=o.embed_dim)
        with_ids = assign_dense_vector_ids(
            embedded, order_col="doc_id", cache_registry=cache
        )
        embeddings_path = os.path.join(out, "embeddings")
        write_parquet(with_ids, embeddings_path)
        n_vectors = spark.read.parquet(embeddings_path).count()
        return {"embeddings_path": embeddings_path, "n_vectors": n_vectors}

    # ``semantic_dedup_threshold``: SemDeDup
    # (``operators.similarity.semantic_dedup``) over the embeddings the
    # ``embed`` stage just wrote: k-means clusters (``semantic_clusters``),
    # within-cluster cosine pairs ≥ threshold, keep the
    # farthest-from-centroid member of every semantic group.  Loser
    # PASSAGES are anti-joined out of the corpus AND the embeddings table
    # (doc_id is a content-derived per-passage key, so the anti-join is
    # row-exact; vector ids keep their values — gaps mark dedup losers), so
    # the ANN/serving input never serves dropped content.  Runs before
    # ``pack_seqlen`` so chunk maps are built over the deduped corpus.
    # Summary gains ``semdedup_dropped`` and ``n_vectors`` shrinks to the
    # survivors.  Requires ``embed=True``.
    def semdedup(docs, rows_in, write):
        from document_automation_spark.operators.similarity import semantic_dedup

        emb = spark.read.parquet(summary["embeddings_path"]).withColumnRenamed(
            "vector_id", "vec_id"
        )
        flags = semantic_dedup(
            emb,
            n_clusters=o.semantic_clusters,
            threshold=o.semantic_dedup_threshold,
            cache_registry=cache,
        )
        losers = flags.where(~F.col("kept")).select("doc_id")
        kept_rows = write(docs.join(losers, "doc_id", "left_anti"), "curated_semdedup")
        embeddings_path = os.path.join(out, "embeddings_semdedup")
        write_parquet(
            flags.where(F.col("kept"))
            .withColumnRenamed("vec_id", "vector_id")
            .drop("bucket", "centroid_sim", "kept"),
            embeddings_path,
        )
        return {
            "semdedup_dropped": summary["n_vectors"] - kept_rows,
            "n_vectors": kept_rows,
            "embeddings_path": embeddings_path,
        }

    # ``pack_seqlen``: the LM-batcher stage: concat-chop sequence packing
    # (``operators.packing.pack_sequences``) over the final curated
    # passages into fixed-``pack_seqlen``-token chunks, sharded by the
    # durable ``bucket`` column (the output-file granularity, so every
    # shard's cumulative window is bucket-bounded — never corpus-global)
    # and ordered by the deterministic (doc_id, passage_idx) key; writes the
    # (passage × chunk) segment map to ``chunk_map/``, partitioned by bucket
    # like the corpus — the table a training loader joins to materialise
    # batches.  Chunks are sized by the BPE stage's ``n_tokens_bpe`` when it
    # ran, by whitespace tokens otherwise.  Artifact-only.  Summary gains
    # ``pack_n_chunks`` / ``pack_n_segments`` / ``pack_n_tokens``.
    def pack(docs, rows_in, write):
        from document_automation_spark.operators.packing import chunk_stats, pack_sequences

        tokens_col = "n_tokens_bpe" if o.train_bpe_merges is not None else None
        packed_in = docs.select(
            F.col("bucket").alias("shard"),
            # 10 digits covers all of int32 — lpad truncates over-width input,
            # so a narrower pad could collide pack_ids on huge documents
            F.concat_ws(
                "#", "doc_id", F.lpad(F.col("passage_idx").cast("string"), 10, "0")
            ).alias("pack_id"),
            "text",
            *([tokens_col] if tokens_col else []),
        )
        segments = pack_sequences(
            packed_in,
            seq_len=o.pack_seqlen,
            shard_col="shard",
            id_col="pack_id",
            tokens_col=tokens_col,
        )
        pack_path = os.path.join(out, "chunk_map")
        write_parquet(segments, pack_path, partition_by="shard")
        written = spark.read.parquet(pack_path)
        stats = (
            chunk_stats(written, shard_col="shard", id_col="pack_id")
            .agg(F.sum("n_chunks").alias("n_chunks"), F.sum("n_tokens").alias("n_tokens"))
            .first()
        )
        return {
            "pack_path": pack_path,
            "pack_seq_len": o.pack_seqlen,
            "pack_n_chunks": int(stats["n_chunks"] or 0),
            "pack_n_tokens": int(stats["n_tokens"] or 0),
            "pack_n_segments": int(written.count()),
        }

    return [
        Stage("fix_encoding", o.fix_encoding, fix_encoding),
        Stage("dedup_against_path", bool(o.dedup_against_path), xsnap),
        Stage("cut_dup_spans", o.cut_dup_spans, span_cut),
        Stage("dedup_paragraphs_mode", o.dedup_paragraphs_mode is not None, paragraph_dedup),
        Stage("quality_filter", o.quality_filter, quality),
        Stage("decontaminate_path/pii_redact", bool(o.decontaminate_path or o.pii_redact), hygiene),
        Stage("classifier_good_path", bool(o.classifier_good_path), classifier),
        Stage("dsir_target_path", bool(o.dsir_target_path), dsir),
        Stage("train_bpe_merges", o.train_bpe_merges is not None, bpe),
        Stage("embed", o.embed, embed),
        Stage("semantic_dedup_threshold", o.semantic_dedup_threshold is not None, semdedup),
        Stage("pack_seqlen", o.pack_seqlen is not None, pack),
    ]


def _link_graph_stage(
    spark: SparkSession, pages: DataFrame, output_path: str, n_iters: int = 5
) -> dict:
    """Crawl link-graph artifacts off the raw (gated, deduped) pages —
    the authority signal web curation mixes in (Common Crawl publishes
    both granularities of this ranking for every crawl).

    The html is scanned ONCE: host edges persist, and the domain edges
    derive from that (registrable-domain fold then distinct commutes
    with the host-level distinct — the fold is deterministic per pair).
    Writes ``link_graph/host_rank`` and ``link_graph/domain_rank``
    (node, rank); row counts ride the writes as Observations.  Rank
    tables are |hosts|-sized — feed them to
    ``operators.domains.filter_by_domain`` blocklists or mix
    token-weighted (``operators.mixing``) downstream."""
    from document_automation_spark.operators.linkgraph import (
        fold_edges_to_domains,
        host_link_edges,
        pagerank,
    )

    edges = host_link_edges(pages).persist()
    # persisted too: pagerank re-references its edge frame 2-3x per
    # iteration — unpersisted, the fold + distinct would recompute each time
    domain_edges = fold_edges_to_domains(edges).persist()
    out: dict = {}
    try:
        for tag, e in (("host", edges), ("domain", domain_edges)):
            obs = Observation(f"lg_{tag}")
            path = os.path.join(output_path, "link_graph", f"{tag}_rank")
            (
                pagerank(e, n_iters=n_iters)
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .parquet(path)
            )
            out[f"link_graph_{tag}_nodes"] = int(obs.get["n"] or 0)
            out[f"link_graph_{tag}_rank_path"] = path
    finally:
        edges.unpersist()
        domain_edges.unpersist()
    return out


def read_curated(spark: SparkSession, output_path: str) -> DataFrame:
    """Reconstruct the curated view from a ``curated_mode='view'`` run:
    raw documents table + persisted gate config + tombstone anti-join.
    Plan shape: pruned scan → row-local filters → broadcast anti-join —
    no shuffle, no second copy."""
    from document_automation_spark.operators.curate import apply_tombstones
    from document_automation_spark.plans.checkpoint import read_output

    cfg_rows = (
        spark.read.schema("min_chars int, scripts string")
        .json(os.path.join(output_path, "_curation_config"))
        .collect()
    )
    min_chars = cfg_rows[0].min_chars if cfg_rows else None
    scripts = cfg_rows[0].scripts.split(",") if cfg_rows and cfg_rows[0].scripts else None
    losers = spark.read.parquet(os.path.join(output_path, "curation_losers"))
    return apply_tombstones(
        read_output(spark, output_path, with_sha=True),
        losers,
        min_chars=min_chars,
        scripts=scripts,
    )


def _parser() -> argparse.ArgumentParser:
    """The CLI.  Every ``dest`` outside the source group and ``--buckets``
    is a :func:`run_ingest_pipeline` keyword, so ``main`` passes them
    through unchanged."""
    parser = argparse.ArgumentParser(description="crawl ingest: pages → curated corpus")
    src = parser.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="pages parquet path")
    src.add_argument("--warc", help="directory of .warc files")
    src.add_argument("--wet", help="directory of .wet files (text path)")
    src.add_argument("--synthesize", type=int, help="N deterministic fixture pages")
    parser.add_argument("--output", dest="output_path", metavar="OUTPUT", required=True)
    parser.add_argument("--input-fingerprint", required=True)
    parser.add_argument("--buckets", type=int, default=64)
    parser.add_argument("--min-chars", type=int, default=None)
    parser.add_argument(
        "--scripts",
        type=lambda s: s.split(",") if s else None,
        help="comma list, e.g. latin,zh",
    )
    parser.add_argument("--no-url-dedup", dest="url_dedup", action="store_false")
    parser.add_argument("--no-exact-dedup", dest="drop_exact_dups", action="store_false")
    parser.add_argument(
        "--cut-dup-spans",
        action="store_true",
        help="append exact-substring span surgery (Lee et al. 2022) over the curated corpus",
    )
    parser.add_argument("--span-k", type=int, default=32)
    parser.add_argument(
        "--robots",
        dest="robots_path",
        metavar="SNAPSHOT_PARQUET",
        help="robots.txt snapshot table (host, robots_txt): gate pages for "
        "--robots-agent under Google-REP precedence BEFORE extraction",
    )
    parser.add_argument("--robots-agent", default="CCBot")
    parser.add_argument(
        "--link-graph",
        action="store_true",
        help="write crawl link-graph artifacts (link_graph/host_rank and "
        "link_graph/domain_rank — PageRank at both granularities, the "
        "authority signal for domain curation); html pages only",
    )
    parser.add_argument("--pagerank-iters", type=int, default=5)
    parser.add_argument(
        "--dedup-paragraphs",
        dest="dedup_paragraphs_mode",
        metavar="MODE",
        help="append CCNet-style cross-document paragraph dedup over the "
        "curated passages: 'first' (globally-first copy survives) or "
        "'common[:MIN_DOCS]' (paragraph in >= MIN_DOCS distinct passages "
        "cut everywhere; default 2); '+norm' on either mode keys on the "
        "CCNet hash normalization (case/accents/digits/punct folded), "
        "e.g. 'first+norm' or 'common+norm:3'",
    )
    parser.add_argument(
        "--quality-filter",
        action="store_true",
        help="append the Gopher/C4 repetition-rule gate over the curated "
        "corpus (zero-shuffle; per-rule drop counters in the summary)",
    )
    parser.add_argument(
        "--decontaminate",
        dest="decontaminate_path",
        metavar="PARQUET",
        help="append benchmark decontamination: drop curated docs sharing "
        "an n-gram with the eval-set parquet (text column) at this path",
    )
    parser.add_argument("--decontaminate-ngram", type=int, default=13)
    parser.add_argument(
        "--redact-pii",
        dest="pii_redact",
        action="store_true",
        help="append PII redaction (email/ssn/ipv4/phone) over the curated "
        "corpus; content-derived ids re-derived after the rewrite",
    )
    parser.add_argument(
        "--embed",
        action="store_true",
        help="append the embedding phase: hash-embed curated passages, "
        "assign dense vector ids, write the embeddings table",
    )
    parser.add_argument(
        "--quality-classifier",
        dest="classifier_good_path",
        metavar="GOOD_PARQUET",
        help="append the GPT-3-style learned quality filter: train "
        "reference-vs-crawl LR (positives = this parquet's text column, "
        "negatives = a corpus hash-sample), score inline, pareto-keep",
    )
    parser.add_argument("--classifier-alpha", type=float, default=9.0)
    parser.add_argument(
        "--dedup-against",
        dest="dedup_against_path",
        metavar="CORPUS_PARQUET",
        help="append cross-snapshot incremental dedup: drop curated rows "
        "whose content already exists in this previously-published corpus",
    )
    parser.add_argument(
        "--trust-existing-sha",
        action="store_true",
        help="with --dedup-against: prune the existing-corpus scan to its "
        "content_sha column (only for corpora written by this engine)",
    )
    parser.add_argument(
        "--fix-encoding",
        action="store_true",
        help="append ftfy-style UTF-8-as-cp1252 mojibake repair over the "
        "curated text (single-pass JVM expression; identities re-derived)",
    )
    parser.add_argument(
        "--dsir-target",
        dest="dsir_target_path",
        metavar="TARGET_PARQUET",
        help="append DSIR importance resampling: keep the corpus fraction "
        "that best matches this trusted target corpus's hashed-ngram "
        "distribution (Gumbel-top-k, doc-level)",
    )
    parser.add_argument("--dsir-keep-frac", type=float, default=0.5)
    parser.add_argument(
        "--train-bpe",
        dest="train_bpe_merges",
        type=int,
        metavar="N_MERGES",
        help="append the tokenizer stage: train a BPE merge table on the "
        "final curated corpus, persist bpe_merges/, annotate every row "
        "with n_tokens_bpe (with --pack-seqlen, chunks are sized in BPE "
        "tokens)",
    )
    parser.add_argument("--bpe-min-freq", type=int, default=2)
    parser.add_argument(
        "--pack-seqlen",
        type=int,
        default=None,
        metavar="N",
        help="append the LM-batcher stage: concat-chop sequence packing "
        "of the curated passages into N-token chunks (per-bucket windows); "
        "writes the chunk_map/ segment table",
    )
    parser.add_argument("--embed-dim", type=int, default=16)
    parser.add_argument(
        "--semantic-dedup",
        dest="semantic_dedup_threshold",
        type=float,
        metavar="THRESHOLD",
        help="append SemDeDup over the --embed stage's embeddings: drop the "
        "closer-to-centroid member of every within-cluster cosine pair >= "
        "THRESHOLD from the corpus AND the embeddings table",
    )
    parser.add_argument("--semantic-clusters", type=int, default=16)
    parser.add_argument(
        "--curated-mode",
        choices=("copy", "view", "fused"),
        default="copy",
        help="'view' materializes only the dup-loser tombstone table "
        "(halves write bytes; read back with read_curated); 'fused' "
        "curates in-flight so the durable corpus write IS the curated "
        "table (fastest wall-clock; quarantine rows retained — read with "
        "error IS NULL)",
    )
    return parser


def main(argv=None) -> None:
    kwargs = vars(_parser().parse_args(argv))
    source = {name: kwargs.pop(name) for name in ("input", "warc", "wet", "synthesize")}
    n_buckets = kwargs.pop("buckets")

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from document_automation_spark.operators.extract import ExtractConfig

    created = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("ingest-pipeline").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        if source["synthesize"]:
            from document_automation_spark.sources.pages import pages_df

            pages = pages_df(spark, source["synthesize"])
        elif source["warc"]:
            from document_automation_spark.sources.warc import pages_from_warc

            pages = pages_from_warc(spark, source["warc"])
        elif source["wet"]:
            from document_automation_spark.sources.warc import pages_from_wet

            pages = pages_from_wet(spark, source["wet"])
        else:
            pages = spark.read.parquet(source["input"])

        summary = run_ingest_pipeline(
            spark,
            pages,
            cfg=ExtractConfig(n_buckets=n_buckets),
            from_text=bool(source["wet"]),
            **kwargs,
        )
        print(json.dumps(summary))
    finally:
        if created:
            spark.stop()


if __name__ == "__main__":
    main()
