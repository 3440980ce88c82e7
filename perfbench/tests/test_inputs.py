"""Pins the shape of the benchmark inputs and the oracle's rules.

The re-crawl input must keep its duplicates: without them url dedup takes its
``isEmpty()`` fast path and ``ingest_recrawl`` measures a clean corpus.

    python3 -m pytest perfbench/tests -q
"""

import datetime as dt

import pytest

import inputs

SEED, N = 7, 1000


@pytest.fixture(scope="module")
def recrawl():
    return inputs.recrawl_pages(SEED, N)


def test_recrawl_shape(recrawl):
    base = inputs.base_pages(SEED, N)
    assert recrawl[:N] == base
    extra = recrawl[N:]
    recrawls = [p for p in extra if p["url"].startswith("https://")]
    variants = [p for p in extra if p["url"].startswith("HTTPS://")]
    assert len(recrawls) == 200 and len(variants) == 100
    assert len(variants) / len(recrawl) == pytest.approx(1 / 13)
    by_url = {p["url"]: p for p in base}
    for p in recrawls:
        orig = by_url[p["url"]]
        assert p["warc_ts"] - orig["warc_ts"] == dt.timedelta(days=30)
        assert p["html"] == orig["html"]
    for p in variants:
        assert "?utm_source=" in p["url"]
        orig = by_url[inputs.canonical_url(p["url"])]
        assert p["warc_ts"] == orig["warc_ts"] and p["html"] == orig["html"]


def test_exact_loser_count(recrawl):
    winners = inputs.newest_per_url(recrawl)
    assert len(recrawl) - len(winners) == 300
    assert len({inputs.canonical_url(p["url"]) for p in winners}) == N


def test_newest_wins_and_ties_go_to_smaller_url():
    t = dt.datetime(2024, 8, 1)
    pages = [
        {"url": "https://h.com/a", "warc_ts": t},
        {"url": "HTTPS://h.com/a?utm_source=x", "warc_ts": t},
        {"url": "https://h.com/b", "warc_ts": t},
        {"url": "https://h.com/b", "warc_ts": t + dt.timedelta(days=30)},
    ]
    won = {p["url"]: p["warc_ts"] for p in inputs.newest_per_url(pages)}
    assert won == {"HTTPS://h.com/a?utm_source=x": t, "https://h.com/b": t + dt.timedelta(days=30)}


@pytest.mark.parametrize(
    "url, canonical",
    [
        ("HTTPS://Host.COM/p/1.html?utm_source=feed3", "https://host.com/p/1.html"),
        ("http://h.com:80/x?b=2&a=1#frag", "http://h.com/x?a=1&b=2"),
        ("https://h.com:8443/x?gclid=1&q=z", "https://h.com:8443/x?q=z"),
        ("http://h.com", "http://h.com/"),
        ("warc:segment-0#error", "warc:segment-0#error"),
    ],
)
def test_canonical_url(url, canonical):
    assert inputs.canonical_url(url) == canonical


def test_digest_ignores_order_but_not_multiplicity():
    rows = [("u", 0, "ab", 0, 5, 1, None), ("v", None, None, None, None, 0, "ValueError: x")]
    assert inputs.digest(rows) == inputs.digest(rows[::-1])
    assert inputs.digest(rows) != inputs.digest(rows + rows[:1])
    assert inputs.digest(rows) != inputs.digest(rows[:1])


def test_oracle_rules():
    from document_automation_spark.kernels.page import extract_page

    pages = inputs.recrawl_pages(SEED, 60)
    got = inputs.oracle(pages, processes=1)
    winners = inputs.newest_per_url(pages)
    rows = [r for p in winners for r in extract_page(p["url"], p["html"])]
    clean = [r for r in rows if r.error is None]
    assert got["losers"] == len(pages) - 60
    assert got["extract"]["rows"] == len(rows)
    assert got["ingest"]["rows"] == len({r.content for r in clean})
    assert got["ingest"]["deduped"] == len(clean) - got["ingest"]["rows"]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from document_automation_spark.session import build_session

    tmp = tmp_path_factory.mktemp("spark")
    session = build_session(
        app_name="perfbench-tests",
        master="local[2]",
        extra_conf={"spark.local.dir": str(tmp / "tmp"), "spark.sql.warehouse.dir": str(tmp / "wh")},
    )
    yield session
    session.stop()


def test_spark_url_dedup_finds_every_loser(spark, tmp_path):
    """The engine's url dedup drops exactly the losers the oracle counts, so
    the re-crawl input stays off the clean fast path."""
    from document_automation_spark.operators.urls import dedup_by_url

    n = 200
    pages = inputs.recrawl_pages(SEED, n)
    inputs.write_pages(pages, str(tmp_path / "pages"), 2)
    registry = []
    df = spark.read.parquet(str(tmp_path / "pages"))
    kept = dedup_by_url(df, shuffle_payloads=False, cache_registry=registry)
    got = sorted(r.url for r in kept.select("url").collect())
    # the fast path keeps every row, so a full loser count rules it out
    assert len(pages) - len(got) == round(0.3 * n)
    assert got == sorted(p["url"] for p in inputs.newest_per_url(pages))
    for handle in registry:
        handle.unpersist()


def test_spark_digest_equals_python_digest(spark):
    import random

    import harness

    rng = random.Random(SEED)
    rows = [("v", None, None, None, None, 0, "ValueError: x"), ("v", None, None, None, None, 0, "ValueError: x")]
    rows += [
        (f"https://h{i % 7}.com/{i}", i % 3, f"{rng.getrandbits(256):064x}", i, i + 40, 3, None) for i in range(500)
    ]
    schema = (
        "url string, passage_idx int, content_sha string, char_start int, char_end int, n_passages int, error string"
    )
    df = spark.createDataFrame(rows, schema)
    assert harness.spark_digest(df) == inputs.digest(rows)
    assert harness.spark_digest(df.limit(0)) == inputs.digest([])
