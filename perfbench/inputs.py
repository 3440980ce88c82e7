"""Seeded workload inputs and the pure-Python oracle the benchmark checks against.

Everything here is plain Python plus pyarrow: no Spark.  The pages come from
``sources.pages.gen_page`` (the v2 fixture mix: Zipf hosts, 5 % PDF, 3 % gzip,
1 % gbk, 1 % malformed).  The re-crawl input adds two slices on top of them:

* re-crawls: the same url at ``warc_ts`` + 30 days with the same payload, so
  the re-crawl wins and the original is a url-dedup loser;
* url variants: ``HTTPS://`` instead of ``https://`` plus ``?utm_source=``.
  They canonicalize to the original url and carry the same ``warc_ts``, so
  the tie-break on the raw url decides (the upper-case variant sorts first).

Every base page yields exactly one loser per extra row, so the loser count is
``n_recrawl + n_variant`` whatever the overlap between the two slices.

Inputs and their oracle are written once per (kind, seed, size,
``FIXTURE_VERSION``, ``INPUT_VERSION``) under the work directory and reused.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import multiprocessing
import os
import random
import re
import shutil
from typing import Callable, Dict, Iterable, List, Optional, Sequence, Tuple

#: bump when the slices, file layout or oracle below change
INPUT_VERSION = 1
RECRAWL_SHARE = 0.20
VARIANT_SHARE = 0.10
RECRAWL_DELAY = dt.timedelta(days=30)
N_FILES = 8  # equal files, so the scan splits evenly over four cores

_TRACKING = re.compile(r"^(utm_[a-z]+|fbclid|gclid|msclkid)=")
_URL = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$")
_DEFAULT_PORT = {"http": "80", "https": "443"}

DigestRow = Tuple[str, Optional[int], Optional[str], Optional[int], Optional[int], int, Optional[str]]


def _gen_pages(seed: int, lo: int, hi: int) -> List[Dict]:
    from document_automation_spark.sources.pages import gen_page

    return [gen_page(i, seed) for i in range(lo, hi)]


def base_pages(seed: int, n: int, processes: int = 1) -> List[Dict]:
    """``gen_page(i, seed)`` for ``i < n``, in at most ``processes`` spawned workers."""
    if processes <= 1 or n < 4096:
        return _gen_pages(seed, 0, n)
    step = -(-n // processes)
    with multiprocessing.get_context("spawn").Pool(processes) as pool:
        parts = pool.starmap(_gen_pages, [(seed, lo, min(n, lo + step)) for lo in range(0, n, step)])
    return [page for part in parts for page in part]


def recrawl_pages(seed: int, n: int, processes: int = 1) -> List[Dict]:
    """Base pages, then the re-crawl slice, then the url-variant slice."""
    base = base_pages(seed, n, processes)
    rng = random.Random(f"perfbench-recrawl-{seed}")
    recrawled = sorted(rng.sample(range(n), round(RECRAWL_SHARE * n)))
    variants = sorted(rng.sample(range(n), round(VARIANT_SHARE * n)))
    extra = [dict(base[i], warc_ts=base[i]["warc_ts"] + RECRAWL_DELAY) for i in recrawled]
    extra += [
        dict(base[i], url="HTTPS://" + base[i]["url"][len("https://"):] + f"?utm_source=feed{i % 7}")
        for i in variants
    ]
    return base + extra


def canonical_url(url: str) -> str:
    """Python twin of ``operators.urls.canonical_url`` for well-formed urls:
    lower-case scheme and host, default port dropped, empty path -> ``/``,
    fragment and tracking parameters dropped, the rest sorted."""
    m = _URL.match(url)
    if m is None:
        return url
    scheme, authority, path, query = m.groups()
    scheme = scheme.lower()
    host, _, port = authority.partition(":")
    if not host:
        return url
    port_part = "" if port in ("", _DEFAULT_PORT.get(scheme)) else ":" + port
    params = sorted(p for p in (query or "").split("&") if p and not _TRACKING.match(p))
    query_part = "?" + "&".join(params) if params else ""
    return f"{scheme}://{host.lower()}{port_part}{path or '/'}{query_part}"


def newest_per_url(pages: Sequence[Dict]) -> List[Dict]:
    """The newest crawl per canonical url wins; ties go to the smaller raw url."""
    ranked = sorted(pages, key=lambda p: p["url"])
    ranked.sort(key=lambda p: p["warc_ts"], reverse=True)  # stable: ties keep url order
    best: Dict[str, Dict] = {}
    for page in ranked:
        best.setdefault(canonical_url(page["url"]), page)
    return list(best.values())


# --- digest -----------------------------------------------------------------


def row_hash(row: Sequence) -> int:
    text = "\x1f".join("\x00" if v is None else str(v) for v in row)
    return int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest(), "big")


def digest(rows: Iterable[Sequence]) -> str:
    """Order-insensitive multiset digest: row count plus the sum of row hashes
    modulo 2**256 (a sum, unlike xor, keeps duplicate rows)."""
    total, count = 0, 0
    for row in rows:
        total = (total + row_hash(row)) & ((1 << 256) - 1)
        count += 1
    return f"{count}:{total:064x}"


def _kernel_rows(pairs: Sequence[Tuple[str, bytes]]) -> List[List[DigestRow]]:
    from document_automation_spark.kernels.page import extract_page

    out = []
    for url, payload in pairs:
        out.append(
            [
                (
                    r.url,
                    r.passage_idx,
                    None if r.content is None else hashlib.sha256(r.content.encode("utf-8")).hexdigest(),
                    r.char_start,
                    r.char_end,
                    r.n_passages,
                    r.error,
                )
                for r in extract_page(url, payload)
            ]
        )
    return out


def kernel_rows(pages: Sequence[Dict], processes: int) -> List[List[DigestRow]]:
    """``extract_page`` over ``pages`` in at most ``processes`` spawned workers;
    one list of digest rows per page, in input order."""
    pairs = [(p["url"], p["html"]) for p in pages]
    if processes <= 1 or len(pairs) < 512:
        return _kernel_rows(pairs)
    step = -(-len(pairs) // processes)
    chunks = [pairs[i : i + step] for i in range(0, len(pairs), step)]
    with multiprocessing.get_context("spawn").Pool(len(chunks)) as pool:
        parts = pool.map(_kernel_rows, chunks)
    return [rows for part in parts for rows in part]


def oracle(pages: Sequence[Dict], processes: int) -> Dict:
    """What the jobs must write for ``pages``.

    * ``extract``: every kernel row of the newest crawl of every canonical url
      (all pages of a re-crawl-free input): ``run_extraction_job``'s output;
    * ``ingest``: the same rows without quarantine rows, then one row per
      content hash, the smallest ``(url, passage_idx)`` kept: the curated table
      of the default ``run_ingest_pipeline``;
    * ``losers``: input rows url dedup must drop.
    """
    winners = newest_per_url(pages)
    rows = [r for per_page in kernel_rows(winners, processes) for r in per_page]
    keep: Dict[str, DigestRow] = {}
    clean = [r for r in rows if r[6] is None]
    for r in clean:
        cur = keep.get(r[2])
        if cur is None or (r[0], r[1]) < (cur[0], cur[1]):
            keep[r[2]] = r
    return {
        "extract": {"digest": digest(rows), "rows": len(rows)},
        "ingest": {"digest": digest(keep.values()), "rows": len(keep), "deduped": len(clean) - len(keep)},
        "losers": len(pages) - len(winners),
    }


# --- parquet ----------------------------------------------------------------


def write_pages(pages: Sequence[Dict], path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    os.makedirs(path)
    step = -(-len(pages) // n_files)
    for k in range(0, len(pages), step):
        chunk = pages[k : k + step]
        cols = {name: [p[name] for p in chunk] for name in schema.names}
        cols["warc_ts"] = [ts.replace(tzinfo=dt.timezone.utc) for ts in cols["warc_ts"]]
        pq.write_table(pa.table(cols, schema=schema), os.path.join(path, f"part-{k // step:03d}.parquet"))


def parquet_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet"))
    return total


def pages_for(kind: str, seed: int, n: int, processes: int = 1) -> List[Dict]:
    return recrawl_pages(seed, n, processes) if kind == "recrawl" else base_pages(seed, n, processes)


def _cached_json(path: str, make: Callable[[], Dict]) -> Dict:
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(make(), f)
        os.replace(tmp, path)
    with open(path) as f:
        return json.load(f)


def input_dir(cache_dir: str, kind: str, seed: int, n: int) -> str:
    from document_automation_spark.sources.pages import FIXTURE_VERSION

    return os.path.join(cache_dir, f"{kind}-s{seed}-n{n}-f{FIXTURE_VERSION}-i{INPUT_VERSION}")


def prepare(cache_dir: str, kind: str, seed: int, n: int, processes: int) -> Tuple[Dict, Dict]:
    """Write (or reuse) the pages of one input ``kind`` (``mixed`` or
    ``recrawl``) as parquet, and compute (or reuse) their oracle, with at most
    ``processes`` worker processes.  Returns (metadata, oracle)."""
    root = input_dir(cache_dir, kind, seed, n)
    pages_path = os.path.join(root, "pages")
    generated: List[Dict] = []

    def pages() -> List[Dict]:
        if not generated:
            generated.extend(pages_for(kind, seed, n, processes))
        return generated

    def write() -> Dict:
        shutil.rmtree(pages_path, ignore_errors=True)
        write_pages(pages(), pages_path, N_FILES)
        return {"n_rows": len(pages()), "input_bytes": parquet_bytes(pages_path)}

    os.makedirs(root, exist_ok=True)
    meta = dict(_cached_json(os.path.join(root, "meta.json"), write), pages_path=pages_path)
    return meta, _cached_json(os.path.join(root, "oracle.json"), lambda: oracle(pages(), processes))
