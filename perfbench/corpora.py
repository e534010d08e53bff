"""Seeded benchmark inputs, written in the driver process without Spark.

Every input is a pure function of the workload seed: page texts come from
``kg.corpus.page_text`` (the package's own load generator), html from
``kg.corpus.page_html`` / ``page_html_messy``, and WARC framing from
``sources.warc``. The program under test receives only the written pages
(a parquet table or a directory of gzipped WARC archives); the ground truth
stays with the benchmark.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from quickner_spark.kg import corpus
from quickner_spark.sources.warc import warc_record_bytes, write_warc_file

_HOSTS = [f"site{k}.example.org" for k in range(16)]
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])


def page_url(seed: int, i: int) -> str:
    host = _HOSTS[random.Random(seed * 1_000_003 + i).randrange(len(_HOSTS))]
    return f"https://{host}/doc/{i}"


def page_body(i: int, gaz, seed: int, chunks: int, rev: int = 0):
    """Text of page ``i`` and its ground-truth triples. A page is ``chunks``
    generated sentence groups; ``rev`` > 0 selects a revised page whose
    chunks come from a disjoint index range (a changed page in a later
    crawl snapshot)."""
    base = (i + rev * 10_000_000) * chunks
    texts, triples = [], []
    for k in range(chunks):
        text, tr = corpus.page_text(base + k, gaz, seed)
        texts.append(text)
        triples.extend(tr)
    return " ".join(texts), triples


def template_text(seed: int, j: int) -> str:
    """Member ``j`` of the planted near-duplicate cluster: one 120-word
    template with one word replaced per member, so any two members share
    112 of their 124 distinct word 3-grams (Jaccard 0.90)."""
    rng = random.Random(seed)
    words = [f"w{rng.randrange(10_000)}" for _ in range(120)]
    r = random.Random(seed * 7919 + j)
    words[r.randrange(len(words))] = f"m{j}"
    return " ".join(words)


def write_pages(path: str, rows: list[tuple[str, str, bytes]],
                n_files: int) -> int:
    """Write (url, text, html) rows as a pages table of ``n_files`` parquet
    files; returns its bytes."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for f in range(n_files):
        part = rows[f::n_files]
        table = pa.table({
            "url": [r[0] for r in part],
            "warc_ts": [_EPOCH + dt.timedelta(seconds=k)
                        for k in range(len(part))],
            "html": [r[2] for r in part],
            "text": [r[1] for r in part],
            "lang": ["en"] * len(part),
        }, schema=_PAGES_SCHEMA)
        out = os.path.join(path, f"part-{f:05d}.parquet")
        pq.write_table(table, out, compression="zstd")
        total += os.path.getsize(out)
    return total


def write_warc_dir(path: str, rows: list[tuple[str, str, bytes]],
                   n_files: int) -> None:
    """Write (url, text, html) rows as ``n_files`` gzipped WARC archives
    (one archive is framed per task)."""
    os.makedirs(path, exist_ok=True)
    per = [[] for _ in range(n_files)]
    for k, (url, _, html) in enumerate(rows):
        ts = (_EPOCH + dt.timedelta(seconds=k)).strftime(
            "%Y-%m-%dT%H:%M:%SZ")
        per[k % n_files].append(warc_record_bytes(url, ts, html))
    for f, recs in enumerate(per):
        write_warc_file(os.path.join(path, f"part-{f:05d}.warc.gz"), recs)
