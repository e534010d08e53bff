"""Python kernels timed in this process, without Spark: one process is one
core, so each rate is docs (or records) per second per core."""

from __future__ import annotations

import time

from quickner_spark.kg import corpus
from quickner_spark.kg.extract import extract_text
from quickner_spark.kg.webextract import extract_text_web
from quickner_spark.matcher import Matcher
from quickner_spark.operators.annotate import normalize_gazetteer
from quickner_spark.sources.warc import parse_warc_stream, warc_record_bytes

_BUDGET_S = 0.5


def _rate(fn, items: list) -> float:
    """Items per second of ``fn`` over ``items``, repeating the list until
    at least ``_BUDGET_S`` seconds have been measured."""
    done, t0 = 0, time.perf_counter()
    while True:
        for x in items:
            fn(x)
        done += len(items)
        elapsed = time.perf_counter() - t0
        if elapsed >= _BUDGET_S:
            return done / elapsed


def run(gazetteer, texts: list[str], seed: int) -> dict:
    """Each kernel over the workload's page texts: the matcher on the
    lowercased texts (as the fused pipeline stage runs it), the extractors
    on the texts wrapped in clean and in real-web html, and WARC framing on
    the real-web pages written as one uncompressed archive."""
    out = {}
    ents = normalize_gazetteer(gazetteer, case_sensitive=False)
    t0 = time.perf_counter()
    matcher = Matcher(ents)
    out["matcher.build_s"] = time.perf_counter() - t0
    lowered = [t.lower() for t in texts]
    out["matcher.docs_per_core_s"] = _rate(matcher.find_spans, lowered)
    out["matcher.clean_docs_per_core_s"] = _rate(matcher.find_spans_clean,
                                                 lowered)
    clean = [corpus.page_html(t, f"doc {i}") for i, t in enumerate(texts)]
    messy = [corpus.page_html_messy(t, f"doc {i}", i, seed, outlink_hosts=64)
             for i, t in enumerate(texts)]
    out["extract_text.docs_per_core_s"] = _rate(extract_text, clean)
    out["extract_text_web.docs_per_core_s"] = _rate(extract_text_web, messy)
    archive = b"".join(
        warc_record_bytes(f"https://h.example.org/{i}", "2024-01-01T00:00:00Z",
                          h) for i, h in enumerate(messy))
    per_s = _rate(lambda b: sum(1 for _ in parse_warc_stream(b)), [archive])
    out["warc.records_per_core_s"] = per_s * len(messy)
    return out
