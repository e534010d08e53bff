"""The benchmark's workloads. Each one generates its inputs from the seed,
runs one batch job per call through the package's public functions, reads
the job's output back and checks it against the generator's ground truth.

Sizes are set so that one run (JVM start, inputs, a cold job, the timed
job and the checks) stays under a minute on 4 cores: the run budget of the
whole benchmark, not the data, bounds them.
"""

from __future__ import annotations

import inspect
import os
import re
from contextlib import nullcontext

from pyspark.sql import functions as F

from quickner_spark.kg import corpus
from quickner_spark.kg.delta import SnapshotKg
from quickner_spark.kg.pipeline import build_kg_pipeline
from quickner_spark.kg.webextract import extract_text_web
from quickner_spark.operators.caching import release
from quickner_spark.operators.graph import connected_components
from quickner_spark.operators.textops import jaccard_pairs_prefix, minhash_dedup

from corpora import (page_body, page_url, template_text, write_pages,
                     write_warc_dir)

PIPELINE_STAGES = ("extract", "mentions", "linked", "triples", "aliases",
                   "nodes", "edges", "host_edges", "host_rank")
DELTA_STEPS = ("digest", "doclocal", "merge", "canonicalize", "manifest")
_OUTLINK_HOSTS = 64


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def pr(emitted: set, truth: set) -> tuple[float, float]:
    hit = len(emitted & truth)
    return (hit / len(emitted) if emitted else 0.0,
            hit / len(truth) if truth else 0.0)


def reachable_truth(truth: set, gaz) -> set:
    """Ground-truth triples the longest-match rule can extract. A subject
    followed by a predicate whose first word extends it to a longer
    gazetteer name ("acme systems" + "works at" reads "acme systems works
    at") is matched as the longer name, so that triple cannot appear;
    triple_recall counts it missed, the output check does not."""
    longer: dict[str, list[str]] = {}
    for name, _ in gaz:
        words = name.split(" ")
        for k in range(1, len(words)):
            longer.setdefault(" ".join(words[:k]), []).append(name)
    out = set()
    for subj, pred, obj, url in truth:
        phrase = f"{subj} {pred.replace('_', ' ')} {obj}"
        if not any(phrase.startswith(n + " ") for n in longer.get(subj, ())):
            out.add((subj, pred, obj, url))
    return out


def _triple_rows(df) -> set:
    return {(r["subj"], r["pred"].replace(" ", "_"), r["obj"], r["url"])
            for r in df.select("url", "subj", "pred", "obj").collect()}


class Workload:
    """One workload. ``generate`` writes the inputs before Spark starts;
    ``prepare`` sets the output location ``out``; ``job`` is one job (the
    first one of a run is the cold job); ``read`` reads its output back;
    ``check`` returns ``(ok, precision, recall)``."""

    name = ""
    min_precision = min_recall = 1.0
    # untimed jobs after the cold one, while the JIT still speeds jobs up
    warmup_jobs = 0

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.gaz = corpus.synth_gazetteer(999, seed)

    def bytes_written(self) -> int:
        return du(self.out)

    def trace_checks(self, spark, tracer) -> dict:
        """Extra checks (and probes) made only in the traced run."""
        return {}


class KgBuild(Workload):
    """Clean pages with many sentences each, through the 7-stage build.
    At this size the build's 57 Spark jobs and their fixed cost take most
    of its time; the extract stage (matcher included) is about a tenth.

    The traced run adds two probes after its timed jobs, for layers that no
    timed job runs (their per-layer numbers move no end-to-end metric): the
    web build (``build_kg_pipeline`` over the same pages framed as WARC
    archives of real-web markup, with ``extract_text_web``, the host graph
    and its PageRank), and a ``SnapshotKg`` crawl round (snapshot 0 over
    the same pages, then a commit with a few percent of pages changed and
    new)."""

    name = "kg_build"
    n_pages, chunks, n_files = 500, 12, 8
    changed_pct, new_pct = 3, 1
    min_precision = min_recall = 0.99

    def generate(self) -> None:
        rows, truth = [], set()
        for i in range(self.n_pages):
            text, triples = page_body(i, self.gaz, self.seed, self.chunks)
            url = page_url(self.seed, i)
            rows.append((url, text, corpus.page_html(text, url)))
            truth.update((*t, url) for t in triples)
        self.rows = rows
        self.truth = truth
        self.reachable = reachable_truth(truth, self.gaz)
        self.n_docs = len(rows)
        self.input_bytes = write_pages(f"{self.work}/pages", rows,
                                       self.n_files)
        self.texts = [r[1] for r in rows[:300]]

    def prepare(self, spark) -> None:
        self.out = f"{self.work}/kg"
        self.pipe = build_kg_pipeline(spark, self.out, f"{self.work}/pages",
                                      self.gaz, corpus.PREDICATES)

    def job(self, spark, tracer) -> None:
        run_pipeline(self.pipe, tracer)

    def read(self, spark) -> dict:
        return self.read_pipeline(self.pipe)

    @staticmethod
    def read_pipeline(pipe) -> dict:
        emitted = _triple_rows(pipe.table("triples"))
        return {"emitted": emitted, "units": len(emitted),
                "nodes": pipe.table("nodes").count(),
                "edges": pipe.table("edges").count()}

    def check(self, out: dict) -> tuple[bool, float, float]:
        p, r = pr(out["emitted"], self.truth)
        _, r_reachable = pr(out["emitted"], self.reachable)
        ok = (p >= self.min_precision and r_reachable >= self.min_recall
              and out["nodes"] > 0 and out["edges"] > 0)
        return ok, p, r

    # -- traced-run probes ---------------------------------------------------
    def trace_checks(self, spark, tracer) -> dict:
        tracer.prefix = "probe:"
        warc = f"{self.work}/warc"
        messy = [(url, text, corpus.page_html_messy(
                      text, url, i, self.seed, outlink_hosts=_OUTLINK_HOSTS))
                 for i, (url, text, _) in enumerate(self.rows)]
        # at least one archive per task slot: read_warc frames one per task
        write_warc_dir(warc, messy, 4 * 4)
        web = build_kg_pipeline(spark, f"{self.work}/web", warc, self.gaz,
                                corpus.PREDICATES, extractor=extract_text_web,
                                pages_format="warc", link_graph=True,
                                host_rank=True)
        run_pipeline(web, tracer)
        web_ok, _, _ = self.check(self.read_pipeline(web))
        web_ok = web_ok and web.table("host_rank").count() > 0
        delta_ok = self._delta_probe(spark, tracer)
        tracer.prefix = ""
        return {"web_build": web_ok, "delta_matches_batch": delta_ok}

    def _delta_probe(self, spark, tracer) -> bool:
        """Snapshot 0 over the timed job's pages must give the batch
        build's nodes and edges; snapshot 1 must reprocess exactly the
        changed and new pages."""
        self.store = f"{self.work}/store"
        kg = SnapshotKg(spark, self.store, self.gaz, corpus.PREDICATES)
        with _span(tracer, "delta.snapshot0"):
            kg.update(spark.read.parquet(f"{self.work}/pages"))

        def rows(df, cols):
            return sorted(tuple(tuple(v) if isinstance(v, list) else v
                                for v in r) for r in df.select(cols).collect())

        cols_n = ["canonical_id", "label", "aliases", "n_mentions"]
        cols_e = ["src", "dst", "pred", "weight"]
        same = (rows(kg.nodes(), cols_n)
                == rows(self.pipe.table("nodes"), cols_n)
                and rows(kg.edges(), cols_e)
                == rows(self.pipe.table("edges"), cols_e))
        n_changed = self.n_pages * self.changed_pct // 100
        n_new = self.n_pages * self.new_pct // 100
        stride = self.n_pages // n_changed
        snap1 = []
        for i, row in enumerate(self.rows):
            if i % stride == 0 and i // stride < n_changed:
                text, _ = page_body(i, self.gaz, self.seed, self.chunks, 1)
                row = (row[0], text, corpus.page_html(text, row[0]))
            snap1.append(row)
        for i in range(self.n_pages, self.n_pages + n_new):
            text, _ = page_body(i, self.gaz, self.seed, self.chunks)
            url = page_url(self.seed, i)
            snap1.append((url, text, corpus.page_html(text, url)))
        write_pages(f"{self.work}/pages1", snap1, self.n_files)
        before = du(self.store)
        with _span(tracer, "delta.update"):
            res = kg.update(spark.read.parquet(f"{self.work}/pages1"))
        self.delta_bytes = du(self.store) - before
        return (same and res["committed"]
                and res["changed"] == n_changed + n_new)


def run_pipeline(pipe, tracer) -> None:
    """``Pipeline.run(force=True)``; when tracing, each stage function is
    wrapped so that a span and a job group open as the stage starts. The
    stage's write follows its function inside the pipeline, so a stage's
    span and group last until the next stage starts."""
    if tracer is None:
        pipe.run(force=True)
        return
    originals = [st.fn for st in pipe.stages]
    current = []

    def wrap(stage, fn):
        def traced(spark, ctx):
            if current:
                tracer.end(current.pop())
            current.append(tracer.begin(f"stage.{stage}",
                                        group=tracer.group(f"stage.{stage}")))
            return fn(spark, ctx)
        return traced

    for st in pipe.stages:
        st.fn = wrap(st.name, st.fn)
    try:
        pipe.run(force=True)
    finally:
        if current:
            tracer.end(current.pop())
        for st, fn in zip(pipe.stages, originals):
            st.fn = fn


class NearDup(Workload):
    """Synthetic page text with a planted cluster of template near-copies:
    MinHash candidates, exact verification and connected components. The
    traced run adds the prefix-filtered exact Jaccard join as a probe."""

    name = "neardup"
    n_pages, chunks, n_planted = 1000, 2, 120
    # after the cold job, process-tree CPU per job fell 14, 11, 8.7, 8.5,
    # 8.2 s as the JIT compiled the hot paths; timing from the fourth job
    # on keeps the steep part of that slope out of job_s and cpu_s
    warmup_jobs = 2
    min_precision = min_recall = 1.0

    def generate(self) -> None:
        rows = []
        for i in range(self.n_pages):
            text, _ = page_body(i, self.gaz, self.seed, self.chunks)
            rows.append((page_url(self.seed, i), text, b""))
        planted = []
        for j in range(self.n_planted):
            url = page_url(self.seed, self.n_pages + j)
            rows.append((url, template_text(self.seed, j), b""))
            planted.append(url)
        self.planted = set(planted)
        # ground truth: every planted pair, plus pages whose generated text
        # came out identical (short synthetic pages can repeat)
        by_text: dict[str, list[str]] = {}
        for url, text, _ in rows:
            if url not in self.planted:
                by_text.setdefault(text, []).append(url)
        groups = [sorted(self.planted)] + [sorted(g) for g in by_text.values()
                                           if len(g) > 1]
        self.truth = {(a, b) for g in groups for k, a in enumerate(g)
                      for b in g[k + 1:]}
        self.n_docs = len(rows)
        self.input_bytes = write_pages(f"{self.work}/pages", rows, 8)
        self.texts = [r[1] for r in rows[:300]]

    def prepare(self, spark) -> None:
        self.out = f"{self.work}/nd"

    def _docs(self, spark):
        return (spark.read.parquet(f"{self.work}/pages")
                .select(F.col("url").alias("doc_id"), "text"))

    def job(self, spark, tracer) -> None:
        docs = self._docs(spark)
        with _span(tracer, "minhash"):
            pairs = minhash_dedup(docs)
            pairs.write.mode("overwrite").parquet(f"{self.out}/pairs")
            release(pairs)
        with _span(tracer, "components"):
            edges = spark.read.parquet(f"{self.out}/pairs")
            (connected_components(edges, "doc_a", "doc_b")
             .write.mode("overwrite").parquet(f"{self.out}/components"))

    def _pairs(self, spark, name: str) -> set:
        return {(r[0], r[1]) for r in spark.read.parquet(
            f"{self.out}/{name}").select("doc_a", "doc_b").collect()}

    def read(self, spark) -> dict:
        comp = {r[0]: r[1] for r in spark.read.parquet(
            f"{self.out}/components").collect()}
        emitted = self._pairs(spark, "pairs")
        return {"emitted": emitted, "components": comp,
                "units": len(emitted)}

    def check(self, out: dict) -> tuple[bool, float, float]:
        p, r = pr(out["emitted"], self.truth)
        comp = out["components"]
        labels = {comp.get(u) for u in self.planted}
        one_cluster = (len(labels) == 1 and None not in labels
                       and sum(1 for c in comp.values()
                               if c in labels) == len(self.planted))
        ok = (one_cluster and p >= self.min_precision
              and r >= self.min_recall)
        return ok, p, r

    def trace_checks(self, spark, tracer) -> dict:
        """The prefix-filtered exact Jaccard join, as a probe: its pairs
        must be exactly the ground truth and contain every MinHash pair."""
        tracer.prefix = "probe:"
        with _span(tracer, "jaccard"):
            exact = jaccard_pairs_prefix(self._docs(spark))
            exact.write.mode("overwrite").parquet(f"{self.out}/exact")
            release(exact)
        tracer.prefix = ""
        exact = self._pairs(spark, "exact")
        return {"exact_is_truth": exact == self.truth,
                "minhash_within_exact": self._pairs(spark, "pairs") <= exact}


def _span(tracer, name: str):
    if tracer is None:
        return nullcontext()
    return tracer.span(name, group=tracer.group(name))


WORKLOADS = {w.name: w for w in (KgBuild, NearDup)}


# -- kg_delta step attribution ----------------------------------------------

_TABLE_STEP = {"digests": "digest", "extract": "doclocal",
               "mentions": "doclocal", "linked": "doclocal",
               "triples": "doclocal", "linked_stats": "merge",
               "triple_stats": "merge", "aliases": "canonicalize",
               "nodes": "canonicalize", "edges": "canonicalize",
               "manifest": "manifest", "_updates": "manifest"}
# numbered step comments in SnapshotKg.update ("# 1. digest pass", ...)
_SECTION_STEP = {1: "digest", 2: "doclocal", 3: "merge", 4: "canonicalize",
                 5: "manifest", 6: "manifest"}
_FILE_STEP = {"link.py": "doclocal", "canonicalize.py": "canonicalize",
              "graph.py": "canonicalize", "simsearch.py": "canonicalize"}


def delta_sections() -> list[tuple[int, str]]:
    """(first line, step) of each numbered section of ``SnapshotKg.update``,
    read from its source so that the map follows edits to the file."""
    lines, first = inspect.getsourcelines(SnapshotKg.update)
    out = [(first, "digest")]
    for k, line in enumerate(lines):
        m = re.match(r"\s*#\s*(\d)\.\s", line)
        if m and int(m.group(1)) in _SECTION_STEP:
            out.append((first + k, _SECTION_STEP[int(m.group(1))]))
    return out


def delta_steps(jobs: list[dict], paths: list[list[str]], base: str,
                sections: list[tuple[int, str]]) -> list[str]:
    """The update step of each Spark job of one ``update()`` call, in job
    order: by the table the job writes, else by the line of ``delta.py``
    (or the module) that launched it. A job with neither (a parquet footer
    read, a file listing) belongs to the step of the job before it, since
    the steps run one after another."""
    out, step = [], "digest"
    for job, written in zip(jobs, paths):
        step = _job_step(job, written, base, sections) or step
        out.append(step)
    return out


def _job_step(job: dict, written: list[str], base: str,
              sections: list[tuple[int, str]]) -> str | None:
    for path in written:
        rel = path.split(base.rstrip("/") + "/", 1)
        if len(rel) == 2:
            table = rel[1].split("/")[0]
            if table in _TABLE_STEP:
                return _TABLE_STEP[table]
    m = re.search(r"([\w.]+):(\d+)$", job.get("call_site") or "")
    if not m:
        return None
    fname, line = m.group(1), int(m.group(2))
    if fname == "delta.py":
        step = "digest"
        for first, name in sections:
            if line >= first:
                step = name
        return step
    return _FILE_STEP.get(fname)
