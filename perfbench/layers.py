"""Per-layer metrics of a traced run: the benchmark's spans, Spark's event
log grouped by the job groups the spans set, and the kernel microbench.

Every workload prints every name in ``PER_LAYER``; a layer the workload
does not run reads 0. Values are per timed job (averaged over the traced
run's timed jobs), or per call for a layer the traced run reaches only
through a probe (see ``workloads.KgBuild``).
"""

from __future__ import annotations

import statistics

from eventlog import EventLog, find_log, read_events
from workloads import (DELTA_STEPS, PIPELINE_STAGES, delta_sections,
                       delta_steps)

STAGE_FIELDS = (("wall_s", "s"), ("cpu_s", "s"), ("python_s", "s"),
                ("python_in_bytes", "bytes"), ("python_out_bytes", "bytes"),
                ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                ("task_skew", "ratio"), ("jobs", "count"))

PER_LAYER = (
    [("session.start_s", "s"),
     ("session.cold_job_s", "s"),
     ("matcher.build_s", "s"),
     ("matcher.docs_per_core_s", "docs/s"),
     ("matcher.clean_docs_per_core_s", "docs/s"),
     ("extract_text.docs_per_core_s", "docs/s"),
     ("extract_text_web.docs_per_core_s", "docs/s"),
     ("warc.records_per_core_s", "records/s")]
    + [(f"stage.{s}.{f}", u) for s in PIPELINE_STAGES for f, u in STAGE_FIELDS]
    + [("spark.python_boot_s", "s"), ("spark.jobs", "count"),
       ("spark.executor_cpu_s", "s")]
    + [(f"delta.{s}.{f}", u) for s in DELTA_STEPS
       for f, u in (("wall_s", "s"), ("jobs", "count"))]
    + [("delta.bytes_written", "bytes"),
       ("minhash.wall_s", "s"), ("minhash.candidate_rows", "count"),
       ("minhash.verify_yield", "ratio"), ("jaccard.wall_s", "s"),
       ("jaccard.shuffle_bytes", "bytes"), ("components.wall_s", "s"),
       ("components.jobs", "count"),
       ("jvm.jit_cpu_s", "s"),
       ("trace.job_s", "s"), ("trace.triples_per_s", "triples/s"),
       ("trace.job_self_s", "s"),
       ("trace.span_coverage", "ratio"), ("bench.ops_failed_frac", "ratio")])


def _band_join(node: dict) -> bool:
    s = node.get("simpleString", "")
    return "Join" in node.get("nodeName", "") and "band#" in s and "bucket#" in s


def per_layer(wl, tracer, events_dir: str, jobs: list[dict], start_s: float,
              cold_s: float, kernel: dict) -> dict:
    log = EventLog(read_events(find_log(events_dir)))
    n = len(jobs)
    timed = [f"t{k}:" for k in range(n)]
    out = {name: 0.0 for name, _ in PER_LAYER}
    out["session.start_s"] = start_s
    out["session.cold_job_s"] = cold_s
    out.update(kernel)

    def groups(name: str) -> tuple[set[str], int]:
        """Job groups of layer ``name`` and the number of calls they span:
        the timed jobs if they run the layer, else the traced run's single
        probe call."""
        in_timed = {p + name for p in timed}
        if any(sp["group"] in in_timed for sp in tracer.spans):
            return in_timed, n
        return {"probe:" + name}, 1

    def span_s(name: str) -> float:
        g, k = groups(name)
        return sum(sp["end"] - sp["start"] for sp in tracer.spans
                   if sp["name"] == name and sp["group"] in g) / k

    jobs_by_group = log.group_jobs(lambda j: j["group"])

    def job_ids(g: set[str]) -> list[int]:
        return [j for name in g for j in jobs_by_group.get(name, ())]

    for stage in PIPELINE_STAGES:
        g, k = groups(f"stage.{stage}")
        tot = log.stage_totals(g)
        for f, _ in STAGE_FIELDS:
            if f == "wall_s":
                v = span_s(f"stage.{stage}")
            elif f == "jobs":
                v = len(job_ids(g)) / k
            elif f == "task_skew":
                v = tot[f]
            else:
                v = tot[f] / k
            out[f"stage.{stage}.{f}"] = v

    all_timed = {j["group"] for j in log.jobs.values()
                 if j["group"] and j["group"].startswith("t")}
    out["spark.jobs"] = len(job_ids(all_timed)) / n
    out["spark.executor_cpu_s"] = log.stage_totals(all_timed)["cpu_s"] / n
    cold = {j["group"] for j in log.jobs.values()
            if j["group"] and j["group"].startswith("cold:")}
    out["spark.python_boot_s"] = log.stage_totals(cold)["python_boot_s"]

    if hasattr(wl, "delta_bytes"):
        sections = delta_sections()
        g, k = groups("delta.update")
        ids = sorted(job_ids(g))
        steps: dict[str, list[int]] = {}
        for jid, step in zip(ids, delta_steps(
                [log.jobs[j] for j in ids],
                [log.written_paths(log.jobs[j]["exec_id"]) for j in ids],
                wl.store, sections)):
            steps.setdefault(step, []).append(jid)
        for step, ids in steps.items():
            out[f"delta.{step}.wall_s"] = log.job_wall_s(ids) / k
            out[f"delta.{step}.jobs"] = len(ids) / k
        out["delta.bytes_written"] = wl.delta_bytes

    if wl.name == "neardup":
        out["minhash.wall_s"] = span_s("minhash")
        g, k = groups("minhash")
        execs = {log.jobs[j]["exec_id"] for j in job_ids(g)}
        cand = log.plan_metric(execs, _band_join, "number of output rows") / k
        out["minhash.candidate_rows"] = cand
        verified = statistics.mean(j["units"] for j in jobs if "units" in j)
        out["minhash.verify_yield"] = verified / cand if cand else 0.0
        out["jaccard.wall_s"] = span_s("jaccard")
        g, k = groups("jaccard")
        out["jaccard.shuffle_bytes"] = log.stage_totals(g)["shuffle_bytes"] / k
        out["components.wall_s"] = span_s("components")
        g, k = groups("components")
        out["components.jobs"] = len(job_ids(g)) / k

    job_spans = [s for s in tracer.spans
                 if s["name"] == "job" and s["group"] in groups("job")[0]]
    selfs = tracer.self_times_by_id()
    walls = [s["end"] - s["start"] for s in job_spans]
    out["jvm.jit_cpu_s"] = statistics.median(
        j["jit_cpu_s"] for j in jobs if "units" in j)
    out["trace.job_s"] = statistics.median(walls)
    out["trace.triples_per_s"] = statistics.median(
        j["units"] / j["job_s"] for j in jobs if "units" in j)
    out["trace.job_self_s"] = statistics.median(selfs[s["id"]]
                                                for s in job_spans)
    out["trace.span_coverage"] = 1 - sum(selfs[s["id"]]
                                         for s in job_spans) / sum(walls)
    units = dict(PER_LAYER)
    return {k: (float(v), units[k]) for k, v in out.items()}
