"""KG-build benchmark on ``local[4]``.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. One process, one batch job in
flight at a time (a closed loop with one client). The run generates the
workload's inputs from ``--seed``, starts Spark, runs one cold job and the
workload's untimed warm-up jobs (together the set-up, ``setup_s``), then
timed jobs for ``--seconds``, checking every job's output against the
generator's ground truth. The last stdout line is one JSON
object: end-to-end metrics with ``--trace 0``; with ``--trace 1`` the same
loop runs with spans, Spark job groups and Spark's event log switched on,
and the per-layer metrics are printed instead.

Spark's Python workers import the package, so the checkout root is put on
``PYTHONPATH`` before the JVM starts. All scratch data (inputs, outputs,
Spark local dirs, the event log) lives under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4


def _configure_env(work: str, trace: bool) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the package's default 8g heap lets the JVM grow to most of a shared
    # 15 GB box on these inputs; 4g bounds it. The heap is committed and
    # touched up front (-Xms, AlwaysPreTouch): left to grow, its resident
    # size swung between 2.6 and 6.2 GB from run to run with G1's sizing
    # and drowned every other change in peak_rss_mb.
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp
    # compiler threads are kept for the JVM's life, so that their CPU time
    # can be read per thread and taken out of cpu_s (see run())
    args = ["--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g "
            "-XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads",
            # no console progress bar: a thread redrawing stderr every
            # 200 ms while jobs are timed
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        # the event log is switched on at submit time, outside the package,
        # as one uncompressed file rather than a rolling directory
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{events}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and wait
    for each to end."""
    from procstat import tree_pids

    from pyspark import SparkContext

    pids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def run(workload: str, seed: int, seconds: int, trace: bool,
        work: str) -> dict:
    import kernels
    import procstat
    from spans import Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[workload](work, seed)
    t_setup = time.perf_counter()
    wl.generate()

    t0 = time.perf_counter()
    from quickner_spark.session import get_spark
    spark = get_spark(f"perfbench-{workload}", cores=CORES)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl.prepare(spark)
        tracer = Tracer(f"{workload}-{seed}", spark) if trace else None
        root = os.getpid()
        jobs = []
        with procstat.PeakRss(root) as rss:
            t0 = time.perf_counter()
            _traced_job(tracer, "cold:", lambda: wl.job(spark, tracer))
            cold_s = time.perf_counter() - t0
            for k in range(wl.warmup_jobs):
                _traced_job(tracer, f"warm{k}:", lambda: wl.job(spark, tracer))
            setup_s = time.perf_counter() - t_setup

            # timed jobs until --seconds have passed, at least one, and no
            # job started that the previous one says would end past the
            # window: a fixed share of the run is timed on a fast host and
            # on a slow one, and the run does not overshoot by a whole job
            t_loop = time.perf_counter()
            last = 0.0
            while not jobs or time.perf_counter() - t_loop + last <= seconds:
                t_job = time.perf_counter()
                rss.reset()
                c0 = procstat.tree_cpu_s(root)
                jit0 = procstat.tree_jit_cpu_s(root)
                t0 = time.perf_counter()
                rec = {"ok": False}
                try:
                    rec.update(_traced_job(tracer, f"t{len(jobs)}:",
                                           lambda: wl.job(spark, tracer)))
                    rec["job_s"] = time.perf_counter() - t0
                    # the JIT still compiles in every timed job this short
                    # run can afford (about half of a kg_build job's CPU),
                    # by an amount that varies run to run: it is JVM
                    # warm-up, reported on its own, not part of cpu_s
                    rec["jit_cpu_s"] = procstat.tree_jit_cpu_s(root) - jit0
                    rec["cpu_s"] = (procstat.tree_cpu_s(root) - c0
                                    - rec["jit_cpu_s"])
                    rec["peak_rss_mb"] = rss.peak_mb
                    rec["written"] = wl.bytes_written()
                    out = wl.read(spark)
                    rec["units"] = out["units"]
                    rec["ok"], rec["precision"], rec["recall"] = wl.check(out)
                except Exception:
                    traceback.print_exc()
                if "units" in rec:
                    # wall time is logged, not reported: see BASELINE.md
                    print(f"perfbench: timed job {len(jobs)}: "
                          f"{rec['job_s']:.3f} s wall, {rec['cpu_s']:.3f} s "
                          f"cpu, {rec['jit_cpu_s']:.3f} s jit, "
                          f"{rec['units']} triples", file=sys.stderr)
                jobs.append(rec)
                last = time.perf_counter() - t_job
        extra = wl.trace_checks(spark, tracer) if trace else {}
    finally:
        _stop_spark(spark)

    done = [j for j in jobs if "units" in j]
    failed = sum(1 for j in jobs if not j["ok"])
    correct = failed == 0 and all(extra.values())
    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cpu_s": (_median([j["cpu_s"] for j in done]), "s"),
            "triples_per_cpu_s": (_median([j["units"] / j["cpu_s"]
                                           for j in done]), "triples/cpu_s"),
            "peak_rss_mb": (_median([j["peak_rss_mb"] for j in done]), "MB"),
            "write_amp": (_median([j["written"] for j in done])
                          / wl.input_bytes, "ratio"),
            "triple_precision": (_median([j["precision"] for j in done]),
                                 "ratio"),
            "triple_recall": (_median([j["recall"] for j in done]), "ratio"),
        }
    else:
        from layers import per_layer
        metrics = per_layer(wl, tracer, os.path.join(work, "events"),
                            jobs, start_s, cold_s,
                            kernels.run(wl.gaz, wl.texts, seed))
        metrics["bench.ops_failed_frac"] = (failed / len(jobs), "ratio")
        tracer.write(os.path.join(os.path.dirname(work),
                                  f"spans-{workload}-{seed}.json"))
    return {"correct": bool(correct), "attempted": len(jobs),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def _traced_job(tracer, prefix: str, fn) -> dict:
    if tracer is None:
        return fn() or {}
    tracer.prefix = prefix
    with tracer.span("job", group=tracer.group("job")):
        out = fn() or {}
    tracer.prefix = ""
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "quickner_spark")):
        print(f"perfbench: no quickner_spark package under {ROOT}; run from "
              "the root of a source checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _configure_env(work, bool(args.trace))
        result = run(args.workload, args.seed, args.seconds,
                     bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
