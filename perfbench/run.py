#!/usr/bin/env python3
"""Crawl-and-distill benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process, one Spark session on
``local[nproc]``, one closed-loop job at a time. Set-up (session start,
package zip, a Python worker spawned in every slot, input generation, the
workload's warm-up) happens before the clock and is reported as
``setup_s``. Every timed job's output is checked; the last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``,
Spark event log on, library calls wrapped in spans). See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "job_s": "s",
}


def _parse(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file the run writes inside ``work`` and pin the session
    to this machine: no cluster master, no injected Spark conf."""
    import tempfile

    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = os.environ["TMPDIR"]
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRA_CONF", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)


def start_session(name: str, work: str, cores: int, trace: bool):
    from web2llmstxt_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            # Spark 4 compresses event logs with zstd by default
            "spark.eventLog.compress": "false",
        })
    return get_spark(f"perfbench-{name}", cores=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for every child to exit."""
    from pyspark import SparkContext

    from tracing import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(process_tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def warm_workers(spark, cores: int) -> int:
    """Spawn a Python worker in every slot and import the engine's UDF
    modules in each. Returns the number of distinct workers seen."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def touch(ids: pd.Series) -> pd.Series:
        import os as _os
        import time as _time

        import web2llmstxt_spark.functions.kernels  # noqa: F401
        import web2llmstxt_spark.functions.linkexpand  # noqa: F401
        import web2llmstxt_spark.functions.udfs  # noqa: F401
        import web2llmstxt_spark.operators.bloom  # noqa: F401
        import web2llmstxt_spark.sources.httpfetch  # noqa: F401
        import web2llmstxt_spark.sources.warc  # noqa: F401

        _time.sleep(0.2)  # hold the slot so each task gets its own worker
        return pd.Series([_os.getpid()] * len(ids))

    spark.sparkContext.setJobDescription("bench:warmup-workers")
    rows = spark.range(0, cores, 1, cores).select(touch("id").alias("pid")).collect()
    return len({r.pid for r in rows})


def run(args, work: str) -> dict:
    from tracing import Spans, cpu_times, peak_rss_by_process, steal_frac
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload]()
    spans = Spans()
    trace = bool(args.trace)
    spark = None
    try:
        with spans.span("setup"):
            with spans.span("session.start") as s_start:
                spark = start_session(wl.name, work, cores, trace)
            with spans.span("session.warmup") as s_warm:
                workers = warm_workers(spark, cores)
            prep = []
            for _ in range(SETUP_REPEATS):
                with spans.span("setup.inputs") as s_in:
                    wl.prepare(args.seed, work)
                prep.append(s_in["dur_s"])
            if trace:
                _wrap_library(spans)
            with spans.span("workload.warmup") as s_wl:
                wl.warm(spark, spans)
        setup_s = s_start["dur_s"] + s_warm["dur_s"] + statistics.median(prep) + s_wl["dur_s"]

        jobs = []
        t0, cpu0 = time.perf_counter(), cpu_times()
        while not jobs or time.perf_counter() - t0 < args.seconds:
            with spans.span("job", index=len(jobs)):
                jobs.append(wl.run_job(spark, len(jobs), spans))
        steal = steal_frac(cpu0, cpu_times())
        rss = peak_rss_by_process()
        failed = sum(1 for j in jobs if j.failures)
        for i, j in enumerate(jobs):
            for msg in j.failures:
                print(f"perfbench: check failed in job {i}: {msg}", file=sys.stderr)

        throughput = statistics.median(j.items / j.rate_s for j in jobs)
        job_s = statistics.median(j.job_s for j in jobs)
        layer = dict(jobs[-1].layer)
        if trace:
            wl.trace_extras(spark, spans, layer)
    finally:
        if spark is not None:
            stop_session(spark)
        wl.close()

    print(
        f"perfbench workload={wl.name} seed={args.seed} trace={args.trace} "
        f"cores={cores} python_workers={workers} samples={len(jobs)} "
        f"job_s=[{', '.join(f'{j.job_s:.3f}' for j in jobs)}] "
        f"peak_rss_mb={sum(mb for _n, mb in rss.values()):.0f} "
        f"(jvm {sum(mb for n, mb in rss.values() if n == 'java'):.0f}) steal_frac={steal:.3f}"
    )
    if not trace:
        values = {"setup_s": setup_s, "throughput_per_s": throughput, "job_s": job_s}
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    else:
        from layers import per_layer

        metrics = per_layer(
            wl.name, spans, os.path.join(work, "eventlog"), jobs, layer,
            prep_s=statistics.median(prep),
            e2e={"throughput_per_s": throughput, "job_s": job_s}, rss=rss, steal=steal,
        )
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans.dump(os.path.join(out_dir, f"spans-{wl.name}-seed{args.seed}.json"))
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}  (workload={wl.name}, samples={len(jobs)})")
    return {"correct": failed == 0, "attempted": len(jobs), "failed": failed, "metrics": metrics}


def _wrap_library(spans) -> None:
    """Spans around the public distill and sink calls, resolved through
    their module attributes exactly as the pipeline calls them."""
    from web2llmstxt_spark.plans import pipeline
    from web2llmstxt_spark.sinks import writers

    from tracing import wrap_call

    wrap_call(spans, pipeline, "distill_to_output", "distill_to_output")
    wrap_call(spans, writers, "write_llms_txt_stream", "writers.llms_txt")
    wrap_call(spans, writers, "write_llms_full_stream", "writers.llms_full")


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "web2llmstxt_spark", "__init__.py")):
        print(f"perfbench: no web2llmstxt_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
