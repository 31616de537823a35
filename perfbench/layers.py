"""Per-layer metrics of a traced run, from the benchmark's spans, Spark's
event log (jobs grouped by description and by the span that submitted
them) and the counters each workload records per job.

Every metric is reported on every workload; a layer a workload does not
exercise reads 0 there (the "should not move" prediction in README.md).
Per-job figures are medians over the run's timed jobs.
"""

from __future__ import annotations

import re
import statistics
import time

from tracing import JobSet, assign_jobs, jobs_wall_s, read_eventlog

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "udf.python_boot_s": "s",
    "frontier.supersteps": "count",
    "frontier.jobs": "count",
    "frontier.jobs_per_superstep": "count",
    "frontier.tasks": "count",
    "frontier.d0_s": "s",
    "frontier.attempt_s": "s",
    "frontier.state_s": "s",
    "frontier.finalize_s": "s",
    "frontier.shuffle_write_bytes_per_url": "B",
    "frontier.spill_bytes": "B",
    "frontier.gc_s": "s",
    "frontier.task_skew": "ratio",
    "frontier.pages_per_attempt": "ratio",
    "bloom.false_positive_frac": "fraction",
    "bloom.probe_s": "s",
    "bloom.rebuilds": "count",
    "udf.crawl.python_run_s": "s",
    "udf.crawl.bytes_to_python": "B",
    "udf.crawl.bytes_from_python": "B",
    "udf.distill.python_run_s": "s",
    "udf.distill.bytes_to_python": "B",
    "udf.distill.bytes_from_python": "B",
    "httpfetch.requests": "count",
    "httpfetch.retry_frac": "fraction",
    "httpfetch.max_host_share": "fraction",
    "httpfetch.pacing_bound_s": "s",
    "httpfetch.gaps_below_floor": "count",
    "httpfetch.max_rate_ratio": "ratio",
    "checkpoint.bytes_written": "B",
    "checkpoint.bytes_per_url": "B",
    "checkpoint.snapshot_s": "s",
    "checkpoint.resume_jobs": "count",
    "checkpoint.resume_s": "s",
    "warc.scan_s": "s",
    "warc.archive_write_s": "s",
    "distill.self_s": "s",
    "writers.llms_txt_s": "s",
    "writers.llms_full_s": "s",
    "writers.bytes_written": "B",
    "writers.bytes_per_page": "B",
    "mem.peak_rss_mb": "MB",
    "mem.jvm_peak_rss_mb": "MB",
    "mem.python_peak_rss_mb": "MB",
    "env.steal_frac": "fraction",
    "check.fail_frac": "fraction",
    "trace.throughput_per_s": "1/s",
    "trace.job_s": "s",
    "trace.eventlog_parse_s": "s",
}

_SS = re.compile(r"crawl:ss(\d+)-(attempt|state)")


def _phase(desc: str) -> str:
    m = _SS.match(desc)
    if m:
        return m.group(2)
    if desc == "crawl:finalize":
        return "finalize"
    if desc == "bench:collect":
        return "collect"
    # crawl:d0-*, and durable depth 0, which runs before the first tag
    return "d0"


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _frontier(js: JobSet, seen: int, pages: int) -> dict:
    by_phase: dict[str, list] = {}
    for j in js.jobs:
        by_phase.setdefault(_phase(j["desc"]), []).append(j)
    steps = {int(m.group(1)) for j in js.jobs if (m := _SS.match(j["desc"]))}
    ss_jobs = len(by_phase.get("attempt", [])) + len(by_phase.get("state", []))

    def wall(phase):
        return jobs_wall_s(by_phase.get(phase, []))

    return {
        "frontier.supersteps": len(steps),
        "frontier.jobs": len(js),
        "frontier.jobs_per_superstep": ss_jobs / len(steps) if steps else 0.0,
        "frontier.tasks": js.total("tasks"),
        "frontier.d0_s": wall("d0"),
        "frontier.attempt_s": wall("attempt"),
        "frontier.state_s": wall("state"),
        "frontier.finalize_s": wall("finalize"),
        "frontier.shuffle_write_bytes_per_url": js.total("shuffle_write_b") / seen if seen else 0.0,
        "frontier.spill_bytes": js.total("spill_b"),
        "frontier.gc_s": js.total("gc_ms") / 1000.0,
        "frontier.task_skew": js.task_skew(),
        "frontier.pages_per_attempt": pages / seen if seen else 0.0,
    }


def per_layer(workload: str, spans, log_dir: str, jobs, layer: dict,
              prep_s: float, e2e: dict, rss: dict, steal: float) -> dict:
    t0 = time.perf_counter()
    ev_jobs, stages = read_eventlog(log_dir)
    assign_jobs(ev_jobs, spans)
    v = {k: 0.0 for k in PER_LAYER}
    v["trace.eventlog_parse_s"] = time.perf_counter() - t0

    def jobs_in(span_rec) -> JobSet:
        inside = [
            j for j in ev_jobs
            if any(r["id"] == span_rec["id"] for r in spans.lineage(j["span"]))
        ]
        return JobSet(inside, stages)

    def timed(name):
        return [r for r in spans.named(name) if spans.is_within(r, "job")]

    def med(key):
        return _median(j.layer[key] for j in jobs if key in j.layer)

    v["session.start_s"] = spans.named("session.start")[0]["dur_s"]
    v["session.warmup_s"] = spans.named("session.warmup")[0]["dur_s"]
    v["udf.python_boot_s"] = jobs_in(spans.named("session.warmup")[0]).total("py_start_ms") / 1000.0

    seen, pages = med("seen"), med("pages")
    crawls = [_frontier(jobs_in(c), seen, pages) for c in timed("crawl")]
    for key in crawls[0] if crawls else ():
        v[key] = _median(c[key] for c in crawls)

    n_jobs = len(jobs)
    for tag, names in (("crawl", ("crawl", "resume")), ("distill", ("distill",))):
        sets = [jobs_in(r) for name in names for r in timed(name)]
        v[f"udf.{tag}.python_run_s"] = sum(s.total("py_run_ms") for s in sets) / 1000.0 / n_jobs
        v[f"udf.{tag}.bytes_to_python"] = sum(s.total("py_sent_b") for s in sets) / n_jobs
        v[f"udf.{tag}.bytes_from_python"] = sum(s.total("py_returned_b") for s in sets) / n_jobs

    if workload == "http_polite_resume":
        v["bloom.false_positive_frac"] = layer.get("bloom_fp_frac", 0.0)
        v["bloom.probe_s"] = layer.get("bloom_probe_s", 0.0)
        v["bloom.rebuilds"] = med("bloom_rebuilds")
        for key in ("requests", "retry_frac", "max_host_share", "pacing_bound_s",
                    "gaps_below_floor", "max_rate_ratio"):
            v[f"httpfetch.{key}"] = med(key)
        v["checkpoint.bytes_written"] = med("snapshot_bytes")
        v["checkpoint.bytes_per_url"] = med("snapshot_bytes") / seen if seen else 0.0
        # every crawl here is durable: its state phase is the snapshot write
        v["checkpoint.snapshot_s"] = v["frontier.state_s"]
        v["checkpoint.resume_jobs"] = _median(len(jobs_in(r)) for r in timed("resume"))
        v["checkpoint.resume_s"] = med("resume_s")

    if workload == "warc_distill":
        v["warc.scan_s"] = layer.get("warc_scan_s", 0.0)
        v["warc.archive_write_s"] = prep_s
        v["distill.self_s"] = _median(spans.self_time(r) for r in timed("distill_to_output"))
        v["writers.llms_txt_s"] = _median(r["dur_s"] for r in timed("writers.llms_txt"))
        v["writers.llms_full_s"] = _median(r["dur_s"] for r in timed("writers.llms_full"))
        v["writers.bytes_written"] = med("out_bytes")
        v["writers.bytes_per_page"] = med("out_bytes") / med("pages") if med("pages") else 0.0

    v["mem.peak_rss_mb"] = sum(mb for _name, mb in rss.values())
    v["mem.jvm_peak_rss_mb"] = sum(mb for name, mb in rss.values() if name == "java")
    v["mem.python_peak_rss_mb"] = v["mem.peak_rss_mb"] - v["mem.jvm_peak_rss_mb"]
    v["env.steal_frac"] = steal
    v["check.fail_frac"] = sum(1 for j in jobs if j.failures) / n_jobs
    v["trace.throughput_per_s"] = e2e["throughput_per_s"]
    v["trace.job_s"] = e2e["job_s"]
    return {k: {"value": float(val), "unit": PER_LAYER[k]} for k, val in v.items()}
