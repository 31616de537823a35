"""The benchmark's workloads. Each one builds its inputs from the seed,
warms up, then runs closed-loop jobs (one at a time) and checks every
job's output.

- ``http_polite_resume``: a durable, polite HTTP crawl of a loopback
  corpus server, then a crash simulated by cutting the snapshot history
  mid-crawl and ``checkpoint.resume_crawl`` finishing it. Checked against
  the pure-Python oracle crawl and against itself (resumed == uninterrupted).
- ``warc_distill``: WARC archives of a closed-form corpus distilled into
  ``llms.txt`` + ``llms-full.txt``. Checked by entry/page counts and by the
  output digests, which must not change between jobs.
"""

from __future__ import annotations

import bisect
import hashlib
import os
import shutil
from contextlib import ExitStack
from dataclasses import dataclass, field


@dataclass
class Job:
    """One closed-loop job: ``items`` units of work (URLs seen, pages
    distilled) done by a call that took ``rate_s``; ``job_s`` is the whole
    job's timed wall (for http_polite_resume: crawl + resume)."""

    items: int
    rate_s: float
    job_s: float
    failures: list[str] = field(default_factory=list)
    layer: dict = field(default_factory=dict)


def _tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


# ------------------------------------------------------------ politeness

def politeness(log: list[tuple], delay_s: float, window_s: float) -> dict:
    """Server-side politeness of one request log [(host, path, uri, step,
    t)]: per-host sliding-window rate against the token-bucket allowance
    ``floor(W / delay) + 1`` (<= 1 means compliant), and the count of
    consecutive same-host gaps shorter than the delay, with no slack."""
    by_host: dict[str, list[float]] = {}
    for host, _path, _uri, _step, t in log:
        by_host.setdefault(host, []).append(t)
    allowance = int(window_s // delay_s) + 1
    max_in_window, gaps_below = 0, 0
    for times in by_host.values():
        times.sort()
        for i, t in enumerate(times):
            j = bisect.bisect_left(times, t + window_s, lo=i)
            max_in_window = max(max_in_window, j - i)
        gaps_below += sum(1 for a, b in zip(times, times[1:]) if b - a < delay_s)
    n = len(log)
    return {
        "requests": n,
        "distinct": len({uri for _h, _p, uri, _s, _t in log}),
        "max_rate_ratio": max_in_window / allowance,
        "gaps_below_floor": gaps_below,
        "max_host_share": max((len(v) for v in by_host.values()), default=0) / n if n else 0.0,
        "pacing_bound_s": max((len(v) for v in by_host.values()), default=0) * delay_s,
    }


# ------------------------------------------------------------- workloads

class HttpPoliteResume:
    """Polite HTTP crawl with durable snapshots, cut mid-crawl and resumed."""

    name = "http_polite_resume"
    N_HOSTS = 8
    PAGES_PER_HOST = 40
    SKEW = 3                 # host 0 has 3x the pages of the others
    MAX_PAGES = 60           # crawl budget 5 x 60 = 300 kept pages
    HOST_CAP = 30            # per host per superstep
    DELAY_MS = 20            # per-host pacing floor
    RETRIES = 2              # on the corpus's 503 pages
    BACKOFF_S = 0.005        # real sleeps: 5 ms, then 10 ms
    WINDOW_S = 0.2           # politeness window (10 x delay)

    def __init__(self):
        self._stack = ExitStack()

    def prepare(self, seed: int, work: str) -> None:
        from web2llmstxt_spark.oracle.crawl_oracle import CrawlConfig, crawl
        from web2llmstxt_spark.sources.corpus import generate_corpus
        from web2llmstxt_spark.sources.httpfetch import CorpusHTTPServer

        self.close()
        self.work = os.path.join(work, self.name)
        os.makedirs(self.work, exist_ok=True)
        self.corpus = generate_corpus(
            seed=seed, n_hosts=self.N_HOSTS, pages_per_host=self.PAGES_PER_HOST,
            skew_factor=self.SKEW,
        )
        hosts = sorted({p.host for p in self.corpus.pages.values()})
        self.cfg = CrawlConfig(
            max_pages=self.MAX_PAGES, enforce_robots=True,
            host_caps={h: self.HOST_CAP for h in hosts},
        )
        self.seeds = [(sid, url) for sid, url, _ in self.corpus.seeds]
        self.oracle = crawl(self.corpus, self.cfg)
        self.server = self._stack.enter_context(CorpusHTTPServer(self.corpus.pages))

    def close(self) -> None:
        self._stack.close()

    def warm(self, spark, spans) -> None:
        """Nothing beyond the session warm-up: a warm-up crawl costs as
        much as the timed one, which the run budget cannot hold."""

    def _fetcher(self):
        from web2llmstxt_spark.sources.httpfetch import HttpFetcher

        return HttpFetcher(
            self.server.base_url, total=self.RETRIES, backoff_factor=self.BACKOFF_S,
            partition_by_host=True, per_host_delay_ms=self.DELAY_MS,
        )

    def _log_since(self, mark: int) -> list[tuple]:
        with self.server._lock:
            return list(self.server.log[mark:])

    def _materialize(self, spark, spans, pages, seen):
        spark.sparkContext.setJobDescription("bench:collect")
        with spans.span("collect"):
            order = [r.url for r in pages.orderBy("rank").select("url").collect()]
            seen_urls = {r.url for r in seen.select("url").collect()}
        return order, seen_urls

    def run_job(self, spark, index: int, spans) -> Job:
        from web2llmstxt_spark.operators.frontier import FrontierCrawler
        from web2llmstxt_spark.state import checkpoint

        sc = spark.sparkContext
        full_dir = os.path.join(self.work, f"job{index}", "full")
        cut_dir = os.path.join(self.work, f"job{index}", "cut")
        failures = []

        mark = len(self.server.log)
        sc.setJobDescription("bench:crawl")
        with spans.span("crawl") as crawl_span:
            crawler = FrontierCrawler(
                spark, None, self.cfg, robots_rules=self.corpus.robots_rules,
                run_dir=full_dir, fetcher=self._fetcher(),
            )
            pages, seen = crawler.crawl(self.seeds)
            order, seen_urls = self._materialize(spark, spans, pages, seen)
        crawl_log = self._log_since(mark)
        if order != self.oracle.order:
            failures.append("crawl order differs from the oracle")
        if seen_urls != self.oracle.seen:
            failures.append("URL-seen set differs from the oracle")

        # crash after superstep `cut`: keep only that prefix of the history
        last = checkpoint.last_complete_superstep(full_dir)
        cut = max(0, (last or 0) - 1)
        for n in range(cut + 1):
            shutil.copytree(
                os.path.join(full_dir, f"superstep={n}"),
                os.path.join(cut_dir, f"superstep={n}"),
            )
        mark = len(self.server.log)
        sc.setJobDescription("bench:resume")
        with spans.span("resume") as resume_span:
            r_pages, r_seen = checkpoint.resume_crawl(
                spark, None, self.cfg, cut_dir, self.seeds,
                robots_rules=self.corpus.robots_rules, fetcher=self._fetcher(),
            )
            r_order, r_seen_urls = self._materialize(spark, spans, r_pages, r_seen)
        resume_log = self._log_since(mark)
        if r_order != order or r_seen_urls != seen_urls:
            failures.append(f"crawl resumed after superstep {cut} differs from the uninterrupted one")

        delay_s = self.DELAY_MS / 1000.0
        polite = politeness(crawl_log, delay_s, self.WINDOW_S)
        polite_resume = politeness(resume_log, delay_s, self.WINDOW_S)
        layer = {
            "seen": len(seen_urls),
            "pages": len(order),
            "bloom_rebuilds": crawler.bloom_rebuilds,
            "bloom_m_bits": crawler.bloom_m_bits,
            "num_buckets": crawler.num_buckets,
            "snapshot_bytes": _tree_bytes(full_dir),
            "resume_s": resume_span["dur_s"],
            "requests": polite["requests"],
            "retry_frac": 1.0 - polite["distinct"] / polite["requests"] if polite["requests"] else 0.0,
            "max_host_share": polite["max_host_share"],
            "pacing_bound_s": polite["pacing_bound_s"],
            "gaps_below_floor": polite["gaps_below_floor"] + polite_resume["gaps_below_floor"],
            "max_rate_ratio": max(polite["max_rate_ratio"], polite_resume["max_rate_ratio"]),
        }
        self.seen_urls = seen_urls
        shutil.rmtree(os.path.join(self.work, f"job{index}"), ignore_errors=True)
        return Job(
            items=len(seen_urls), rate_s=crawl_span["dur_s"],
            job_s=crawl_span["dur_s"] + resume_span["dur_s"],
            failures=failures, layer=layer,
        )

    def trace_extras(self, spark, spans, layer: dict) -> None:
        """Bloom filter of the final seen set, probed with the corpus URLs
        the crawl never attempted: every hit is a false positive."""
        from web2llmstxt_spark.operators import bloom

        unseen = sorted(set(self.corpus.pages) - self.seen_urls)
        spark.sparkContext.setJobDescription("bench:bloom")
        seen_df = spark.createDataFrame([(u,) for u in sorted(self.seen_urls)], "url string")
        cand = spark.createDataFrame([(u,) for u in unseen], "url string")
        with spans.span("bloom.build"):
            state = bloom.merge_state(
                None, bloom.delta_state(seen_df, layer["num_buckets"], layer["bloom_m_bits"]),
            ).localCheckpoint(eager=True)
        with spans.span("bloom.probe") as probe:
            hits = bloom.probe_state(cand, state, layer["num_buckets"]).filter("maybe_seen").count()
        layer["bloom_fp_frac"] = hits / len(unseen) if unseen else 0.0
        layer["bloom_probe_s"] = probe["dur_s"]


class WarcDistill:
    """WARC archives -> llms.txt / llms-full.txt, no crawl."""

    name = "warc_distill"
    N_HOSTS = 8
    PAGES_PER_HOST = 500
    SHARDS = 8
    IMAGE_EVERY = 25         # one image/png record per 25 pages (filtered out)
    BASE_URL = "https://bh0.example/"
    GENERATED_AT = "2026-01-01T00:00:00+00:00"

    def prepare(self, seed: int, work: str) -> None:
        from web2llmstxt_spark.sources import cfcorpus, warc

        self.work = os.path.join(work, self.name)
        shutil.rmtree(self.work, ignore_errors=True)
        self.archive_dir = os.path.join(self.work, "archives")
        os.makedirs(self.archive_dir)
        shards: list[list[bytes]] = [[] for _ in range(self.SHARDS)]
        kept = n = 0
        for hi in range(self.N_HOSTS):
            for i in range(self.PAGES_PER_HOST):
                page = cfcorpus.page_fields(seed, hi, i, self.PAGES_PER_HOST, 4)
                body = "\n\n".join(
                    s["text"] for s in page["spans"] if s["kind"] in ("heading", "text")
                ).encode("utf-8")
                status = 200 if page["fetch_ok"] else 503
                kept += status == 200
                shards[n % self.SHARDS].append(warc.build_record(page["url"], body, status=status))
                n += 1
                if i % self.IMAGE_EVERY == 0:
                    shards[n % self.SHARDS].append(warc.build_record(
                        f"https://bh{hi}.example/img/{i}.png", b"\x89PNG\r\n", content_type="image/png",
                    ))
                    n += 1
        for k, records in enumerate(shards):
            with open(os.path.join(self.archive_dir, f"crawl-{k:05d}.warc.gz"), "wb") as f:
                f.write(warc.build_warc(records, compress=True))
        self.expected = kept

    def close(self) -> None:
        pass

    def _distill(self, spark, out: str) -> dict:
        from web2llmstxt_spark.plans.pipeline import generate_llmstxt_from_warc

        return generate_llmstxt_from_warc(
            spark, self.archive_dir, self.BASE_URL, out,
            include_full_text=True, generated_at=self.GENERATED_AT,
        )

    def _check(self, res: dict) -> tuple[list[str], tuple, int]:
        """Counts against the archives; returns (failures, digests, bytes)."""
        failures = []
        n_pages = res["metadata"]["total_pages_crawled"]
        if n_pages != self.expected:
            failures.append(f"distilled {n_pages} pages, archives keep {self.expected}")
        txt_path, full_path = sorted(res["paths"], key=lambda p: p.endswith("-llms-full.txt"))
        with open(txt_path, "rb") as f:
            txt = f.read()
        with open(full_path, "rb") as f:
            full = f.read()
        entries = sum(1 for line in txt.splitlines() if line.startswith(b"- ["))
        if entries != self.expected:
            failures.append(f"llms.txt has {entries} entries, archives keep {self.expected}")
        full_pages = sum(1 for line in full.splitlines() if line.startswith(b"## Page "))
        if full_pages != self.expected:
            failures.append(f"llms-full.txt has {full_pages} pages, archives keep {self.expected}")
        # the header's processing-time line is a wall clock, not output
        full_stable = b"\n".join(
            line for line in full.splitlines() if not line.startswith(b"# Processing time:")
        )
        digests = (hashlib.sha256(txt).hexdigest(), hashlib.sha256(full_stable).hexdigest())
        return failures, digests, len(txt) + len(full)

    def warm(self, spark, spans) -> None:
        """One untimed distill of the same archives. Its output is the
        reference every timed job's digests must equal (its count checks
        repeat on every timed job). A smaller warm-up input left the first
        timed job ~25% slower."""
        out = os.path.join(self.work, "warm_out")
        spark.sparkContext.setJobDescription("bench:warmup-distill")
        _failures, self.digests, _bytes = self._check(self._distill(spark, out))
        shutil.rmtree(out)

    def run_job(self, spark, index: int, spans) -> Job:
        out = os.path.join(self.work, f"out{index}")
        spark.sparkContext.setJobDescription("bench:distill")
        with spans.span("distill") as sp:
            res = self._distill(spark, out)
        failures, digests, out_bytes = self._check(res)
        if digests != self.digests:
            failures.append("output digests differ from the warm-up distill's")
        shutil.rmtree(out)
        n_pages = res["metadata"]["total_pages_crawled"]
        return Job(
            items=n_pages, rate_s=sp["dur_s"], job_s=sp["dur_s"], failures=failures,
            layer={"out_bytes": out_bytes, "pages": n_pages},
        )

    def trace_extras(self, spark, spans, layer: dict) -> None:
        """The archive scan on its own (inside the distill it is fused
        with ranking and the sinks)."""
        from web2llmstxt_spark.sources import warc

        spark.sparkContext.setJobDescription("bench:warc-scan")
        with spans.span("warc.scan") as sp:
            warc.read_warc_text(spark, self.archive_dir).count()
        layer["warc_scan_s"] = sp["dur_s"]


WORKLOADS = {w.name: w for w in (HttpPoliteResume, WarcDistill)}
