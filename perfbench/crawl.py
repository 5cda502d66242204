"""Session start, site set-up, the oracle's expected crawl, the crawl driver
and its correctness check. Everything here runs against the engine from
outside: ``CrawlEngine`` receives only the generated ``pages``."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from distributed_web_scrapper_and_crawler_c__spark.functions import kernels as K
from distributed_web_scrapper_and_crawler_c__spark.oracle import crawl_oracle
from distributed_web_scrapper_and_crawler_c__spark.plans import frontier
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import CrawlEngine
from distributed_web_scrapper_and_crawler_c__spark.sources import robots as RB
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen

from workloads import HOST, ROBOTS_TXT, Workload

ROOT = Path(__file__).resolve().parent.parent
# the oracle takes a single start path; a multi-seed frontier is expressed
# as one synthetic page linking every seed (see expected_crawl)
SEED_ROOT = "/perfbench-seeds.html"


def start_spark(nproc: int, tmp: Path) -> SparkSession:
    """local[nproc], shuffle partitions = nproc, all scratch inside ``tmp``."""
    local = tmp / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    # Python workers import the package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # every JVM (launcher and driver): temp files in tmp, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.default.parallelism", str(nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(local))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark: SparkSession) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


@dataclass
class Expected:
    dequeues: list[tuple[int, str, bool]]  # (seq, path, fetched) in crawl order
    seen: set[str]
    books: list[tuple[str, str, str, str]]  # (title, price, rating, url)
    rounds: int
    pages_crawled: int


@dataclass
class Site:
    pages: DataFrame
    n_pages: int
    seeds: list[str]
    robots_rules: DataFrame | None
    disallow: list[tuple[str, str]] | None
    gen_s: float
    expected: Expected | None = None


def seed_paths(wl: Workload, spec: sitegen.SiteSpec) -> list[str]:
    if wl.seeds == "first":
        return ["/catalogue/page-1.html"]
    # sorted-URL order: the order extract_all_links gives the oracle's
    # synthetic seed page, hence the engine's seed seq order too
    return sorted(
        f"/catalogue/page-{n}.html" for n in range(1, spec.n_listing_pages + 1)
    )


def build_site(
    spark: SparkSession, wl: Workload, seed: int, nproc: int, reps: int
) -> Site:
    """Generate and persist the page store ``reps`` times (sitegen slices =
    nproc); keeps the last copy and reports the median generation time."""
    spec = sitegen.SiteSpec(
        n_books=wl.n_books, books_per_page=wl.books_per_page, seed=seed
    )
    times, pages, n_pages = [], None, 0
    for _ in range(reps):
        if pages is not None:
            pages.unpersist(blocking=True)
        t = time.perf_counter()
        pages = sitegen.pages_dataframe(spark, spec, slices=nproc).persist()
        n_pages = pages.count()
        times.append(time.perf_counter() - t)
    rules = disallow = None
    if wl.robots:
        rules = RB.robots_rules_from_texts(
            spark.createDataFrame(
                [(HOST, ROBOTS_TXT)], "host string, robots_txt string"
            )
        ).localCheckpoint(eager=True)
        disallow = [(HOST, p) for p in RB.parse_robots_text(ROBOTS_TXT)]
    return Site(
        pages, n_pages, seed_paths(wl, spec), rules, disallow,
        statistics.median(times),
    )


def expected_crawl(site: Site, wl: Workload) -> Expected:
    """Run the single-threaded oracle over the same page store the engine
    reads. A multi-seed frontier is one extra oracle round: a synthetic
    page linking the seeds is crawled first and then stripped from the
    result (its dequeue, its seen entry, one round, one fetched page)."""
    pages = {r["url"]: bytes(r["html"]) for r in site.pages.select("url", "html").toLocalIterator()}
    kw = dict(host_budget=wl.host_budget, robots_disallow=site.disallow)
    if len(site.seeds) == 1:
        res = crawl_oracle.crawl(pages, HOST, site.seeds[0], **kw)
        skip, root_canon = 0, None
    else:
        links = "".join(f'<a href="{p}">seed</a>' for p in site.seeds)
        pages[sitegen.BASE + SEED_ROOT] = f"<html><body>{links}</body></html>".encode()
        res = crawl_oracle.crawl(pages, HOST, SEED_ROOT, **kw)
        skip, root_canon = 1, K.canonicalize_url(sitegen.BASE + SEED_ROOT)
    deq = [(d.seq - skip, d.path, d.fetched) for d in res.dequeues[skip:]]
    if skip and [p for _s, p, _f in deq[: len(site.seeds)]] != site.seeds:
        raise RuntimeError("oracle seed page did not enqueue the seeds in order")
    return Expected(
        dequeues=deq,
        seen=res.processed - {root_canon},
        books=[(b.title, b.price, b.rating, b.url) for b in res.books],
        rounds=res.rounds - skip,
        pages_crawled=res.pages_crawled - skip,
    )


@dataclass
class Crawl:
    wall_s: float
    pages: int
    round_ms: list[float]
    fast: list[bool]
    engine: CrawlEngine
    dequeues: list[tuple]


def run_crawl(
    spark: SparkSession,
    site: Site,
    wl: Workload,
    ckpt_dir: Path | None,
    tracer=None,
    table_format=None,
    max_rounds: int | None = None,
) -> Crawl:
    """One crawl from seed() to a drained frontier (or to ``max_rounds``
    rounds, for the warm-up). The wall covers engine construction, seed,
    every run_round and (polite_resume) the resume."""
    if wl.mirror_max_rows is not None:
        if not hasattr(frontier, "MIRROR_MAX_ROWS"):
            raise RuntimeError("frontier.MIRROR_MAX_ROWS is gone; update the workload")
        frontier.MIRROR_MAX_ROWS = wl.mirror_max_rows
    kw = dict(host_budget=wl.host_budget, seen_filter=wl.seen_filter,
              robots_rules=site.robots_rules, table_format=table_format)
    if ckpt_dir is not None:
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    span = tracer.span if tracer is not None else (lambda *a, **k: nullcontext())
    round_ms: list[float] = []
    fast: list[bool] = []
    prior_log: list[tuple] = []
    t0 = time.perf_counter()
    eng = CrawlEngine(
        spark, site.pages,
        checkpoint_dir=str(ckpt_dir) if ckpt_dir is not None else None, **kw,
    )
    eng.record_dequeues = True
    with span("frontier.seed"):
        eng.seed(site.seeds)
    resumed = False
    while True:
        if wl.resume_after is not None and not resumed and eng.round_num == wl.resume_after:
            # drop the live engine and continue from the last committed round
            prior_log = list(eng.dequeue_log)
            with span("frontier.resume"):
                eng = CrawlEngine.resume(spark, site.pages, str(ckpt_dir), **kw)
            eng.record_dequeues = True
            resumed = True
        t = time.perf_counter()
        with span("frontier.run_round") as rec:
            more = eng.run_round()
        if not more:
            if rec is not None:
                rec["drain_check"] = True
            break
        round_ms.append((time.perf_counter() - t) * 1000)
        fast.append(bool(eng.metrics[-1].fast_path))
        if rec is not None:
            rec["fast"] = fast[-1]
        if len(round_ms) == max_rounds:
            break
    wall = time.perf_counter() - t0
    if wl.resume_after is not None and not resumed and max_rounds is None:
        raise RuntimeError(f"{wl.name}: crawl drained before the resume round")
    return Crawl(wall, eng.pages_crawled, round_ms, fast, eng,
                 prior_log + list(eng.dequeue_log))


def check(crawl: Crawl, exp: Expected) -> list[str]:
    """Differences between the engine's crawl and the oracle's: crawl order
    (with seq and fetched flag per dequeue), final seen-set, item rows
    (title/price/rating/url in item order) and rounds."""
    eng = crawl.engine
    bad = []
    got = [(s, p, bool(f)) for (_r, s, p, f) in crawl.dequeues]
    if got != exp.dequeues:
        bad.append(f"crawl order differs ({len(got)} vs {len(exp.dequeues)} dequeues)")
    seen = {r[0] for r in eng.seen.select("canonical").collect()}
    if seen != exp.seen:
        bad.append(f"seen-set differs ({len(seen)} vs {len(exp.seen)})")
    books = [
        (r[0], r[1], r[2], r[3])
        for r in eng.items.orderBy("item_seq")
        .select("title", "price", "rating", "url").collect()
    ]
    if books != exp.books:
        bad.append(f"items differ ({len(books)} vs {len(exp.books)})")
    if eng.round_num != exp.rounds:
        bad.append(f"rounds {eng.round_num} vs {exp.rounds}")
    if eng.pages_crawled != exp.pages_crawled:
        bad.append(f"pages {eng.pages_crawled} vs {exp.pages_crawled}")
    return bad


class RssSampler:
    """Peak of (driver RSS + JVM RSS), sampled every ``period`` seconds on a
    daemon thread between start() and stop()."""

    def __init__(self, pids: list[int], period: float = 0.05):
        self.pids = pids
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self) -> int:
        total = 0
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (FileNotFoundError, ProcessLookupError):
                pass
        return total

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, self._rss())
            if self._stop.wait(self.period):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._rss())
        return self.peak / (1 << 20)
