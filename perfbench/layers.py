"""The traced run: spans around the benchmark's calls into each layer, Spark
job/task counts per span, and standalone passes over one layer at a time.
The program itself records nothing; every span here is opened by the
benchmark around a public function of the module it names."""

from __future__ import annotations

import itertools
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_web_scrapper_and_crawler_c__spark.functions import expressions as X
from distributed_web_scrapper_and_crawler_c__spark.functions import udfs as U
from distributed_web_scrapper_and_crawler_c__spark.plans import bloom as BL
from distributed_web_scrapper_and_crawler_c__spark.plans import cuckoo as CK
from distributed_web_scrapper_and_crawler_c__spark.plans import seq as SEQ
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import ITEMS_SCHEMA, SEEN_SCHEMA
from distributed_web_scrapper_and_crawler_c__spark.sources import robots as RB
from distributed_web_scrapper_and_crawler_c__spark.sources.table_format import ParquetAdapter

from workloads import HOST, ROBOTS_TXT


class Tracer:
    """In-memory spans (name, start, end, parent, trace id) with the Spark
    jobs and tasks each span launched. Job ids come from the status
    tracker: the engine's pool threads carry no job group, so the jobs of a
    span are the ids above the highest id seen when it opened."""

    def __init__(self, spark: SparkSession):
        self.tracker = spark.sparkContext.statusTracker()
        self.spans: list[dict] = []
        self.trace_id = 0
        self._ids = itertools.count()
        self._open: list[int] = []

    def _max_job(self) -> int:
        return max(self.tracker.getJobIdsForGroup(None), default=-1)

    def _tasks(self, job_ids: range) -> int:
        stages = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        total = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                total += info.numCompletedTasks
        return total

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": next(self._ids), "trace": self.trace_id, "name": name,
            "parent": self._open[-1] if self._open else None,
        }
        self._open.append(rec["id"])
        j0 = self._max_job()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            jobs = range(j0 + 1, self._max_job() + 1)
            rec["jobs"] = len(jobs)
            rec["tasks"] = self._tasks(jobs)
            self.spans.append(rec)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def timed(self, name: str, fn):
        """Run ``fn`` inside a span; returns (seconds, fn's result)."""
        with self.span(name) as rec:
            result = fn()
        return rec["end"] - rec["start"], result


class TimedParquet(ParquetAdapter):
    """ParquetAdapter that times each write and totals the bytes it left on
    disk. Passed as ``table_format=`` in the traced run only."""

    def __init__(self):
        self.write_ms: list[float] = []
        self.bytes = 0

    def write(self, df: DataFrame, loc: str) -> None:
        t = time.perf_counter()
        super().write(df, loc)
        self.write_ms.append((time.perf_counter() - t) * 1000)
        self.bytes += sum(f.stat().st_size for f in Path(loc).rglob("*") if f.is_file())


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs, default=float("nan")):
    return statistics.median(xs) if xs else default


def frontier_metrics(tracer: Tracer, crawl, wall_plain: float) -> dict:
    """plans.frontier: per-round spans of the traced crawl plus the engine's
    own RoundMetrics counts."""
    rounds = [s for s in tracer.of("frontier.run_round") if not s.get("drain_check")]
    fast = [s for s in rounds if s["fast"]]
    dist = [s for s in rounds if not s["fast"]]
    ms = lambda ss: [(s["end"] - s["start"]) * 1000 for s in ss]  # noqa: E731
    ms_all = sum(
        s["end"] - s["start"]
        for name in ("frontier.seed", "frontier.run_round", "frontier.resume")
        for s in tracer.of(name)
    )
    m = crawl.engine.metrics
    candidates = sum(r.links_new + r.links_dup for r in m)
    checked = sum(max(r.bloom_checked, 0) for r in m)
    return {
        "frontier.round_ms.fast.p50": (_median(ms(fast)), "ms"),
        "frontier.round_ms.dist.p50": (_median(ms(dist)), "ms"),
        "frontier.jobs_per_round.fast": (_median([s["jobs"] for s in fast]), "count"),
        "frontier.jobs_per_round.dist": (_median([s["jobs"] for s in dist]), "count"),
        "frontier.tasks_per_round.dist": (_median([s["tasks"] for s in dist]), "count"),
        "frontier.rounds": (len(rounds), "count"),
        "frontier.fast_rounds": (len(fast), "count"),
        "frontier.links_new": (sum(r.links_new for r in m), "count"),
        "frontier.links_dup": (sum(r.links_dup for r in m), "count"),
        "frontier.links_ignored": (sum(r.links_ignored for r in m), "count"),
        "frontier.fetch_misses": (sum(r.fetch_misses for r in m), "count"),
        "frontier.bloom_shrink": (1 - checked / candidates if candidates else 0.0, "ratio"),
        "frontier.bloom_candidates": (candidates, "count"),
        "trace.span_coverage": (ms_all / crawl.wall_s, "ratio"),
        "trace.overhead_ratio": (crawl.wall_s / wall_plain - 1, "ratio"),
    }


def layer_passes(
    spark: SparkSession, site, crawl, nproc: int, tracer: Tracer,
    tf: TimedParquet, scratch: Path,
) -> dict:
    """Standalone passes, one layer each, over this workload's page store and
    the traced crawl's final state. Inputs are pinned before the clock."""
    eng = crawl.engine
    out: dict = {}

    # functions: parse UDFs over every page, canonicalize over every link
    page_url = F.col("url")
    parse = site.pages.select(
        U.parse_books_udf(F.col("html"), page_url).alias("books"),
        U.extract_links_udf(F.col("html"), page_url).alias("links"),
    )
    s, _ = tracer.timed("functions.parse", lambda: _noop(parse))
    out["functions.parse_pages_per_s"] = (site.n_pages / s, "1/s")
    links = (
        site.pages.select(F.explode(U.extract_links_udf(F.col("html"), page_url)).alias("link"))
        .withColumn("host", X.url_host_expr(F.col("link")))
        .withColumn("path", F.expr(f"substring(link, {len(HOST) + 8})"))
        .localCheckpoint(eager=True)
    )
    n_links = links.count()
    s, _ = tracer.timed("functions.canonicalize", lambda: _noop(
        links.select(F.expr(X.canonicalize_url_sql("link")))))
    out["functions.canonicalize_urls_per_s"] = (n_links / s, "1/s")

    # plans.seq over the crawl's seen-set (host, seq): the politeness rank
    # and the dense global numbering
    keyed = eng.seen.select(
        X.url_host_expr(F.col("canonical")).alias("host"), "seq", "canonical"
    ).localCheckpoint(eager=True)
    n_seen = keyed.count()
    s, _ = tracer.timed("seq.grouped_rank", lambda: _noop(SEQ.with_grouped_rank(
        keyed, "host", ["seq"], num_partitions=nproc, approx_rows=n_seen)))
    out["seq.grouped_rank_ms"] = (s * 1000, "ms")
    s, _ = tracer.timed("seq.global_seq", lambda: _noop(SEQ.with_global_seq(
        keyed, ["seq"], num_partitions=nproc, approx_rows=n_seen)))
    out["seq.global_seq_ms"] = (s * 1000, "ms")

    # plans.bloom / plans.cuckoo: build over the seen-set, probe every link,
    # false positives measured on keys that are certainly absent
    canon = links.select(F.expr(X.canonicalize_url_sql("link")).alias("k")).localCheckpoint(eager=True)
    # 16 variants of every seen key that no page links to: enough trials to
    # resolve false-positive rates well below 1%
    absent = (
        keyed.select("canonical", F.explode(F.sequence(F.lit(1), F.lit(16))).alias("i"))
        .select(F.concat("canonical", F.lit("#absent-"), F.col("i").cast("string")).alias("k"))
        .localCheckpoint(eager=True)
    )
    seen_k = keyed.select(F.col("canonical").alias("k"))

    s, (bitmap, m_bits) = tracer.timed("bloom.build", lambda: BL.build_bloom(seen_k, "k"))
    out["bloom.build_ms"] = (s * 1000, "ms")
    bprobe = BL.maybe_seen_col(spark, bitmap, m_bits)
    bflag = bprobe(F.xxhash64("k"), F.xxhash64("k", F.lit(1)))
    s, _ = tracer.timed("bloom.probe", lambda: _noop(canon.select(bflag.alias("m"))))
    out["bloom.probe_rows_per_s"] = (n_links / s, "1/s")
    fp = absent.select(F.avg(bflag.cast("double"))).first()[0]
    out["bloom.fp_rate"] = (fp, "ratio")

    n_buckets = CK.next_pow2_buckets(n_seen)
    s, table = tracer.timed("cuckoo.insert", lambda: CK.cuckoo_local(seen_k, "k", n_buckets))
    out["cuckoo.insert_ms"] = (s * 1000, "ms")
    cprobe = CK.maybe_seen_col(spark, table.tobytes(), n_buckets)
    s, _ = tracer.timed("cuckoo.probe", lambda: _noop(
        canon.select(cprobe(*CK.hash_cols("k")).alias("m"))))
    out["cuckoo.probe_rows_per_s"] = (n_links / s, "1/s")
    fp = absent.select(F.avg(cprobe(*CK.hash_cols("k")).cast("double"))).first()[0]
    out["cuckoo.fp_rate"] = (fp, "ratio")

    # sources.robots: the RFC verdict plan over every link
    rules = RB.host_rules_frame(RB.full_rules_from_texts(spark.createDataFrame(
        [(HOST, ROBOTS_TXT)], "host string, robots_txt string"))).localCheckpoint(eager=True)
    verdict = links.join(F.broadcast(rules), "host", "left").select(
        RB.robots_allowed_col(F.col("_rules"), F.col("path")).alias("ok"))
    s, blocked = tracer.timed("robots.verdict", lambda: verdict.filter(~F.col("ok")).count())
    out["robots.blocked_links"] = (blocked, "count")
    out["robots.verdict_rows_per_s"] = (n_links / s, "1/s")

    # sources.table_format: the traced crawl's checkpoint writes and resume
    # when the workload checkpoints; otherwise one write + read of its final state
    resume_s = sum(r["end"] - r["start"] for r in tracer.of("frontier.resume"))
    if not tf.write_ms:
        for name, df in (("seen", eng.seen), ("items", eng.items)):
            tf.write(df, str(scratch / name))
        resume_s, _ = tracer.timed("table_format.read", lambda: (
            tf.read(spark, SEEN_SCHEMA, [str(scratch / "seen")]).count(),
            tf.read(spark, ITEMS_SCHEMA, [str(scratch / "items")]).count()))
    out["table_format.write_ms.p50"] = (_median(tf.write_ms), "ms")
    out["table_format.bytes_per_url"] = (tf.bytes / max(1, eng.seen_count), "B")
    out["table_format.resume_s"] = (resume_s, "s")
    return out
