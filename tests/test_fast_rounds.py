"""Driver fast-round path (CrawlEngine._run_round_fast) equivalence.

The fast path must be OBSERVABLY IDENTICAL to the distributed round plan:
same dequeue order, same seq/item numbering, same seen-set, same metrics —
because the gate (fast_round_rows) is a physical-plan switch, exactly like
seq.SMALL_SEQ_ROWS. Scenarios here run every crawl twice — gate forced on
everywhere vs gate disabled — and diff every observable. The xxh64 driver
twin is additionally fuzz-checked against the JVM expression, and the
bloom bitmap updated by fast rounds must be BIT-identical to the one
distributed rounds produce (guaranteeing later distributed probes see the
same filter state).
"""

from __future__ import annotations

import random
import string

import pytest
from pyspark.sql import functions as F

from distributed_web_scrapper_and_crawler_c__spark.functions import xxh64 as XX
from distributed_web_scrapper_and_crawler_c__spark.oracle import crawl_oracle
from distributed_web_scrapper_and_crawler_c__spark.plans import frontier
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import (
    CrawlEngine,
)
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen

from test_frontier_engine import assert_matches_oracle  # noqa: E402

SPEC = sitegen.SiteSpec(n_books=60, n_categories=5, books_per_page=15)


@pytest.fixture(scope="module")
def pages(spark):
    df = sitegen.pages_dataframe(spark, SPEC, slices=8).cache()
    df.count()
    return df


_CRAWL_CACHE: dict = {}


def _crawl(spark, pages, fast, _cache=True, **kw):
    """One crawl per (gate, scenario) — memoized module-wide because the
    engines are only READ after run() (tests that mutate an engine
    afterwards pass _cache=False). Halves the file's distributed crawls."""
    key = (fast, tuple(sorted(kw.items())))
    if _cache and key in _CRAWL_CACHE:
        return _CRAWL_CACHE[key]
    eng = CrawlEngine(
        spark, pages, num_partitions=8, fast_round_rows=fast, **kw
    )
    eng.record_dequeues = True
    eng.run("/catalogue/page-1.html")
    if _cache:
        _CRAWL_CACHE[key] = eng
    return eng


def _observables(eng):
    return {
        "log": list(eng.dequeue_log),
        "items": [tuple(r) for r in eng.items.orderBy("item_seq").collect()],
        "seen": sorted(tuple(r) for r in eng.seen.collect()),
        "frontier": sorted(tuple(r) for r in eng.frontier.collect())
        if eng.frontier is not None
        else None,
        "rounds": eng.round_num,
        "pages": eng.pages_crawled,
        "next_seq": eng.next_seq,
        "metrics": [
            (
                m.round, m.urls_dequeued, m.urls_fetched, m.fetch_misses,
                m.books_found, m.links_extracted, m.links_new, m.links_dup,
                m.links_ignored, dict(m.partition_fetch_counts),
                m.bloom_checked,
            )
            for m in eng.metrics
        ],
    }


SCENARIOS = {
    "plain": {},
    # budgets multiply round counts (that per-round fixed cost is the very
    # thing the fast path removes) — cap pages so the DISTRIBUTED baseline
    # stays minutes, not tens of minutes; budget-bound slices, leftover
    # frontier, deferral idle rounds and truncation all still occur
    "budget": {"host_budget": 3, "max_pages": 18},
    "max_pages": {"max_pages": 23},
    "min_delay_budget": {"min_delay": 2, "host_budget": 2, "max_pages": 12},
    "cuckoo": {"seen_filter": "cuckoo"},
}


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_fast_path_matches_distributed(spark, pages, name):
    kw = SCENARIOS[name]
    dist = _crawl(spark, pages, fast=0, **kw)
    fast = _crawl(spark, pages, fast=1 << 30, **kw)
    a, b = _observables(dist), _observables(fast)
    for k in a:
        assert a[k] == b[k], f"{name}: {k} differs"


def test_mixed_gate_transition(spark, pages):
    """A mid-size gate makes big rounds distributed and small rounds fast
    WITHIN the same crawl (both path-transition directions); observables
    still match the all-distributed run."""
    dist = _crawl(spark, pages, fast=0)
    mixed = _crawl(spark, pages, fast=6)
    a, b = _observables(dist), _observables(mixed)
    for k in a:
        assert a[k] == b[k], f"mixed-gate: {k} differs"
    # the gate actually switched paths at least once each way
    sizes = [m.urls_dequeued for m in dist.metrics]
    assert any(s > 6 for s in sizes) and any(s <= 6 for s in sizes)


def test_bloom_bitmap_bit_identical(spark, pages):
    dist = _crawl(spark, pages, fast=0)
    fast = _crawl(spark, pages, fast=1 << 30)
    assert dist.seen_filter.size == fast.seen_filter.size
    assert dist.seen_filter.state.tobytes() == fast.seen_filter.state.tobytes()


def test_fast_rounds_enforce_mirror_cap(spark, pages, monkeypatch):
    """Fast rounds kill the driver mirrors once seen+items outgrow
    MIRROR_MAX_ROWS, exactly like distributed rounds; membership then goes
    through the probe job and the crawl still matches the oracle."""
    monkeypatch.setattr(frontier, "MIRROR_MAX_ROWS", 40)
    eng = _crawl(spark, pages, fast=1 << 30, _cache=False)
    assert all(m.fast_path for m in eng.metrics)
    assert eng._seen_mirror is None and eng._items_mirror is None
    assert_matches_oracle(eng, crawl_oracle.crawl(sitegen.pages_dict(SPEC)))


def test_priority_frontier_stays_distributed(spark, pages):
    eng = CrawlEngine(
        spark, pages, num_partitions=8,
        priority_expr=F.when(F.col("path").contains("category"), 0).otherwise(1),
    )
    assert not eng._fast_eligible()


def test_add_seed_requeue_through_fast_rounds(spark, pages):
    """Q6 force-requeue composed with fast rounds: the re-crawl after
    add_seed must behave identically on both paths."""

    def run(fast):
        eng = _crawl(spark, pages, fast=fast, _cache=False)
        eng.record_dequeues = True
        eng.add_seed("/catalogue/page-1.html")
        eng.run("/catalogue/page-1.html")
        return eng

    a, b = _observables(run(0)), _observables(run(1 << 30))
    for k in a:
        assert a[k] == b[k], f"add_seed: {k} differs"


def test_checkpoint_cross_path_resume(spark, pages, tmp_path):
    """A checkpoint written by fast rounds resumes on the distributed
    path and vice versa — increments are path-agnostic tables."""
    for first, second in ((1 << 30, 0), (0, 1 << 30)):
        d = str(tmp_path / f"ck_{first}_{second}")
        eng = CrawlEngine(
            spark, pages, num_partitions=8, checkpoint_dir=d,
            fast_round_rows=first,
        )
        eng.seed(["/catalogue/page-1.html"])
        for _ in range(3):
            eng.run_round()
        res = CrawlEngine.resume(
            spark, pages, d, num_partitions=8, fast_round_rows=second
        )
        res.run("/catalogue/page-1.html")
        full = _crawl(spark, pages, fast=0)
        assert res.pages_crawled == full.pages_crawled
        assert res.items_count == full.items_count
        assert sorted(
            tuple(r) for r in res.seen.collect()
        ) == sorted(tuple(r) for r in full.seen.collect())


# --------------------------------------------------------------------- xxh64


def test_xxh64_matches_spark_expression(spark):
    """The driver twin must be bit-equal to F.xxhash64 for every form the
    seen-filters use: bare string (bloom h1), string+int-literal chains
    (bloom h2 seed 1, cuckoo FP_SEED 3 / IX_SEED 4)."""
    rng = random.Random(20260818)
    strs = ["", "a", "é中文", "x" * 31, "y" * 32, "z" * 100]
    for _ in range(300):
        n = rng.randrange(0, 90)
        strs.append(
            "".join(rng.choice(string.printable) for _ in range(n))
        )
    for _ in range(60):
        strs.append(
            "".join(
                chr(rng.randrange(1, 0xD7FF))
                for _ in range(rng.randrange(0, 40))
            )
        )
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    rows = df.select(
        F.xxhash64("s").alias("h0"),
        F.xxhash64("s", F.lit(1)).alias("h1"),
        F.xxhash64("s", F.lit(3)).alias("h3"),
        F.xxhash64("s", F.lit(4)).alias("h4"),
    ).collect()
    mask = (1 << 64) - 1
    for s, r in zip(strs, rows):
        assert XX.spark_xxhash64_str(s) == r["h0"] & mask
        assert XX.spark_xxhash64_str(s, 1) == r["h1"] & mask
        assert XX.spark_xxhash64_str(s, 3) == r["h3"] & mask
        assert XX.spark_xxhash64_str(s, 4) == r["h4"] & mask
