"""Golden tests: the Spark frontier engine must reproduce the Python oracle
(itself differential-tested against the compiled reference crawl loop):
identical dequeue order, identical canonical seen-set, identical book list
in discovery order — for unbudgeted (pure FIFO BFS) and budgeted crawls,
with and without max_pages truncation, through the Bloom pre-filter."""

from __future__ import annotations

import pytest

from distributed_web_scrapper_and_crawler_c__spark.oracle import crawl_oracle
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import CrawlEngine
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen

SPEC = sitegen.SiteSpec(n_books=40, n_categories=4, books_per_page=10)


@pytest.fixture(scope="module")
def pages(spark):
    df = sitegen.pages_dataframe(spark, SPEC, slices=8).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pages_map():
    return sitegen.pages_dict(SPEC)


def run_engine(spark, pages, **kw):
    eng = CrawlEngine(spark, pages, **kw)
    eng.record_dequeues = True
    eng.run("/catalogue/page-1.html")
    return eng


def assert_matches_oracle(eng: CrawlEngine, res: crawl_oracle.OracleResult):
    # 1. crawl (dequeue) order — the reference's total order
    assert eng.crawl_order() == res.crawl_order
    # 2. seq identity per dequeue
    assert [(s, p) for (_r, s, p, _f) in eng.dequeue_log] == [
        (d.seq, d.path) for d in res.dequeues
    ]
    # 3. fetched flags (empty-fetch skip path)
    assert [f for (_r, _s, _p, f) in eng.dequeue_log] == [
        d.fetched for d in res.dequeues
    ]
    # 4. final canonical URL-seen set — exact
    eng_seen = {r["canonical"] for r in eng.seen.collect()}
    assert eng_seen == res.processed
    # 5. books: identical records in identical discovery order
    eng_books = [
        (r["title"], r["price"], r["rating"], r["url"])
        for r in eng.items.orderBy("item_seq").collect()
    ]
    assert eng_books == [(b.title, b.price, b.rating, b.url) for b in res.books]
    # 6. pages crawled (successful fetches only)
    assert eng.pages_crawled == res.pages_crawled


def test_unbudgeted_bfs_matches_oracle(spark, pages, pages_map):
    eng = run_engine(spark, pages)
    res = crawl_oracle.crawl(pages_map)
    assert_matches_oracle(eng, res)
    # rounds = BFS levels
    assert eng.round_num == res.rounds


def test_budgeted_crawl_matches_oracle(spark, pages, pages_map):
    eng = run_engine(spark, pages, host_budget=7)
    res = crawl_oracle.crawl(pages_map, host_budget=7)
    assert_matches_oracle(eng, res)
    assert eng.round_num == res.rounds


def test_max_pages_truncation_matches_oracle(spark, pages, pages_map):
    eng = run_engine(spark, pages, max_pages=13)
    res = crawl_oracle.crawl(pages_map, max_pages=13)
    assert_matches_oracle(eng, res)


def test_max_pages_with_budget_matches_oracle(spark, pages, pages_map):
    eng = run_engine(spark, pages, host_budget=5, max_pages=11)
    res = crawl_oracle.crawl(pages_map, host_budget=5, max_pages=11)
    assert_matches_oracle(eng, res)


def test_bloom_prefilter_preserves_exactness(spark, pages, pages_map):
    eng = run_engine(spark, pages)
    res = crawl_oracle.crawl(pages_map)
    assert_matches_oracle(eng, res)


def test_extracted_text_invariant(spark, pages, pages_map):
    """Per-row invariant: byte-identical extracted text per url vs the
    oracle parser, over the whole corpus (FIXTURES.md §5)."""
    from pyspark.sql import functions as F

    from distributed_web_scrapper_and_crawler_c__spark.functions.udfs import (
        extracted_text_udf,
    )

    got = {
        r["url"]: r["etext"]
        for r in pages.select(
            "url", extracted_text_udf(F.col("url"), F.col("html")).alias("etext")
        ).collect()
    }
    for url, html in pages_map.items():
        assert got[url].encode() == sitegen.extracted_text(url, html).encode(), url


def test_robots_rules_golden(spark, pages, pages_map):
    """Data-driven robots disallow table: engine == oracle under the same
    per-host prefix rules; blocked urls never enter frontier or seen."""
    disallow = [
        ("books.toscrape.com", "/catalogue/category/"),
        ("books.toscrape.com", "/catalogue/page-3"),
    ]
    rules = spark.createDataFrame(disallow, "host string, prefix string")
    eng = run_engine(spark, pages, robots_rules=rules)
    res = crawl_oracle.crawl(pages_map, robots_disallow=disallow)
    assert_matches_oracle(eng, res)
    for _r, _s, p, _f in eng.dequeue_log[1:]:
        assert not p.startswith("/catalogue/category/")
        assert not p.startswith("/catalogue/page-3")


def test_robots_rules_with_budget_golden(spark, pages, pages_map):
    disallow = [("books.toscrape.com", "/catalogue/category/")]
    rules = spark.createDataFrame(disallow, "host string, prefix string")
    eng = run_engine(spark, pages, robots_rules=rules, host_budget=6)
    res = crawl_oracle.crawl(pages_map, robots_disallow=disallow, host_budget=6)
    assert_matches_oracle(eng, res)
