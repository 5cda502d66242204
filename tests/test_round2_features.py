"""Round-2 feature tests: Q6 add_seed force-requeue (server.cpp:790-812),
sharded Bloom exactness, two-phase prefix sums, robots metric accounting vs
the oracle, S6 status view, F17 round timestamps, warc_ts uniqueness, and
the no-global-window plan invariant."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from distributed_web_scrapper_and_crawler_c__spark.oracle import crawl_oracle
from distributed_web_scrapper_and_crawler_c__spark.plans import bloom as BL
from distributed_web_scrapper_and_crawler_c__spark.plans import seen_filter as SF
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import CrawlEngine
from distributed_web_scrapper_and_crawler_c__spark.plans.seq import with_prefix_sum
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen

SPEC = sitegen.SiteSpec(n_books=20, n_categories=2, books_per_page=10)


@pytest.fixture(scope="module")
def pages(spark):
    df = sitegen.pages_dataframe(spark, SPEC, slices=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pages_map():
    return sitegen.pages_dict(SPEC)


# ---------------------------------------------------------------- Q6 add_seed


def test_add_seed_force_requeue(spark, pages, pages_map):
    """addSeedUrl semantics: a drained crawl re-fetches a force-requeued
    page; its links and books all dedup, so state converges back to the
    oracle's final state with exactly one extra fetched page."""
    eng = CrawlEngine(spark, pages)
    eng.record_dequeues = True
    eng.run("/catalogue/page-1.html")
    res = crawl_oracle.crawl(pages_map)

    seen_before = {r["canonical"] for r in eng.seen.collect()}
    items_before = [
        (r["title"], r["price"], r["rating"], r["url"])
        for r in eng.items.orderBy("item_seq").collect()
    ]
    pages_before = eng.pages_crawled
    rounds_before = eng.round_num
    assert seen_before == res.processed

    eng.add_seed("/catalogue/page-1.html")
    assert eng.frontier_size == 1
    assert not eng.stopped
    eng.run("/catalogue/page-1.html")  # continues: frontier already seeded

    # the requeued page was dequeued again, in a new round
    requeues = [
        (r, p) for (r, _s, p, f) in eng.dequeue_log
        if p == "/catalogue/page-1.html" and r >= rounds_before
    ]
    assert len(requeues) == 1
    assert eng.pages_crawled == pages_before + 1
    # all rediscovered links/books are duplicates → state converges
    assert {r["canonical"] for r in eng.seen.collect()} == seen_before
    items_after = [
        (r["title"], r["price"], r["rating"], r["url"])
        for r in eng.items.orderBy("item_seq").collect()
    ]
    assert items_after == items_before


def test_add_seed_unseen_path_is_plain_enqueue(spark, pages):
    eng = CrawlEngine(spark, pages).run("/catalogue/page-1.html", max_rounds=1)
    before = eng.seen_count
    eng.add_seed("/catalogue/does-not-exist.html")
    assert eng.seen_count == before + 1
    eng.run_round()
    # missing page: consumed, fetch miss — stays in seen, never re-queued
    assert eng.metrics[-1].fetch_misses >= 1


def test_add_seed_checkpoint_resume(spark, pages, tmp_path):
    """A resume after an add_seed compaction reconstructs the same seen set
    (older seen_inc files are superseded by the compacted snapshot)."""
    ck = str(tmp_path / "ck")
    eng = CrawlEngine(spark, pages, checkpoint_dir=ck)
    eng.run("/catalogue/page-1.html")
    eng.add_seed("/catalogue/page-1.html")
    eng.run("/catalogue/page-1.html")
    want = {r["canonical"] for r in eng.seen.collect()}
    assert eng._seen_base_round > 0  # compaction happened

    eng2 = CrawlEngine.resume(spark, pages, ck)
    assert {r["canonical"] for r in eng2.seen.collect()} == want
    assert eng2.seen_count == eng.seen_count
    assert eng2.items_count == eng.items_count


# ------------------------------------------------------------- sharded bloom


def test_sharded_bloom_no_false_negatives(spark):
    members = [(f"site.example/page-{i}",) for i in range(500)]
    others = [(f"other.example/page-{i}",) for i in range(500)]
    mdf = spark.createDataFrame(members, "canonical string")
    odf = spark.createDataFrame(others, "canonical string")
    m_bits = 1 << 14
    shards = SF.build_shards(BL.Bloom(), mdf, "canonical", m_bits)

    probed_m = SF.probe_shards(BL.Bloom(), mdf, shards, "canonical", m_bits).collect()
    assert all(r["_maybe"] for r in probed_m), "false negative: breaks exactness"

    probed_o = SF.probe_shards(BL.Bloom(), odf, shards, "canonical", m_bits).collect()
    fp = sum(1 for r in probed_o if r["_maybe"]) / len(probed_o)
    assert fp < 0.2, f"fp rate {fp} — sizing broken"


def test_sharded_bloom_or_merge(spark):
    a = spark.createDataFrame([(f"a{i}",) for i in range(200)], "canonical string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(200)], "canonical string")
    m_bits = 1 << 13
    merged = SF.update_shards(
        BL.Bloom(), SF.build_shards(BL.Bloom(), a, "canonical", m_bits),
        b, "canonical", m_bits,
    )
    both = a.unionByName(b)
    probed = SF.probe_shards(BL.Bloom(), both, merged, "canonical", m_bits).collect()
    assert all(r["_maybe"] for r in probed)


def test_sharded_bloom_crawl_golden(spark, pages, pages_map):
    """Force the sharded layout from round 0 (threshold=1): the crawl must
    stay byte-identical to the oracle."""
    eng = CrawlEngine(spark, pages, bloom_shard_threshold=1)
    eng.record_dequeues = True
    eng.run("/catalogue/page-1.html")
    res = crawl_oracle.crawl(pages_map)
    assert eng.crawl_order() == res.crawl_order
    assert {r["canonical"] for r in eng.seen.collect()} == res.processed
    assert eng.seen_filter.sharded  # sharded path actually ran
    # bloom_checked recorded: every round that had candidates reports how
    # many survived the pre-filter into the exact anti-join
    assert all(m.bloom_checked >= 0 for m in eng.metrics)


# ---------------------------------------------------------------- prefix sum


def test_prefix_sum_two_phase_matches_window(spark):
    rows = [(i, (i * 7919) % 3) for i in range(501)]
    df = spark.createDataFrame(rows, "k long, v long")
    small = {
        r["k"]: r["_before"]
        for r in with_prefix_sum(df, ["k"], "v", approx_rows=10).collect()
    }
    big = {
        r["k"]: r["_before"]
        for r in with_prefix_sum(df, ["k"], "v", num_partitions=8).collect()
    }
    assert small == big
    # spot-check exclusive semantics
    acc = 0
    for i in range(501):
        assert small[i] == acc
        acc += (i * 7919) % 3


def test_no_ungated_global_window_in_plans():
    """Plan invariant (VERDICT r1 task 6 + r2 task 2): no Window.orderBy
    without a partitionBy in plans/ outside seq.py's size-gated small-input
    fallbacks, and no per-host window on the dequeue path either — a
    Window.partitionBy("host") puts a mega-host's entire frontier in one
    task, a global sort in disguise on the politeness path."""
    plans = Path(__file__).resolve().parent.parent / (
        "distributed_web_scrapper_and_crawler_c__spark/plans"
    )
    offenders = []
    for py in plans.glob("*.py"):
        src = py.read_text()
        for m in re.finditer(r"Window\.orderBy\(", src):
            if py.name != "seq.py":
                offenders.append(f"{py.name}:{src[:m.start()].count(chr(10)) + 1}")
        if py.name == "frontier.py":
            for m in re.finditer(r"Window\.partitionBy\(\s*[\"']host", src):
                offenders.append(
                    f"{py.name}:{src[:m.start()].count(chr(10)) + 1} (host window)"
                )
    assert not offenders, f"ungated global windows: {offenders}"
    # and the two in seq.py are exactly the documented size-gated fallbacks
    seq_src = (plans / "seq.py").read_text()
    assert seq_src.count("Window.orderBy(") == 2
    assert seq_src.count("SMALL_SEQ_ROWS") >= 3  # constant + two gates


def test_grouped_rank_two_phase_matches_window(spark):
    """with_grouped_rank's scalable path (range-partition + boundary-host
    offsets) must agree with the per-group window fallback — including on a
    skewed mega-host that spans many range partitions."""
    from distributed_web_scrapper_and_crawler_c__spark.plans.seq import (
        with_grouped_rank,
    )

    rows = [(f"h{i % 5}" if i % 3 else "mega.example", i) for i in range(701)]
    df = spark.createDataFrame(rows, "host string, seq long")
    small = {
        (r["host"], r["seq"]): r["_grk"]
        for r in with_grouped_rank(
            df, "host", ["seq"], approx_rows=10
        ).collect()
    }
    big = {
        (r["host"], r["seq"]): r["_grk"]
        for r in with_grouped_rank(
            df, "host", ["seq"], num_partitions=16
        ).collect()
    }
    assert small == big
    # exact per-host FIFO semantics: rank is 1-based, dense, in seq order
    per_host: dict = {}
    for (h, s) in sorted(small, key=lambda t: t[1]):
        per_host.setdefault(h, 0)
        per_host[h] += 1
        assert small[(h, s)] == per_host[h]


def test_budgeted_crawl_uses_grouped_rank_scale_path(spark, pages, pages_map):
    """The budgeted dequeue stays byte-exact when forced onto the two-phase
    grouped-rank plan (approx_rows gate bypassed via a tiny SMALL_SEQ_ROWS)."""
    from distributed_web_scrapper_and_crawler_c__spark.plans import seq as seq_mod

    old = seq_mod.SMALL_SEQ_ROWS
    seq_mod.SMALL_SEQ_ROWS = 0  # force the scalable path at test scale
    try:
        eng = CrawlEngine(spark, pages, host_budget=3)
        eng.record_dequeues = True
        eng.run("/catalogue/page-1.html")
    finally:
        seq_mod.SMALL_SEQ_ROWS = old
    res = crawl_oracle.crawl(pages_map, host_budget=3)
    assert eng.crawl_order() == res.crawl_order
    assert {r["canonical"] for r in eng.seen.collect()} == res.processed


# ------------------------------------------------- metrics / status / robots


def test_round_metrics_ts_and_accounting(spark, pages, pages_map):
    eng = CrawlEngine(spark, pages)
    eng.run("/catalogue/page-1.html")
    res = crawl_oracle.crawl(pages_map)
    for m in eng.metrics:
        assert re.fullmatch(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", m.ts)
        assert m.links_extracted == m.links_new + m.links_dup + m.links_ignored
    assert sum(m.links_ignored for m in eng.metrics) == res.ignored_links
    assert sum(m.links_dup for m in eng.metrics) == res.duplicate_links
    mdf = eng.metrics_df()
    assert "ts" in mdf.columns and "bloom_checked" in mdf.columns


def test_robots_blocked_counted_as_ignored(spark, pages, pages_map):
    """ADVICE r1 (medium): robots-blocked links must land in links_ignored,
    not silently inflate links_dup."""
    disallow = [("books.toscrape.com", "/catalogue/category/")]
    rules = spark.createDataFrame(disallow, "host string, prefix string")
    eng = CrawlEngine(spark, pages, robots_rules=rules)
    eng.run("/catalogue/page-1.html")
    res = crawl_oracle.crawl(pages_map, robots_disallow=disallow)
    assert sum(m.links_ignored for m in eng.metrics) == res.ignored_links
    assert sum(m.links_dup for m in eng.metrics) == res.duplicate_links
    assert sum(m.links_new for m in eng.metrics) + 1 == len(res.processed)


def test_crawl_worker_totals_match_oracle(spark, pages, pages_map):
    """A1/A3 over the engine's own lineage metrics: per-partition-worker
    fetch totals must sum to the oracle's pages_crawled, and per-round
    increments must match the oracle's dequeue counts."""
    eng = CrawlEngine(spark, pages)
    eng.run("/catalogue/page-1.html")
    res = crawl_oracle.crawl(pages_map)
    m = eng.metrics_df()
    total = (
        m.groupBy("partition_id")
        .agg(F.sum("partition_urls_fetched").alias("t"))
        .agg(F.sum("t").alias("total"))
        .first()["total"]
    )
    assert total == res.pages_crawled
    per_round = {
        r["round"]: r["n"]
        for r in m.groupBy("round")
        .agg(F.first("urls_fetched").alias("n"))
        .collect()
    }
    want = {}
    for d in res.dequeues:
        want.setdefault(d.round, 0)  # rounds whose dequeues all miss count 0
        if d.fetched:
            want[d.round] += 1
    assert per_round == want


def test_status_df(spark, pages, pages_map):
    eng = CrawlEngine(spark, pages)
    eng.run("/catalogue/page-1.html")
    res = crawl_oracle.crawl(pages_map)
    row = eng.status_df().collect()[0]
    assert row["queue_size"] == 0
    assert row["processed"] == len(res.processed)
    assert row["books_found"] == len(res.books)
    assert row["pages_crawled"] == res.pages_crawled
    assert row["current_round"] == res.rounds


# ------------------------------------------------------------------- sitegen


def test_warc_ts_unique_and_slice_invariant(spark):
    spec = sitegen.SiteSpec(n_books=30, n_categories=3, books_per_page=10)
    df4 = sitegen.pages_dataframe(spark, spec, slices=4)
    df1 = sitegen.pages_dataframe(spark, spec, slices=1)
    rows4 = {(r["url"], r["warc_ts"]) for r in df4.select("url", "warc_ts").collect()}
    rows1 = {(r["url"], r["warc_ts"]) for r in df1.select("url", "warc_ts").collect()}
    assert rows4 == rows1
    ts = [t for (_u, t) in rows4]
    assert len(ts) == len(set(ts)), "warc_ts must be unique"
    # matches the single-threaded generator too
    local = {(p.url, p.warc_ts) for p in sitegen.iter_pages(spec)}
    assert {(u, t.replace(tzinfo=None)) for (u, t) in rows4} == {
        (u, t.replace(tzinfo=None)) for (u, t) in local
    }


def test_sequential_distributed_matches_driver(spark, pages, pages_map):
    """The binary-lifting chain indexer (collect-free scale path) must
    produce the identical book sequence as the driver walk and the
    reference oracle, with and without max_pages."""
    from distributed_web_scrapper_and_crawler_c__spark.plans.sequential import (
        sequential_crawl,
        sequential_oracle,
    )

    for mp in (0, 4):
        drv = sequential_crawl(spark, pages, max_pages=mp,
                               strategy="driver").collect()
        dst = sequential_crawl(spark, pages, max_pages=mp,
                               strategy="distributed").collect()
        assert [tuple(r) for r in dst] == [tuple(r) for r in drv], f"mp={mp}"
        want = sequential_oracle(pages_map, max_pages=mp)
        assert [
            (r["title"], r["price"], r["rating"], r["url"]) for r in dst
        ] == [(b.title, b.price, b.rating, b.url) for b in want], f"mp={mp}"


def test_chain_indices_cycle_detection(spark):
    from distributed_web_scrapper_and_crawler_c__spark.plans.sequential import (
        chain_indices_distributed,
    )

    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "url string, next_url string"
    )
    with pytest.raises(ValueError, match="cycle"):
        chain_indices_distributed(spark, cyc, "a")


def test_canonicalize_expr_equals_kernel_fuzz(spark):
    """The codegen expression form of F7 must be byte-identical to the
    Python kernel on hostile inputs — including non-ASCII uppercase (where
    SQL lower() would diverge from C-locale tolower), multiple schemes,
    fragments/queries in odd orders, and empty strings. The crawl engine
    runs the expression form in its hot path on the strength of this."""
    import itertools

    from distributed_web_scrapper_and_crawler_c__spark.functions import (
        expressions as X,
    )
    from distributed_web_scrapper_and_crawler_c__spark.functions import (
        kernels as K,
    )

    parts = [
        "", "HTTP://", "https://", "://", "//",
        "WWW.", "www.", "É", "Books.TOSCRAPE.com", "h",
    ]
    tails = [
        "", "/", "//", "/A/B.HTML", "#Frag", "?Q=1", "/Search?q=UP",
        "/filter?x=1#f", "/a/?b#c?d", "straße/Ö", "/x?y#z/",
    ]
    urls = ["".join(p) for p in itertools.product(parts, tails)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r["url"]: r["c"]
        for r in df.selectExpr(
            "url", X.canonicalize_url_sql("url") + " AS c"
        ).collect()
    }
    for u in urls:
        assert got[u] == K.canonicalize_url(u), repr(u)


def test_price_expr_equals_kernel_fuzz(spark):
    """The codegen price parser must be byte-identical to the kernel
    (Item.h:54-89 semantics) on hostile inputs: currency bytes between
    digits, double dots, separators before the first digit, signs, unicode,
    and empty strings."""
    from distributed_web_scrapper_and_crawler_c__spark.functions import (
        expressions as X,
    )
    from distributed_web_scrapper_and_crawler_c__spark.functions import (
        kernels as K,
    )

    cases = [
        "", "Free", "£51.77", "$1,024.50", "€7,5", "45.17.3", "4£5",
        "..3", ",9,", "abc", "-3.5", "+2", "  42,00x", "£", "1.", ".5",
        "9..", "£0.00", "price: 12 EUR 34", "١٢",  # arabic digits: >127
        "3·4",  # middle dot >127 between digits
    ]
    df = spark.createDataFrame([(c,) for c in cases], "p string")
    got = {
        r["p"]: r["v"]
        for r in df.select("p", X.price_value_expr(F.col("p")).alias("v")).collect()
    }
    for c in cases:
        assert got[c] == K.price_to_double(c), repr(c)


def test_simhash_blocking_guarantee(spark):
    """The 4×16-bit band blocking pigeonhole-guarantees recall only for
    hamming ≤ 3: a planted hamming-2 pair MUST be found; a pair differing
    in all four bands must NOT be reported at max_hamming=3 (and the driver
    query uses max_hamming=3 for exactly this reason)."""
    from distributed_web_scrapper_and_crawler_c__spark.operators.dedup import (
        simhash64_udf,
        simhash_near_dups,
    )
    from pyspark.sql import functions as F

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    dup = base                        # hamming 0 — MUST be found
    edited = base + " lambda"         # measured hamming 8 — above threshold
    far = "totally different words about unrelated machinery and rivers"
    docs = spark.createDataFrame(
        [(0, base), (1, dup), (2, edited), (3, far)],
        "doc_id long, text string",
    )
    sh = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", simhash64_udf(F.col("text")).alias("sh")
        ).collect()
    }
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dups(docs, max_hamming=3).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 0, "exact dup must be found"
    for (a, b), h in pairs.items():
        d = bin((sh[a] ^ sh[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
        assert d <= 3 and h == d
    # the edited doc measures hamming 8 vs base — above the d<=3 guarantee,
    # so it must NOT be reported at max_hamming=3 (the driver's setting)
    assert bin((sh[0] ^ sh[2]) & 0xFFFFFFFFFFFFFFFF).count("1") > 3
    assert (0, 2) not in pairs and (2, 3) not in pairs


def test_embedding_near_dup_lsh_recall(spark):
    """LSH-blocked near-dup pairs ⊆ exact pairs (same cosine filter runs on
    blocked candidates) and recall ≥ 0.9 on planted near-duplicates."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.01"
    q = E.queries()
    exact = {
        (r["id_a"], r["id_b"])
        for r in q["embedding_near_dup_exact"](spark, sf).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in q["embedding_near_dup_lsh"](spark, sf).collect()
    }
    assert lsh <= exact
    assert exact, "fixture must plant pairs"
    assert len(lsh & exact) / len(exact) >= 0.9


def test_next_edges_cover_all_pages(spark):
    """ADVICE r1: find_next_link runs on EVERY page (Crawler.cpp:99-103),
    not only listing-shaped ones — a non-listing page carrying a
    <li class="next"> link must produce an edge."""
    from distributed_web_scrapper_and_crawler_c__spark.plans.sequential import (
        next_edges,
    )

    rows = [
        ("http://books.toscrape.com/catalogue/odd-page",  # not listing-shaped
         b'<html><li class="next"><a href="page-9.html">next</a></li></html>'),
        ("http://books.toscrape.com/catalogue/plain-page",
         b"<html>no next here</html>"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    edges = {r["url"]: r["next_url"] for r in next_edges(df).collect()}
    assert edges == {
        "http://books.toscrape.com/catalogue/odd-page":
            "http://books.toscrape.com/catalogue/page-9.html"
    }
