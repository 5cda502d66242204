"""Round-3 feature tests: ungated-Jaccard size guard, batch-vectorized
SimHash equivalence, Bloom state persisted in the checkpoint (no O(seen)
rebuild on resume), multi-probe LSH-ANN recall lift, the table-format
adapter seam, the streaming strict-error contract, and the sequential
auto-strategy cycle fallback."""

from __future__ import annotations

import hashlib
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from distributed_web_scrapper_and_crawler_c__spark.oracle import crawl_oracle
from distributed_web_scrapper_and_crawler_c__spark.operators import dedup as DD
from distributed_web_scrapper_and_crawler_c__spark.operators import (
    similarity as SIM,
)
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import CrawlEngine
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen
from distributed_web_scrapper_and_crawler_c__spark.sources.table_format import (
    IcebergAdapter,
    ParquetAdapter,
)

SPEC = sitegen.SiteSpec(n_books=20, n_categories=2, books_per_page=10)


@pytest.fixture(scope="module")
def pages(spark):
    df = sitegen.pages_dataframe(spark, SPEC, slices=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pages_map():
    return sitegen.pages_dict(SPEC)


# ---------------------------------------------------------- jaccard guard


def test_ngram_jaccard_guard_raises_above_max_docs(spark):
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(5)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="near_dup_pipeline"):
        DD.ngram_jaccard_pairs(docs, threshold=0.1, max_docs=3)
    # bypass for oracle fixtures still works
    out = DD.ngram_jaccard_pairs(docs, threshold=0.1, max_docs=None)
    assert out.count() == 10  # all pairs of 5 identical docs


# ------------------------------------------------- simhash vectorization


def _naive_simhash(t: str) -> int:
    """Per-token reference implementation (the pre-vectorization semantics):
    md5-low-8-bytes per token, signed bitwise majority vote."""
    if not t:
        return 0
    toks = t.lower().split()
    if not toks:
        return 0
    votes = [0] * 64
    for w in toks:
        h = int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "little")
        for j in range(64):
            votes[j] += 1 if (h >> j) & 1 else -1
    v = sum(1 << j for j in range(64) if votes[j] > 0)
    return v - (1 << 64) if v >= (1 << 63) else v


def test_simhash_batch_vectorization_is_bit_identical(spark):
    texts = [
        "", "   ", "one", "one one one", "Alpha BETA gamma",
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumped over the lazy dog",
        "völlig unabhängiger text über maschinen und flüsse",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", DD.simhash64_udf(F.col("text")).alias("sh")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _naive_simhash(t), repr(t)


# ------------------------------------------- bloom checkpoint persistence


def test_bloom_state_restored_on_resume_driver_bitmap(spark, pages, pages_map, tmp_path):
    ck = str(tmp_path / "ck")
    eng = CrawlEngine(spark, pages, checkpoint_dir=ck)
    eng.run("/catalogue/page-1.html")
    assert eng.seen_filter.state is not None and eng.seen_filter.rebuilds >= 1

    eng2 = CrawlEngine.resume(spark, pages, ck)
    assert eng2.seen_filter.state is not None, "bitmap must come from the checkpoint"
    assert eng2.seen_filter.size == eng.seen_filter.size
    assert bytes(eng2.seen_filter.state) == bytes(eng.seen_filter.state)
    # a post-resume round must NOT rebuild from the full seen-set
    eng2.add_seed("/catalogue/page-1.html")
    eng2.run_round()
    assert eng2.seen_filter.rebuilds == 0
    # and state still converges to the oracle
    res = crawl_oracle.crawl(pages_map)
    assert {r["canonical"] for r in eng2.seen.collect()} == res.processed


@pytest.mark.parametrize("family", ["bloom", "cuckoo"])
def test_bloom_state_restored_on_resume_sharded(
    spark, pages, pages_map, tmp_path, family
):
    ck = str(tmp_path / "ck")
    eng = CrawlEngine(
        spark, pages, checkpoint_dir=ck, seen_filter=family,
        bloom_shard_threshold=1,
    )
    eng.run("/catalogue/page-1.html")
    assert eng.seen_filter.sharded

    eng2 = CrawlEngine.resume(
        spark, pages, ck, seen_filter=family, bloom_shard_threshold=1
    )
    assert eng2.seen_filter.sharded, "shard table must come from the checkpoint"
    assert eng2.seen_filter.size == eng.seen_filter.size
    eng2.add_seed("/catalogue/page-1.html")
    eng2.run_round()
    assert eng2.seen_filter.rebuilds == 0
    res = crawl_oracle.crawl(pages_map)
    assert {r["canonical"] for r in eng2.seen.collect()} == res.processed


# ------------------------------------------------- multi-probe LSH-ANN


def test_lsh_ann_multi_probe_recall_lift(spark):
    """Planted-neighbor recall: each query has a noisy twin at cosine ≈ 0.99
    whose hyperplane signs flip on low-|margin| planes — exactly the case
    multi-probe recovers. Fully deterministic fixture (seeded hyperplanes,
    sin-derived noise), so the measured lift is stable."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 400)
    dim = len(base.select("embedding").first()[0])
    dups = base.selectExpr(
        "vec_id + 10000 AS vec_id",
        "transform(embedding, (x, i) -> CAST(x + 0.02 * "
        "sin(CAST(vec_id * 131 + i AS DOUBLE)) AS FLOAT)) AS embedding",
    )
    aug = base.unionByName(dups)
    nq = 40

    def planted_recall(n_probes: int) -> float:
        got = SIM.lsh_ann_topk(aug, dim, n_queries=nq, k=10, n_probes=n_probes)
        found = {
            r["query_id"]
            for r in got.collect()
            if r["vec_id"] == r["query_id"] + 10000
        }
        return len(found) / nq

    r1 = planted_recall(1)
    r4 = planted_recall(4)
    assert r4 >= 0.9, f"multi-probe recall {r4} below target"
    assert r4 > r1, f"multi-probe must lift single-probe recall ({r4} vs {r1})"


def test_ivf_ann_planted_recall(spark):
    """IVF coarse-quantizer ANN: the planted noisy twin must be retrieved
    for ≥0.9 of queries at n_probe=4, and probing more cells must not
    lose pairs found with fewer probes on this fixture."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 400)
    dups = base.selectExpr(
        "vec_id + 10000 AS vec_id",
        "transform(embedding, (x, i) -> CAST(x + 0.02 * "
        "sin(CAST(vec_id * 131 + i AS DOUBLE)) AS FLOAT)) AS embedding",
    )
    aug = base.unionByName(dups)
    nq = 40

    def planted_recall(n_probe: int) -> float:
        got = SIM.ivf_ann_topk(aug, n_queries=nq, k=10, n_probe=n_probe)
        found = {
            r["query_id"]
            for r in got.collect()
            if r["vec_id"] == r["query_id"] + 10000
        }
        return len(found) / nq

    r4 = planted_recall(4)
    assert r4 >= 0.9, f"IVF recall {r4} below target"


# ------------------------------------------------- table-format adapter


def test_checkpoint_goes_through_adapter(spark, pages, tmp_path):
    """Explicit ParquetAdapter: resume reproduces the engine state (the
    default path also uses it; this pins the seam's contract)."""
    ck = str(tmp_path / "ck")
    tf = ParquetAdapter()
    eng = CrawlEngine(spark, pages, checkpoint_dir=ck, table_format=tf)
    eng.run("/catalogue/page-1.html", max_rounds=2)
    eng2 = CrawlEngine.resume(spark, pages, ck, table_format=tf)
    assert eng2.round_num == eng.round_num
    assert eng2.frontier_size == eng.frontier_size
    assert {r["canonical"] for r in eng2.seen.collect()} == {
        r["canonical"] for r in eng.seen.collect()
    }


def test_iceberg_adapter_raises_without_catalog(spark):
    tf = IcebergAdapter()
    df = spark.range(1)
    with pytest.raises(RuntimeError, match="catalog"):
        tf.write(df, "crawl.db.t")
    with pytest.raises(RuntimeError, match="catalog"):
        tf.read(spark, "id long", ["crawl.db.t"])


# ------------------------------------------------- hygiene invariants


def test_no_bare_broad_exception_handlers():
    """VERDICT r2 task 5: no `except Exception: pass` anywhere in the
    package — state-read failures must propagate, not silently disable
    dedup."""
    pkg = Path(__file__).resolve().parent.parent / (
        "distributed_web_scrapper_and_crawler_c__spark"
    )
    offenders = []
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        if re.search(r"except\s+Exception\b", src):
            offenders.append(py.name)
    assert not offenders, f"broad exception handlers: {offenders}"


# ------------------------------------- sequential auto cycle fallback


def test_sequential_auto_falls_back_on_cycle(spark, monkeypatch):
    """A cycle anywhere in the next-pointer graph aborts the binary-lifting
    plan; under strategy='auto' the crawl must fall back to the exact driver
    walk instead of raising (ADVICE r2)."""
    from distributed_web_scrapper_and_crawler_c__spark.plans import sequential

    base = "http://books.toscrape.com"
    mk = (
        '<article class="product_pod"><h3>'
        '<a href="{b}.html" title="T{b}">x</a></h3>'
        '<p class="price_color">£1.00</p>'
        '<p class="star-rating One"></p></article>'
    )
    rows = [
        # main chain: page-1 -> page-2 (with books)
        (f"{base}/catalogue/page-1.html",
         (mk.format(b="a1")
          + '<li class="next"><a href="page-2.html">n</a></li>').encode()),
        (f"{base}/catalogue/page-2.html", mk.format(b="a2").encode()),
        # unreachable 2-cycle elsewhere in the store
        (f"{base}/catalogue/loop-a.html",
         b'<li class="next"><a href="loop-b.html">n</a></li>'),
        (f"{base}/catalogue/loop-b.html",
         b'<li class="next"><a href="loop-a.html">n</a></li>'),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    monkeypatch.setattr(sequential, "DISTRIBUTED_EDGE_THRESHOLD", 0)
    got = sequential.sequential_crawl(spark, pages, strategy="auto").collect()
    assert [r["title"] for r in got] == ["Ta1", "Ta2"]
    # explicit 'distributed' must still surface the invalid-plan error
    with pytest.raises(ValueError):
        sequential.sequential_crawl(spark, pages, strategy="distributed")
