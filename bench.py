"""Bench harness: headline queries + a frontier-drain crawl, one JSON line.

Run:  python bench.py
Env:  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
      SPARK_GRAFT_CPUS    local[N] cores (default 32)
      SPARK_GRAFT_CRAWL_BOOKS  synthetic-site size for the crawl bench
                               (default 3000 books ≈ 3.2k pages)
      SPARK_GRAFT_BENCH_REPEATS  runs per query, min-wall reported
                                 (default 2 — this shared VM's host
                                 oversubscription inflates identical runs
                                 up to ~2.5x; throttling only ever ADDS
                                 time, so min estimates true cost. Same
                                 protocol as BENCH/BASELINE.md.)

Prints exactly one JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., ...extras}

The headline set covers every operator family from SURVEY.md §2 that the
driver's correctness gate checks, plus the engine's real workload: a
multi-round BFS crawl to frontier drain (urls_per_sec + rounds_to_drain
are the BASELINE.json metrics). Scaling evidence across parallelism
levels lives in bench_scaling.py / BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _force(df) -> int:
    """Fully execute a plan. The noop sink materializes every column
    (a bare count() would let Catalyst prune UDF projections)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"bench-local{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


# Representative subset of __spark_entry__.queries(): every operator family,
# skipping only near-duplicate variants (e.g. the expr twin of a UDF query).
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "broadcast_dim_join",
    "url_canonicalize",        # pandas-UDF kernel over 20k urls
    "url_predicates",
    "url_repair",
    "url_normalize",
    "price_rating_coercion",
    "parse_books",             # F3 UDTF over synthesized listing pages
    "parse_book_page",
    "parse_extract_links",
    "item_stats",
    "crawl_rate",
    "worker_totals",
    "dedup_first_wins",
    "dedup_content_item",
    "seen_anti_join",
    "window_last_n",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    # dedup_ngram_jaccard is deliberately NOT a headline: it is the ungated
    # quadratic oracle fixture (size-guarded in operators/dedup.py); the
    # production-scale near-dup path benched here is the LSH-gated pipeline
    "near_dup_pipeline",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "text_token_counts",
    "text_quality",
    "text_langid",
    "doc_fingerprints",
    "multimodal_features",
]


def warmup(spark, sf_dir: str) -> None:
    """Spin up the JVM codegen pipeline, the Python-worker pool and the
    Arrow transfer path ONCE before the clock starts — the same policy
    bench_scaling.py documents for the scale job. Without this the first
    headline query (q1) absorbs ~3-5s of one-time spin-up that is not
    operator cost. Touches only the 5-row region table, no headline data."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # no annotations: `from __future__ import annotations` stringifies them,
    # which pandas_udf's signature sniffing rejects — returnType says it all
    @pandas_udf("long")
    def _identity(s):
        return s

    spark.range(100_000).select(F.sum(F.col("id") * 2)).collect()
    _force(spark.range(10_000).select(_identity("id").alias("x")))
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()


def crawl_bench(spark, n_books: int) -> dict:
    """Generate a synthetic site and drain the frontier; the engine's real
    workload. Returns urls/sec and rounds-to-drain (BASELINE.json metrics)."""
    from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import (
        CrawlEngine,
    )
    from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen

    # wide site (250 books/listing): frontier drains in ~a dozen BFS levels,
    # so throughput reflects batch parse/join work, not per-round fixed cost
    spec = sitegen.SiteSpec(n_books=n_books, n_categories=14, books_per_page=250)
    cpus = spark.sparkContext.defaultParallelism
    pages = sitegen.pages_dataframe(spark, spec, slices=cpus).persist()
    n_pages = pages.count()  # materialize before the clock starts

    t0 = time.time()
    eng = CrawlEngine(spark, pages, num_partitions=cpus)
    eng.run("/catalogue/page-1.html")
    wall = time.time() - t0
    pages.unpersist()
    # Bloom pre-filter effectiveness: candidate link rows that still needed
    # the exact seen anti-join vs all in-scope candidates (the shrink is the
    # point of the filter — sure-new rows skip the join entirely)
    candidates = sum(m.links_new + m.links_dup for m in eng.metrics)
    checked = sum(max(m.bloom_checked, 0) for m in eng.metrics)
    return {
        "crawl_wall_sec": round(wall, 3),
        "crawl_pages_fetched": eng.pages_crawled,
        "crawl_site_pages": n_pages,
        "urls_per_sec": round(eng.pages_crawled / wall, 2),
        "rounds_to_drain": eng.round_num,
        "fast_rounds": sum(1 for m in eng.metrics if m.fast_path),
        "crawl_items": eng.items_count,
        "bloom_candidate_rows": candidates,
        "bloom_checked_rows": checked,
        "bloom_antijoin_shrink": round(1 - checked / candidates, 4)
        if candidates else 0.0,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_books = int(os.environ.get("SPARK_GRAFT_CRAWL_BOOKS", "3000"))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    warmup(spark, sf_dir)
    warmup_sec = round(time.time() - t0, 3)

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))

    qmap = entry.queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name not in qmap:
            continue
        best = float("inf")
        for _ in range(repeats):
            t0 = time.time()
            _force(qmap[name](spark, sf_dir))
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    crawl: dict = {}
    best = float("inf")
    for _ in range(repeats):
        t0 = time.time()
        c = crawl_bench(spark, n_books)
        wall = time.time() - t0
        if wall < best:
            best, crawl = wall, c
    timings["crawl_drain"] = round(best, 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    out = {
        "metric": "headline_queries_plus_frontier_drain_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cpus": cpus,
        # one-time spin-up cost, deliberately OUTSIDE the timed queries
        # (see warmup()); reported for transparency
        "warmup_sec": warmup_sec,
        # min-wall over this many runs per query (see module docstring)
        "bench_repeats": repeats,
        **crawl,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
