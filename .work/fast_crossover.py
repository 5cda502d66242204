"""Measure the driver-side vs distributed per-round crossover.

Drains the SAME bench site (3000 books, 14 categories, 250 books/listing,
the bench.py crawl_bench spec) twice on local[32]: once with the fast path
disabled (fast_round_rows=0, every round distributed) and once with a high
gate (fast_round_rows=N, every sub-N round driver-side). Prints per-round
(size, wall_ms, path) for both drains plus totals, and asserts the two
drains produce identical crawl order and item counts — the equivalence
guarantee the gate relies on.
"""
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import SparkSession  # noqa: E402

from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import (  # noqa: E402
    CrawlEngine,
)
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen  # noqa: E402

GATE = int(os.environ.get("FAST_GATE", "4096"))


def drain(spark, pages, gate):
    eng = CrawlEngine(spark, pages, num_partitions=32,
                      fast_round_rows=gate)
    t0 = time.time()
    eng.run("/catalogue/page-1.html")
    wall = time.time() - t0
    rounds = [(m.round, m.urls_dequeued, round(m.wall_ms, 1), m.fast_path)
              for m in eng.metrics]
    return eng, wall, rounds


def main():
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .appName("fast-crossover")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spec = sitegen.SiteSpec(n_books=3000, n_categories=14, books_per_page=250)
    pages = sitegen.pages_dataframe(spark, spec, slices=32).persist()
    pages.count()

    for label, gate in (("dist", 0), (f"fast{GATE}", GATE)):
        eng, wall, rounds = drain(spark, pages, gate)
        print(f"=== {label}: total {wall:.1f}s, rounds {eng.round_num}, "
              f"pages {eng.pages_crawled}, items {eng.items_count}")
        for r in rounds:
            print(f"  round {r[0]:2d} size {r[1]:5d} wall {r[2]:9.1f}ms "
                  f"{'FAST' if r[3] else 'dist'}")
        if label == "dist":
            base_order = eng.crawl_order()
            base_items = eng.items_count
        else:
            assert eng.crawl_order() == base_order, "crawl order diverged!"
            assert eng.items_count == base_items, "item count diverged!"
            print("EQUIVALENCE OK: identical crawl order and item count")


if __name__ == "__main__":
    main()
