"""Per-query isolation harness for the optimization rounds (guide §1).

NOT the driver bench — bench.py stays frozen. This file exists so A/Bs can
run a subset of queries, capture `.explain("formatted")` plans, and emit
per-phase crawl tables without re-running the whole suite.

Usage:
  python bench_extra.py --queries dedup_minhash_lsh,near_dup_pipeline \
      [--sf-dir /root/testdata/sf1.0] [--repeats 3] [--explain-dir plans/r06] \
      [--suffix _before]
  python bench_extra.py --crawl [--books 3000] [--phase-detail]

Prints one JSON line with per-query min/median walls (noop sink, same
methodology as bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--suffix", default="")
    ap.add_argument("--crawl", action="store_true")
    ap.add_argument("--books", type=int, default=3000)
    ap.add_argument("--phase-detail", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import bench
    import __spark_entry__ as entry

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = bench.build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    bench.warmup(spark, args.sf_dir)

    out: dict = {"sf_dir": args.sf_dir, "repeats": args.repeats}

    if args.queries:
        qmap = entry.queries()
        names = [n for n in args.queries.split(",") if n]
        timings, samples = {}, {}
        for name in names:
            fn = qmap[name]
            if args.explain_dir:
                os.makedirs(args.explain_dir, exist_ok=True)
            walls = []
            for i in range(args.repeats):
                spark.sparkContext.setJobDescription(f"{name}#{i}")
                t0 = time.time()
                _force(fn(spark, args.sf_dir))
                walls.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            timings[name] = min(walls)
            samples[name] = walls
            if args.explain_dir:
                p = os.path.join(
                    args.explain_dir, f"{name}{args.suffix}.txt")
                df = fn(spark, args.sf_dir)
                txt = spark._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                with open(p, "w") as f:
                    f.write(txt)
        out["queries"] = timings
        out["samples"] = samples

    if args.crawl:
        if args.phase_detail:
            os.environ["SPARK_PHASE_DETAIL"] = "1"
        from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import (
            CrawlEngine,
        )
        from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen

        spec = sitegen.SiteSpec(
            n_books=args.books, n_categories=14, books_per_page=250)
        pages = sitegen.pages_dataframe(spark, spec, slices=cpus).persist()
        pages.count()
        walls = []
        rounds = None
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"crawl#{i}")
            t0 = time.time()
            eng = CrawlEngine(spark, pages, num_partitions=cpus)
            eng.run("/catalogue/page-1.html")
            walls.append(round(time.time() - t0, 3))
            rounds = [
                {
                    "round": m.round, "fast": m.fast_path,
                    "wall_ms": round(m.wall_ms, 1),
                    "dequeued": m.urls_dequeued, "fetched": m.urls_fetched,
                    "links": m.links_extracted, "books": m.books_found,
                    "phase_ms": m.phase_ms,
                }
                for m in eng.metrics
            ]
        pages.unpersist()
        out["crawl_walls"] = walls
        out["crawl_rounds_last_run"] = rounds

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
