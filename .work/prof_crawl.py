import json, os, sys, time
sys.path.insert(0, "/root/repo")
os.environ.setdefault("SPARK_PHASE_DETAIL", "1")
import bench
spark = bench.build_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
spark.sparkContext.setLogLevel("ERROR")
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import CrawlEngine
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen

n_books = int(os.environ.get("SPARK_GRAFT_CRAWL_BOOKS", "3000"))
spec = sitegen.SiteSpec(n_books=n_books, n_categories=14, books_per_page=250)
cpus = spark.sparkContext.defaultParallelism
pages = sitegen.pages_dataframe(spark, spec, slices=cpus).persist()
pages.count()

st = spark.sparkContext.statusTracker()
j0 = max(st.getJobIdsForGroup() or [0])
t0 = time.time()
eng = CrawlEngine(spark, pages, num_partitions=cpus)
eng.run("/catalogue/page-1.html")
wall = time.time() - t0
jobs_total = len(st.getJobIdsForGroup() or [])
print(f"wall={wall:.2f}s rounds={eng.round_num} pages={eng.pages_crawled} jobs~{jobs_total}")
agg = {}
for m in eng.metrics:
    print(f"round {m.round}: wall={m.wall_ms:.0f}ms urls={m.urls_dequeued} " +
          " ".join(f"{k}={v:.0f}" for k, v in m.phase_ms.items()))
    for k, v in m.phase_ms.items():
        agg[k] = agg.get(k, 0) + v
print("PHASE TOTALS (ms):", json.dumps({k: round(v) for k, v in sorted(agg.items(), key=lambda x: -x[1])}))
spark.stop()
