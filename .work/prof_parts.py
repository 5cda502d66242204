import os, sys, time
sys.path.insert(0, "/root/repo")
import bench
spark = bench.build_spark(32)
spark.sparkContext.setLogLevel("ERROR")
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import CrawlEngine
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen
spec = sitegen.SiteSpec(n_books=300, n_categories=14, books_per_page=250)
pages = sitegen.pages_dataframe(spark, spec, slices=32).persist(); pages.count()
eng = CrawlEngine(spark, pages, num_partitions=32)
eng.run("/catalogue/page-1.html")
print("rounds", eng.round_num)
print("item part npart:", [p.rdd.getNumPartitions() for p in eng._item_parts])
print("seen part npart:", [p.rdd.getNumPartitions() for p in eng._seen_parts])
print("frontier npart:", eng.frontier.rdd.getNumPartitions() if eng.frontier is not None else None)
spark.stop()
