import os, sys, time
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
aqe = os.environ.get("AQE", "true")
sp = os.environ.get("SHUF", "32")
spark = (SparkSession.builder.master("local[32]")
    .appName("exp")
    .config("spark.sql.shuffle.partitions", sp)
    .config("spark.default.parallelism", "32")
    .config("spark.sql.adaptive.enabled", aqe)
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.driver.memory", "8g")
    .config("spark.local.dir", "/dev/shm/spark-local")
    .config("spark.ui.enabled", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import CrawlEngine
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen
spec = sitegen.SiteSpec(n_books=3000, n_categories=14, books_per_page=250)
pages = sitegen.pages_dataframe(spark, spec, slices=32).persist(); pages.count()
t0=time.time()
eng = CrawlEngine(spark, pages, num_partitions=32)
eng.run("/catalogue/page-1.html")
w = time.time()-t0
print(f"RESULT aqe={aqe} shuf={sp} wall={w:.2f}s pages={eng.pages_crawled} rounds={eng.round_num} items={eng.items_count}")
spark.stop()
