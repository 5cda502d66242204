import os, sys, time
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions","8")
    .config("spark.sql.adaptive.enabled","true")
    .config("spark.ui.enabled","false")
    .config("spark.local.dir","/dev/shm/spark-local")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import CrawlEngine
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen

def crawl(fast, **kw):
    spec = sitegen.SiteSpec(n_books=80, n_categories=5, books_per_page=20)
    pages = sitegen.pages_dataframe(spark, spec, slices=8).persist(); pages.count()
    eng = CrawlEngine(spark, pages, num_partitions=8, fast_round_rows=fast, **kw)
    eng.record_dequeues = True
    t0=time.time()
    eng.run("/catalogue/page-1.html")
    w=time.time()-t0
    items = [tuple(r) for r in eng.items.orderBy("item_seq").collect()]
    seen = sorted(tuple(r) for r in eng.seen.collect())
    fr = sorted(tuple(r) for r in eng.frontier.collect()) if eng.frontier is not None else None
    met = [(m.round, m.urls_dequeued, m.urls_fetched, m.fetch_misses, m.books_found,
            m.links_extracted, m.links_new, m.links_dup, m.links_ignored,
            dict(m.partition_fetch_counts), m.bloom_checked) for m in eng.metrics]
    pages.unpersist()
    return dict(log=list(eng.dequeue_log), items=items, seen=seen, fr=fr, met=met,
                wall=w, rounds=eng.round_num, n=eng.pages_crawled)

for kw in [dict(), dict(host_budget=3), dict(max_pages=37), dict(min_delay=2, host_budget=2)]:
    a = crawl(0, **kw)      # distributed
    b = crawl(10**9, **kw)  # force fast everywhere
    keys = ["log","items","seen","fr","rounds","n"]
    diffs = [k for k in keys if a[k]!=b[k]]
    # metrics: compare all but bloom_checked parity where -1 semantics differ? compare fully
    if a["met"]!=b["met"]: diffs.append("met")
    print(kw, "walls", round(a["wall"],1), round(b["wall"],1), "DIFFS:", diffs or "none")
    if diffs:
        for k in diffs[:2]:
            if k=="met":
                for x,y in zip(a["met"],b["met"]):
                    if x!=y: print("  met", x, "vs", y)
            else:
                print("  a",k,str(a[k])[:300]); print("  b",k,str(b[k])[:300])
spark.stop()
