import json, os, sys, time, glob
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
os.makedirs("/dev/shm/spark-events", exist_ok=True)
spark = (SparkSession.builder.master("local[32]")
    .appName("prof-jobs")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.default.parallelism", "32")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.driver.memory", "8g")
    .config("spark.local.dir", "/dev/shm/spark-local")
    .config("spark.ui.enabled", "false")
    .config("spark.eventLog.enabled", "true")
    .config("spark.eventLog.dir", "/dev/shm/spark-events")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import CrawlEngine
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen
spec = sitegen.SiteSpec(n_books=3000, n_categories=14, books_per_page=250)
pages = sitegen.pages_dataframe(spark, spec, slices=32).persist(); pages.count()
t0=time.time()
eng = CrawlEngine(spark, pages, num_partitions=32)
eng.run("/catalogue/page-1.html")
print("wall", round(time.time()-t0,2), "rounds", eng.round_num)
app_id = spark.sparkContext.applicationId
spark.stop()
# parse event log
path = glob.glob(f"/dev/shm/spark-events/{app_id}*")[0]
jobs = {}
stages = {}
for line in open(path):
    e = json.loads(line)
    t = e.get("Event")
    if t == "SparkListenerJobStart":
        jid = e["Job ID"]
        props = e.get("Properties") or {}
        cs = props.get("callSite.short", "")
        jobs[jid] = {"start": e["Submission Time"], "cs": cs,
                     "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])]}
    elif t == "SparkListenerJobEnd":
        jid = e["Job ID"]
        if jid in jobs:
            jobs[jid]["end"] = e["Completion Time"]
from collections import Counter, defaultdict
agg = defaultdict(lambda: [0, 0.0])
for jid, j in sorted(jobs.items()):
    if "end" not in j: continue
    dur = (j["end"] - j["start"]) / 1000.0
    key = j["cs"]
    agg[key][0] += 1
    agg[key][1] += dur
print(f"total jobs: {len(jobs)}")
for k, (n, s) in sorted(agg.items(), key=lambda x: -x[1][1]):
    print(f"{s:8.2f}s  n={n:4d}  {k}")
