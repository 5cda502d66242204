"""Crawl-frontier benchmark: one run of one workload.

    python3 perfbench/run.py --workload drain_chain --seed 1 --seconds 10 --trace 0

Set-up (timed as ``setup_s``): Spark session start, site generation
(median of three), the oracle's crawl, and an untimed warm-up crawl of the
workload's first ``warmup_rounds`` rounds. Then
``--trace 0`` runs timed crawls for ``--seconds`` seconds (at least one)
and reports the end-to-end metrics; ``--trace 1`` runs an untraced, a
traced and another untraced crawl plus standalone layer passes and reports
the per-layer metrics. Every crawl is checked against the oracle.

Lines before the last are context (seed, nproc, PySpark version, local[K],
the workload's measured shape, fail_ratio); the last line is the result
JSON: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import pyspark  # noqa: E402

import crawl as C  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SITE_REPS = 3


def tail(values: list[float], n_min: int) -> tuple[float, int]:
    """(value, percentile): the highest whole percentile with at least ten
    samples beyond it at ``n_min`` samples (one crawl's rounds, so the
    percentile does not move with the number of crawls that fit in a run);
    the maximum when that would be below the median."""
    q = math.floor(100 * (1 - 10 / n_min)) if n_min > 10 else 0
    if q < 50:
        return max(values), 100
    xs = sorted(values)
    return xs[max(0, math.ceil(q / 100 * len(xs)) - 1)], q


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args) -> dict:
    wl = WORKLOADS[args.workload]
    nproc = os.cpu_count() or 1
    tmp = ROOT / ".perfbench_tmp" / f"{wl.name}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    ckpt = tmp / "ckpt" if wl.resume_after is not None else None
    context = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "master": f"local[{nproc}]",
        "pyspark": pyspark.__version__,
    }
    attempted = failed = 0
    mismatches: list[str] = []

    def checked(crawl) -> None:
        nonlocal attempted, failed
        attempted += 1
        bad = C.check(crawl, site.expected)
        if bad:
            failed += 1
            mismatches.extend(bad)

    t_run = t = time.perf_counter()
    spark = C.start_spark(nproc, tmp)
    session_s = time.perf_counter() - t
    try:
        site = C.build_site(spark, wl, args.seed, nproc, SITE_REPS)
        t = time.perf_counter()
        site.expected = C.expected_crawl(site, wl)
        oracle_s = time.perf_counter() - t
        t = time.perf_counter()
        C.run_crawl(spark, site, wl, ckpt, max_rounds=wl.warmup_rounds)
        warmup_s = time.perf_counter() - t
        setup_s = session_s + site.gen_s + oracle_s + warmup_s
        exp = site.expected
        context.update(
            pages=site.n_pages, seen=len(exp.seen), items=len(exp.books),
            pages_crawled=exp.pages_crawled, rounds=exp.rounds,
            setup={"session_s": session_s, "gen_s": site.gen_s,
                   "oracle_s": oracle_s, "warmup_s": warmup_s},
        )

        def shape(crawl) -> None:
            context.update(fast_rounds=sum(crawl.fast),
                           mirror_alive=crawl.engine._seen_mirror is not None,
                           round_ms=[round(ms) for ms in crawl.round_ms])

        if args.trace:
            import layers as L

            # untraced, traced, untraced: the first crawl finishes warming the
            # rounds the warm-up did not reach; the overhead compares the
            # traced crawl with the last one
            checked(C.run_crawl(spark, site, wl, ckpt))
            tracer = L.Tracer(spark)
            tracer.trace_id = 1
            tf = L.TimedParquet()
            traced = C.run_crawl(spark, site, wl, ckpt, tracer=tracer, table_format=tf)
            checked(traced)
            shape(traced)
            tracer.trace_id = 2
            plain = C.run_crawl(spark, site, wl, ckpt)
            checked(plain)
            per_layer = L.frontier_metrics(tracer, traced, plain.wall_s)
            per_layer.update(L.layer_passes(
                spark, site, traced, nproc, tracer, tf, tmp / "layers"))
            per_layer["sitegen.gen_s"] = (site.gen_s, "s")
            metrics = {k: metric(v, u) for k, (v, u) in per_layer.items()}
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"spans-{wl.name}-{args.seed}.json").write_text(
                json.dumps(tracer.spans))
        else:
            sampler = C.RssSampler([os.getpid(), C.jvm_pid()]).start()
            crawls = []
            t0 = time.perf_counter()
            while attempted < 1 or time.perf_counter() - t0 < args.seconds:
                try:
                    c = C.run_crawl(spark, site, wl, ckpt)
                except Exception as e:  # a crawl that raises is a failed attempt
                    attempted += 1
                    failed += 1
                    mismatches.append(f"raised {type(e).__name__}: {e}")
                    continue
                checked(c)
                shape(c)
                crawls.append((c.wall_s, c.pages, c.round_ms))
                del c
            peak_mb = sampler.stop()
            pooled = [ms for _w, _p, rms in crawls for ms in rms]
            tail_ms, tail_q = tail(pooled, exp.rounds)
            context.update(crawls=len(crawls), round_samples=len(pooled),
                           round_tail_percentile=tail_q)
            metrics = {
                "urls_per_s": metric(
                    sum(p for _w, p, _r in crawls) / sum(w for w, _p, _r in crawls), "1/s"),
                "round_p50_ms": metric(statistics.median(pooled), "ms"),
                "round_tail_ms": metric(tail_ms, "ms"),
                "peak_rss_mb": metric(peak_mb, "MB"),
                "setup_s": metric(setup_s, "s"),
            }
    finally:
        C.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    context.update(run_s=time.perf_counter() - t_run,
                   attempted=attempted, failed=failed,
                   fail_ratio=failed / attempted if attempted else 1.0,
                   mismatches=mismatches[:5])
    print(json.dumps({"context": context}))
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    result = run(args)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
