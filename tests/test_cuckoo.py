"""Cuckoo-filter URL-seen tests (plans/cuckoo): the deletable twin of the
Bloom pre-filter (north-star "bloom/cuckoo URL-seen").

Layers: pure-numpy table semantics (no false negatives, fpr bound, multiset
deletion safety, kick-loop at high load), Spark layout parity (driver-held
vs sharded cogroup), engine goldens (crawl with seen_filter="cuckoo" is
byte-identical to the oracle in both layouts), the force-requeue deletion
path (reference server.cpp:790-812 addSeedUrl), and checkpoint/resume of
the filter state."""

import numpy as np
import pytest

from distributed_web_scrapper_and_crawler_c__spark.plans import cuckoo as CK
from distributed_web_scrapper_and_crawler_c__spark.plans import seen_filter as SF
from distributed_web_scrapper_and_crawler_c__spark.plans.frontier import CrawlEngine
from distributed_web_scrapper_and_crawler_c__spark.sources import sitegen
from distributed_web_scrapper_and_crawler_c__spark.oracle import crawl_oracle

from test_frontier_engine import assert_matches_oracle, run_engine  # noqa: E402

SPEC = sitegen.SiteSpec(n_books=40, n_categories=4, books_per_page=10)


@pytest.fixture(scope="module")
def pages(spark):
    df = sitegen.pages_dataframe(spark, SPEC, slices=8).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pages_map():
    return sitegen.pages_dict(SPEC)


def _rand_keys(n: int, seed: int):
    rng = np.random.default_rng(seed)
    hfp = rng.integers(-(2**63), 2**63, size=n, dtype=np.int64)
    hix = rng.integers(-(2**63), 2**63, size=n, dtype=np.int64)
    return hfp, hix


# ------------------------------------------------------------- numpy kernel


def test_no_false_negatives_and_fpr_bound():
    n = 20_000
    hfp, hix = _rand_keys(2 * n, 11)
    nb = CK.next_pow2_buckets(n)
    table = CK.Cuckoo().new(nb)
    fp, i1 = CK._fp_i1(hfp[:n], hix[:n], nb)
    CK.bulk_insert(table, fp, i1)
    assert CK.bulk_probe(table, fp, i1).all()  # never a false negative
    fp2, i2 = CK._fp_i1(hfp[n:], hix[n:], nb)
    fpr = CK.bulk_probe(table, fp2, i2).mean()
    # theory: 2 buckets x 4 slots / 2^16 ~ 1.2e-4 at load 0.5
    assert fpr < 0.005


def test_kick_loop_sustains_high_load():
    """Insertion stays correct past the vectorized two-pass regime: fill a
    small table to ~0.84 load so evictions must run."""
    nb = 1 << 10
    n = int(nb * CK.SLOTS * 0.84)
    hfp, hix = _rand_keys(n, 23)
    table = CK.Cuckoo().new(nb)
    fp, i1 = CK._fp_i1(hfp, hix, nb)
    CK.bulk_insert(table, fp, i1)
    assert int(np.count_nonzero(table)) == n  # multiset: every copy kept
    assert CK.bulk_probe(table, fp, i1).all()


def test_capacity_error_is_loud():
    nb = 16
    n = nb * CK.SLOTS + 8  # more keys than slots: must fail, not loop
    hfp, hix = _rand_keys(n, 31)
    fp, i1 = CK._fp_i1(hfp, hix, nb)
    with pytest.raises(CK.CuckooCapacityError):
        CK.bulk_insert(CK.Cuckoo().new(nb), fp, i1)


def test_delete_removes_one_copy_and_is_multiset_safe():
    nb = 1 << 8
    hfp, hix = _rand_keys(500, 7)
    fp, i1 = CK._fp_i1(hfp, hix, nb)
    table = CK.Cuckoo().new(nb)
    CK.bulk_insert(table, fp, i1)

    # plain delete: key becomes definitely-new again
    assert CK.bulk_delete(table, fp[:100], i1[:100]) == 100
    # remaining keys are untouched (no false negative from deletion)
    assert CK.bulk_probe(table, fp[100:], i1[100:]).all()

    # multiset: two distinct keys colliding on (fp, bucket) keep one copy
    # each; deleting one leaves the other still maybe-seen
    cfp = np.array([fp[100], fp[100]], dtype=np.uint16)
    ci1 = np.array([i1[100], i1[100]], dtype=np.int64)
    CK.bulk_insert(table, cfp[:1], ci1[:1])  # second copy of an existing key
    assert CK.bulk_delete(table, cfp[:1], ci1[:1]) == 1
    assert CK.bulk_probe(table, fp[100:101], i1[100:101]).all()


def test_delete_compacts_buckets_for_reinsertion():
    """Deletion pokes holes; the insert fast path assumes empties are packed
    right — _compact_buckets restores that, so insert-after-delete never
    overwrites a live fingerprint."""
    nb = 1 << 4
    table = CK.Cuckoo().new(nb)
    fp = np.array([1, 2, 3, 4], dtype=np.uint16)
    i1 = np.zeros(4, dtype=np.int64)  # all in bucket 0 (4 slots: full)
    CK.bulk_insert(table, fp, i1)
    CK.bulk_delete(table, fp[1:2], i1[1:2])  # hole at slot 1
    assert list(table[0]) == [1, 3, 4, 0]  # compacted
    CK.bulk_insert(table, np.array([5], dtype=np.uint16), i1[:1])
    assert sorted(table[0]) == [1, 3, 4, 5]


# ----------------------------------------------------------- spark layouts


def test_sharded_layout_matches_driver_held(spark):
    urls = [f"http://h{i % 37}.example.com/p/{i}" for i in range(3000)]
    df = spark.createDataFrame([(u,) for u in urls], "canonical string")
    probe_df = spark.createDataFrame(
        [(u,) for u in urls[:1500]]
        + [(f"http://new.example.com/x/{i}",) for i in range(1500)],
        "canonical string",
    )

    nb_local = CK.next_pow2_buckets(2 * len(urls))
    table = CK.cuckoo_local(df, "canonical", nb_local)
    probe = CK.maybe_seen_col(spark, table.tobytes(), nb_local)
    from pyspark.sql import functions as F

    local_res = {
        r["canonical"]: r["m"]
        for r in probe_df.withColumn(
            "m",
            probe(
                F.xxhash64("canonical", F.lit(CK.FP_SEED)),
                F.xxhash64("canonical", F.lit(CK.IX_SEED)),
            ),
        ).collect()
    }

    nb_shard = CK.next_pow2_buckets(max(1, 2 * len(urls) // SF.N_SHARDS))
    shards = SF.build_shards(CK.Cuckoo(), df, "canonical", nb_shard)
    shard_res = {
        r["canonical"]: r["_maybe"]
        for r in SF.probe_shards(
            CK.Cuckoo(), probe_df, shards, "canonical", nb_shard
        ).collect()
    }

    # every inserted url is maybe-seen in BOTH layouts (no false negatives)
    for u in urls[:1500]:
        assert local_res[u] and shard_res[u], u
    # novel urls are definitely-new in both layouts, modulo the tiny fpr
    novel = [u for u in local_res if u.startswith("http://new.")]
    assert sum(local_res[u] for u in novel) <= 2
    assert sum(shard_res[u] for u in novel) <= 2


def test_sharded_insert_and_delete_roundtrip(spark):
    base = spark.createDataFrame(
        [(f"http://s.example.com/a/{i}",) for i in range(400)],
        "canonical string",
    )
    extra = spark.createDataFrame(
        [(f"http://s.example.com/b/{i}",) for i in range(100)],
        "canonical string",
    )
    nb = CK.next_pow2_buckets(64)
    ck = CK.Cuckoo()
    shards = SF.build_shards(ck, base, "canonical", nb).localCheckpoint()
    shards = SF.update_shards(ck, shards, extra, "canonical", nb).localCheckpoint()
    probed = SF.probe_shards(ck, extra, shards, "canonical", nb)
    assert all(r["_maybe"] for r in probed.collect())

    shards = SF.update_shards(
        ck, shards, extra, "canonical", nb, delete=True
    ).localCheckpoint()
    probed = {r["canonical"]: r["_maybe"] for r in SF.probe_shards(
        ck, base.unionByName(extra), shards, "canonical", nb
    ).collect()}
    # deleted keys definitely-new again; the base set untouched
    assert sum(probed[r["canonical"]] for r in extra.collect()) <= 1
    assert all(probed[r["canonical"]] for r in base.collect())


def test_pin_shards_erases_inherited_stats(spark, pages):
    """``localCheckpoint`` carries Catalyst's size estimate across the pin
    and binary nodes estimate as the product of their children, so
    self-derived shard state compounds its estimate exponentially with
    rounds — the driver OOMs in BigInteger.multiply while merely analyzing
    a later round's plan (observed at ~20 rounds under host_budget).
    ``SeenFilter._pin_shards`` must reset the leaf to the default estimate."""
    import pandas as pd

    eng = CrawlEngine(spark, pages, seen_filter="cuckoo")
    base = spark.createDataFrame(
        [(i, b"x") for i in range(4)], "shard int, table binary"
    ).localCheckpoint()

    def upd(left, right):
        return (
            left[["shard", "table"]]
            if len(left)
            else pd.DataFrame(columns=["shard", "table"])
        )

    def digits(df):
        return len(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )

    state = base
    for _ in range(3):
        state = (
            state.groupBy("shard")
            .cogroup(base.groupBy("shard"))
            .applyInPandas(upd, "shard int, table binary")
        )
        state = eng.seen_filter._pin_shards(state)
    assert digits(state) <= 19  # the default leaf estimate, not a product
    assert state.count() == 4


# ----------------------------------------------------------- engine goldens


def test_cuckoo_crawl_matches_oracle(spark, pages, pages_map):
    eng = run_engine(spark, pages, seen_filter="cuckoo")
    res = crawl_oracle.crawl(pages_map)
    assert_matches_oracle(eng, res)
    assert eng.round_num == res.rounds


def test_cuckoo_sharded_crawl_matches_oracle(spark, pages, pages_map):
    eng = run_engine(
        spark, pages, seen_filter="cuckoo", bloom_shard_threshold=1,
        host_budget=7,
    )
    res = crawl_oracle.crawl(pages_map, host_budget=7)
    assert_matches_oracle(eng, res)
    assert eng.seen_filter.sharded


def test_seen_filter_validation(spark, pages):
    with pytest.raises(ValueError):
        CrawlEngine(spark, pages, seen_filter="xor")


def test_cuckoo_add_seed_deletes_fingerprint(spark, pages, pages_map):
    """Force-requeue under cuckoo: the canonical's fingerprint is removed
    from the filter (bloom can only leave a stale positive), then re-added
    by the enqueue's seen-mark — and the continued crawl converges to the
    same final state as the oracle, exactly like the bloom path."""
    eng = run_engine(spark, pages, seen_filter="cuckoo")
    res = crawl_oracle.crawl(pages_map)
    seen_before = {r["canonical"] for r in eng.seen.collect()}
    pages_before = eng.pages_crawled
    assert seen_before == res.processed

    # direct check of the deletion seam on a drained engine's filter
    from distributed_web_scrapper_and_crawler_c__spark.functions import kernels as K

    canon = K.canonicalize_url(eng.base_url + "/catalogue/page-1.html")
    one = spark.createDataFrame([(canon,)], "canonical string")
    hfp, hix = SF.collect_hashes(CK.Cuckoo(), one, "canonical")
    fp, i1 = CK._fp_i1(hfp, hix, eng.seen_filter.size)
    assert CK.bulk_probe(eng.seen_filter.state, fp, i1).all()
    eng.add_seed("/catalogue/page-1.html")
    # add_seed deleted one copy then re-marked seen at enqueue: still 1 copy
    assert CK.bulk_probe(eng.seen_filter.state, fp, i1).all()
    assert CK.bulk_delete(eng.seen_filter.state.copy(), fp, i1) == 1

    eng.run("/catalogue/page-1.html")
    assert eng.pages_crawled == pages_before + 1
    assert {r["canonical"] for r in eng.seen.collect()} == seen_before


def test_resume_across_filter_families(spark, pages, pages_map, tmp_path_factory):
    """A checkpoint written under one seen_filter resumes cleanly under the
    other: the persisted filter state is family-specific, so the resume
    must NOT restore it (a cuckoo table is not a bloom bitmap) — the first
    post-resume round rebuilds from the (family-agnostic) seen table, and
    the crawl still converges to the oracle's final state."""
    ck = str(tmp_path_factory.mktemp("ck_cross"))
    part = CrawlEngine(spark, pages, checkpoint_dir=ck, seen_filter="bloom")
    part.run("/catalogue/page-1.html", max_rounds=2)

    resumed = CrawlEngine.resume(spark, pages, ck, seen_filter="cuckoo")
    assert resumed.seen_filter.state is None
    resumed.run("/catalogue/page-1.html")
    assert resumed.seen_filter.rebuilds >= 1  # rebuilt under the new family
    res = crawl_oracle.crawl(pages_map)
    assert {r["canonical"] for r in resumed.seen.collect()} == res.processed
    assert resumed.round_num == res.rounds


def test_cuckoo_checkpoint_resume(spark, pages, tmp_path_factory):
    full_dir = str(tmp_path_factory.mktemp("ck_full"))
    part_dir = str(tmp_path_factory.mktemp("ck_part"))

    full = CrawlEngine(
        spark, pages, checkpoint_dir=full_dir, seen_filter="cuckoo"
    ).run("/catalogue/page-1.html")

    part = CrawlEngine(
        spark, pages, checkpoint_dir=part_dir, seen_filter="cuckoo"
    )
    part.run("/catalogue/page-1.html", max_rounds=2)

    resumed = CrawlEngine.resume(
        spark, pages, part_dir, seen_filter="cuckoo"
    )
    # persisted table restored: first post-resume round must not rebuild
    assert resumed.seen_filter.state is not None
    assert resumed.seen_filter.size == part.seen_filter.size
    np.testing.assert_array_equal(resumed.seen_filter.state, part.seen_filter.state)
    resumed.run("/catalogue/page-1.html")
    assert resumed.seen_filter.rebuilds == 0

    def state(eng):
        seen = sorted(r["canonical"] for r in eng.seen.collect())
        items = [
            (r["item_seq"], r["title"], r["price"], r["rating"], r["url"])
            for r in eng.items.orderBy("item_seq").collect()
        ]
        return (seen, items, eng.next_seq, eng.pages_crawled, eng.round_num)

    assert state(resumed) == state(full)
