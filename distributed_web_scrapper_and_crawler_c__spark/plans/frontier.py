"""The batch URL-frontier engine: each crawl round is one Spark job.

Reproduces the reference's observable crawl semantics (SURVEY §3.1 —
``crawl_website_queue``, Crawler.cpp:135-317) as DataFrame plans:

    dequeue (per-host budget window) → "fetch" (equi-join vs pages) →
    parse books (gated) → extract links (sorted UDF) → canonicalize →
    enqueue-dedup (anti-join vs seen, first-enqueuer-wins window) →
    assign dense global seq (range-partition prefix sums) →
    checkpoint frontier / seen / items / metrics.

Determinism: the dequeue order is ``seq`` order; new URLs are numbered by
``(parent_seq, link_rank)`` — the exact C++ FIFO order (first-enqueue-wins
picks min (parent_seq, link_rank), mirroring the sequential insert loop at
Crawler.cpp:259-264). The golden tests diff every round against the Python
oracle, which itself is differential-tested against the compiled reference.

Scale design (10^10 frontier, 1000 executors):
 - frontier and seen live in checkpointed tables partitioned by host hash;
   mega-hosts are budget-capped BEFORE salting, so politeness is exact and
   salting only spreads the already-budgeted slice for parse parallelism;
 - the fetch join broadcasts the (budget-bounded) round slice against the
   page store — one scan, zero shuffle of pages; with a bucketed/Iceberg
   page store this becomes a storage-partitioned join with no scan at all
   of non-matching buckets;
 - the seen anti-join is pre-filtered by an approximate seen filter
   (plans/seen_filter.py — bloom or cuckoo, driver-held or sharded):
   definitely-new candidates skip the join; only maybe-seen rows shuffle;
 - seq assignment uses two-phase prefix sums (plans/seq.py) — no global
   window, no single-partition bottleneck;
 - every round ends in a parquet/Iceberg snapshot + _COMMIT marker, so any
   round is resumable and task retries within a round are idempotent
   (the reference's worker-reassignment, server.cpp:477-496, comes free).
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..functions import expressions as X
from ..functions import kernels as K
from ..functions import udfs as U
from .parallelize import local_df
from . import seq as seq_mod
from .seen_filter import SeenFilter
from .seq import (
    range_bucket_expr,
    with_global_seq,
    with_global_seq_bucketed,
    with_global_seq_known_counts,
    with_grouped_rank,
    with_prefix_sum,
)

# largest seen-or-duplicated book-canonical population AND largest loser-row
# kill list (2 longs/row) for which the books plan resolves dedup via
# broadcast; beyond either bound the two-shuffle wide anti-join + window
# fallback runs instead
TROUBLE_BROADCAST_MAX = 2_000_000

# In-memory part-union compaction (see _maybe_compact_parts): fold the
# seen/items unions into one pinned frame once they span this many parts
# AND rows have doubled since the last fold (amortized O(total rows) over
# the crawl) ...
COMPACT_MIN_PARTS = 8
# ... or unconditionally at this many parts — caps the plan fan-out (and
# the driver's per-round re-analysis of an O(rounds)-node union) when
# rounds are tiny and the doubling rule would never fire
COMPACT_MAX_PARTS = 32
# below this row count the doubling rule is waived: repinning a small state
# is one sub-second job, and waiting for COMPACT_MAX_PARTS lets tiny-round
# tails (1-URL pagination chains) grow the union to dozens of leaves
SMALL_COMPACT_ROWS = 1 << 17

# driver-side EXACT seen/items mirror cap: while the crawl's whole seen-set
# fits under this, the engine keeps the canonical sets in driver memory
# (the exact-state twin of the driver-held bloom bitmap — same "driver
# state is fine until it isn't" gate), so fast rounds answer their
# membership probes with set lookups instead of a Spark job, and
# distributed rounds feed the bloom update from one collect of the pinned
# increment instead of a separate hashing job. Past the cap the mirrors
# die (None) and every probe goes back to the distributed anti-join —
# at 10^10 URLs the mirror never survives the first real round, exactly
# like the fast-round gate itself. ~8 MB of driver strings at the cap.
MIRROR_MAX_ROWS = 1 << 17
# ... and small states fold at this (lower) part count, since each union
# leaf costs ~0.3-0.5s of per-plan overhead in every later probe/anti-join
SMALL_COMPACT_PARTS = 3

FRONTIER_SCHEMA = (
    "seq long, path string, url string, canonical string, host string, "
    "parent_seq long, link_rank int, round_added int, priority int"
)
SEEN_SCHEMA = "canonical string, seq long, round_added int"
ITEMS_SCHEMA = (
    "item_seq long, parent_seq long, book_rank int, url string, "
    "canonical_url string, title string, price string, rating string, "
    "price_value double, rating_value int, item_type string, round int"
)


class _PhaseClock:
    """One round's phase timings: each mark records the wall ms since the
    previous mark. Profiling-only detail marks (SPARK_PHASE_DETAIL=1) split
    the coarse phases at each materialization boundary; off by default so
    the bench phase tables keep their stable 5-phase shape. One clock per
    thread: a worker thread marks its own, merged after its result."""

    def __init__(self):
        self.ms: dict[str, float] = {}
        self.last = time.time()
        self.detail = os.environ.get("SPARK_PHASE_DETAIL") == "1"

    def mark(self, name: str) -> None:
        now = time.time()
        self.ms[name] = round((now - self.last) * 1000, 1)
        self.last = now

    def dmark(self, name: str) -> None:
        if self.detail:
            self.mark(name)


@dataclass
class RoundMetrics:
    round: int
    urls_dequeued: int
    urls_fetched: int
    fetch_misses: int
    books_found: int
    links_extracted: int
    links_new: int
    links_dup: int
    links_ignored: int
    wall_ms: float
    partition_fetch_counts: dict = field(default_factory=dict)
    phase_ms: dict = field(default_factory=dict)
    # F17 (worker.cpp:102-109): wall-clock stamp of the round's completion,
    # the reference's log-line timestamp format
    ts: str = ""
    # rows that survived the seen pre-filter and went to the exact
    # anti-join; -1 on idle rounds (nothing probed)
    bloom_checked: int = -1
    # True when the round ran on the driver fast path (_run_round_fast)
    fast_path: bool = False


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        hostname: str = "books.toscrape.com",
        host_budget: int | None = None,
        min_delay: int = 0,
        max_pages: int = 0,
        checkpoint_dir: str | None = None,
        num_partitions: int | None = None,
        broadcast_threshold: int = 100_000,
        robots_rules: DataFrame | None = None,
        bloom_shard_threshold: int = 5_000_000,
        table_format=None,
        pin_storage_level: "StorageLevel | None" = None,
        compact_every: int = 0,
        priority_expr=None,
        seen_filter: str = "bloom",
        fast_round_rows: int = 512,
    ):
        self.spark = spark
        self.pages = pages.select("url", "html")
        self.hostname = hostname
        self.base_url = "http://" + hostname
        self.host_budget = host_budget
        # Q8's rounds-between-visits half (SURVEY §2.5): the reference
        # paces fetches in wall-time (50 ms dispatch sleep server.cpp:869,
        # 3-10 s worker backoff worker.cpp:432-443); the batch engine
        # models it as revisit spacing — a host dequeued in round r is
        # ineligible until round r+min_delay. 0/1 = off (every round).
        self.min_delay = min_delay
        self._host_last_round: dict[str, int] = {}
        self.max_pages = max_pages
        self.checkpoint_dir = Path(checkpoint_dir) if checkpoint_dir else None
        # checkpoint tables go through the table-format seam (SURVEY §4):
        # parquet in this sandbox, Iceberg on a cluster — same write shape
        if table_format is None:
            from ..sources.table_format import ParquetAdapter

            table_format = ParquetAdapter()
        self.table_format = table_format
        self.pin_storage_level = pin_storage_level
        self.n_part = num_partitions or spark.sparkContext.defaultParallelism
        self.broadcast_threshold = broadcast_threshold
        # data-driven robots rules: (host string, prefix string) = disallowed
        # path prefixes per host, generalizing the reference's hard-coded
        # ignore list (F11, HtmlParser.cpp:258-278) into a joinable table.
        # Applied at enqueue time, like the reference's link filter — blocked
        # urls never enter the frontier OR the seen-set.
        # Two schemas, dispatched on the `allow` column: the (host, prefix)
        # disallow table keeps the broadcast anti-join; the full RFC 9309
        # table from sources.robots.full_rules_from_texts (host, pattern,
        # allow, plen, pattern_re, is_prefix) gets the longest-match verdict
        # plan (one broadcast join of a one-row-per-host rules array +
        # higher-order-function filter — sources.robots.robots_allowed_col).
        self.robots_rules = robots_rules
        self._robots_full = (
            robots_rules is not None and "allow" in robots_rules.columns
        )

        self.frontier: DataFrame | None = None
        self.seen: DataFrame | None = None
        self.items: DataFrame = local_df(spark, [], ITEMS_SCHEMA)
        # incremental state: seen/items grow by union of per-round pinned
        # increments (never re-materialized whole — O(rounds) not O(rounds²))
        self._seen_parts: list[DataFrame] = []
        self._item_parts: list[DataFrame] = [self.items]
        self.frontier_size = 0
        # approximate pre-filter ahead of the exact seen anti-join (north-star
        # "bloom/cuckoo URL-seen"): seen_filter picks the family — "bloom",
        # an OR-mergeable bitmap, or "cuckoo", a fingerprint table that also
        # DELETES, so add_seed force-requeue removes the fingerprint instead
        # of leaving a stale positive. Past bloom_shard_threshold seen URLs
        # its state moves from the driver into a sharded DataFrame. Neither
        # choice changes an answer.
        self.seen_filter = SeenFilter(
            spark, seen_filter, bloom_shard_threshold, self._pin
        )
        self.metrics: list[RoundMetrics] = []
        self.round_num = 0
        self.next_seq = 0
        self.pages_crawled = 0
        self.items_count = 0
        self.seen_count = 0
        # rounds before _seen_base_round have had their seen-increments
        # compacted into that round's snapshot (set by add_seed's removal,
        # or periodically by compact_every)
        self._seen_base_round = 0
        self._seen_compacted = False
        # same base mechanism for the items increments
        self._items_base_round = 0
        # row counts at the last IN-MEMORY part-union fold (the doubling
        # term of _maybe_compact_parts' geometric schedule)
        self._seen_last_compact = 0
        self._items_last_compact = 0
        # priority frontier (north-star "partitioned priority frontier"):
        # priority_expr is an unresolved Column over the link columns
        # `path` / `url` (the columns in scope at every enqueue site),
        # cast to int, LOWER dequeues FIRST;
        # ties break by seq, so priority_expr=None (or a constant) is
        # byte-identical to the reference's FIFO — goldens assert that. The
        # expr is stamped at ENQUEUE time (a frontier column, checkpointed
        # with it), and the dequeue order key becomes (priority, seq) in the
        # same grouped-rank / prefix-sum plans — no new shuffle, the range
        # partitioning just leads with the priority column.
        self.priority_expr = priority_expr
        self._order_cols = (
            ["priority", "seq"] if priority_expr is not None else ["seq"]
        )
        # compact_every=k > 0: every k rounds the checkpoint writes the FULL
        # seen/items as that round's increment and moves the base forward,
        # so resume reads O(1) locations instead of O(rounds). The classic
        # LSM trade — O(state) extra write I/O every k rounds, amortized
        # O(state/k) per round — pick k against round size. On Iceberg the
        # increments are appends to one table and this job is the table-
        # maintenance compaction; the parquet adapter emulates it here.
        self.compact_every = compact_every
        self.stopped = False
        # golden-test instrumentation: (round, seq, path, fetched) per
        # dequeue, in order. Driver-side — enable only at test scale.
        self.record_dequeues = False
        self.dequeue_log: list[tuple] = []
        # Driver fast-round gate: a round whose ELIGIBLE FRONTIER fits in
        # ≤ fast_round_rows rows runs entirely driver-side (one fetch
        # collect + one membership-probe job) instead of the ~20-job
        # distributed round — see _run_round_fast. The reference workload's
        # pagination chains (one `page-N` discovering one `page-N+1`,
        # Crawler.cpp:135-317) make 1-URL rounds the common tail case; at
        # 10^10 scale the gate simply never fires on real rounds, exactly
        # like seq.SMALL_SEQ_ROWS. 0 disables (always-distributed).
        # Default = 512, from a measured crossover on the sf0.1 bench site
        # (local[32], .work/fast_crossover.py): driver rounds win clearly
        # below ~500 rows (1-row tail: ~1.2s vs ~3.9s; 260 rows: ~3.5s vs
        # ~6.5s), reach parity around ~1.5k mixed rows, and the driver
        # parse of a listing-heavy 1k+ round (~7ms/page single-threaded)
        # would lose to the distributed plan — 512 keeps the win with
        # margin for listing-heavy mixes.
        self.fast_round_rows = fast_round_rows
        # driver mirror of the frontier rows (FRONTIER_SCHEMA order) —
        # populated by seed()/fast rounds, dropped (None) whenever the
        # frontier is rebuilt by a distributed round or a resume
        self._frontier_local: list[tuple] | None = None
        # robots rules collected once for fast rounds (they broadcast in
        # the distributed plan anyway — the table is driver-sized)
        self._robots_local: list[tuple] | None = None
        # exact driver mirrors of the seen canonicals / items canonical_urls
        # (None = dead; see MIRROR_MAX_ROWS). Primed by seed(), updated by
        # both round paths, killed when the state outgrows the cap or on
        # resume (rebuild lazily via _ensure_mirrors when small).
        self._seen_mirror: set | None = None
        self._items_mirror: set | None = None

    # ------------------------------------------------------------------ state

    def _pin(self, df: DataFrame) -> DataFrame:
        """Truncate lineage between rounds (iterative plans otherwise grow
        unboundedly). Disk checkpointing happens separately per round.

        ``pin_storage_level`` tunes where the pinned blocks live. The
        default (None -> Spark's MEMORY_AND_DISK_DESER) is right when the
        aggregate executor heap comfortably exceeds the round's pinned
        state; on memory-tight clusters pass e.g.
        ``StorageLevel.MEMORY_AND_DISK`` (serialized, ~3-5x smaller for
        string-heavy frontier rows) or ``DISK_ONLY`` — deserialized pins
        compete for the same heap the parquet reader's untracked batch
        buffers allocate from (observed: a 9.6M-page round OOMs a single
        16g executor in VectorizedPlainValuesReader while 4x16g survives)."""
        if self.pin_storage_level is not None:
            return df.localCheckpoint(
                eager=True, storageLevel=self.pin_storage_level
            )
        return df.localCheckpoint(eager=True)

    def _maybe_compact_parts(self) -> None:
        """Geometric in-memory compaction of the seen/items part unions.

        seen/items accumulate one pinned (or LocalRelation) part per round,
        so every membership probe / anti-join scans len(parts) plan leaves
        and the driver re-analyzes an O(rounds)-node union each round —
        per-round cost grows with ROUNDS, not data (measured on a 12-round
        drain: the fast rounds' probe job crept +0.6-0.9s per round).
        Folding the union into ONE pinned frame on a geometric schedule
        (COMPACT_MIN_PARTS + rows doubled since the last fold → amortized
        O(total rows) over the whole crawl; COMPACT_MAX_PARTS caps fan-out
        when rounds are tiny) keeps every later scan O(1) leaves. Values
        are untouched — same rows, new physical layout — so crawl order is
        unchanged, and the checkpoint increment invariant (parts[-1] is
        THIS round's increment) holds because the fold runs BEFORE the
        round appends its part. This is the in-memory twin of the
        checkpoint's compact_every fold; old pinned blocks are GC-released
        via Spark's ContextCleaner once the dropped refs die.

        Small states (< SMALL_COMPACT_ROWS) additionally fold whenever the
        part count alone reaches SMALL_COMPACT_PARTS, doubling or not, and
        the fold coalesces to a handful of partitions: below that size a
        repin is one sub-second job and a later scan should be a handful of
        tasks, while the doubling rule would let a long tail of tiny rounds
        (pagination chains dequeue 1 URL/round and add ~1 row) pile up
        leaves until COMPACT_MAX_PARTS — measured on the sf0.1 drain, each
        extra leaf crept the fast rounds' membership probe +0.3-0.5s
        (per-plan codegen/broadcast overhead, independent of leaf size).
        The doubling rule still governs big states, where repins are NOT
        cheap and amortization matters."""
        if self.seen is not None and len(self._seen_parts) > 1:
            n = len(self._seen_parts)
            small = self.seen_count < SMALL_COMPACT_ROWS
            if n >= COMPACT_MAX_PARTS or (
                n >= COMPACT_MIN_PARTS
                and self.seen_count >= 2 * self._seen_last_compact
            ) or (small and n >= SMALL_COMPACT_PARTS):
                folded = self.seen.coalesce(4) if small else self.seen
                self.seen = self._pin(folded)
                self._seen_parts = [self.seen]
                self._seen_last_compact = self.seen_count
        if len(self._item_parts) > 1:
            n = len(self._item_parts)
            small = self.items_count < SMALL_COMPACT_ROWS
            if n >= COMPACT_MAX_PARTS or (
                n >= COMPACT_MIN_PARTS
                and self.items_count >= 2 * self._items_last_compact
            ) or (small and n >= SMALL_COMPACT_PARTS):
                folded = self.items.coalesce(4) if small else self.items
                self.items = self._pin(folded)
                self._item_parts = [self.items]
                self._items_last_compact = self.items_count

    def seed(self, start_paths: list[str]) -> "CrawlEngine":
        rows = []
        for i, p in enumerate(start_paths):
            url = self.base_url + p
            rows.append(
                (i, p, url, K.canonicalize_url(url), K.url_host(url), -1, i,
                 0, 0)
            )
        front = local_df(self.spark, rows, FRONTIER_SCHEMA)
        if self.priority_expr is not None:
            front = front.withColumn(
                "priority", self.priority_expr.cast("int")
            )
        self.frontier = self._pin(front)
        seed_seen = self._pin(
            local_df(
                self.spark,
                [(c, s, 0) for (s, _p, _u, c, *_rest) in rows],
                SEEN_SCHEMA,
            ).dropDuplicates(["canonical"])
        )
        self._seen_parts = [seed_seen]
        self.seen = seed_seen
        self.frontier_size = len(rows)
        # seed rows are driver-known: prime the fast-round mirror (the
        # priority column is a Spark expr we can't evaluate here, so a
        # priority frontier stays on the distributed path)
        self._frontier_local = (
            None if self.priority_expr is not None else list(rows)
        )
        self._seen_mirror = {c for (_s, _p, _u, c, *_rest) in rows}
        self._items_mirror = set()
        self.next_seq = len(rows)
        self.seen_count = seed_seen.count()
        self._write_checkpoint()
        return self

    def add_seed(self, path: str) -> "CrawlEngine":
        """Q6 — force-requeue (server.cpp:790-812 ``addSeedUrl``): remove the
        url's canonical from the seen-set, then enqueue it at the frontier
        tail with the next seq, marking it seen again at enqueue time (the
        engine's invariant: frontier ⊆ seen). A previously-crawled page is
        re-fetched on the next round; its links/books then dedup normally.

        The seen removal compacts the per-round seen increments, so the next
        checkpoint writes the full compacted seen-set and records itself as
        the new increment base (older seen_inc files are superseded).
        """
        url = self.base_url + path if path.startswith("/") else path
        canon = K.canonicalize_url(url)
        if self.frontier is None:
            return self.seed([path if path.startswith("/") else "/" + path])

        removed = self.seen.filter(F.col("canonical") == canon)
        n_removed = removed.count()
        if n_removed:
            compacted = self._pin(
                self.seen.filter(F.col("canonical") != canon)
            )
            self.seen = compacted
            self._seen_parts = [compacted]
            self._seen_compacted = True
            self.seen_count -= n_removed
            if self._seen_mirror is not None:
                self._seen_mirror.discard(canon)
            # a stale filter positive (bloom cannot delete) never blocks the
            # requeue: the enqueue below bypasses the dedup path entirely
            self.seen_filter.delete(removed.select("canonical"))

        p = path if path.startswith("/") else "/" + path
        row = [(self.next_seq, p, url, canon, K.url_host(url), -1, 0,
                self.round_num, 0)]
        new_front = local_df(self.spark, row, FRONTIER_SCHEMA)
        if self.priority_expr is not None:
            new_front = new_front.withColumn(
                "priority", self.priority_expr.cast("int")
            )
        new_front = self._pin(new_front)
        self.frontier = self._pin(self.frontier.unionByName(new_front))
        self.frontier_size += 1
        if self._frontier_local is not None and self.priority_expr is None:
            self._frontier_local.append(row[0])
        else:
            self._frontier_local = None
        new_seen = self._pin(
            local_df(
                self.spark, [(canon, self.next_seq, self.round_num)],
                SEEN_SCHEMA,
            )
        )
        self._seen_parts.append(new_seen)
        self.seen = self.seen.unionByName(new_seen)
        self.seen_count += 1
        if self._seen_mirror is not None:
            self._seen_mirror.add(canon)
        self._cap_mirrors()
        self.seen_filter.add(new_seen, self.seen, self.seen_count)
        self.next_seq += 1
        self.stopped = False
        return self

    # ------------------------------------------------------- driver fast round

    def _fast_eligible(self) -> bool:
        """True when this round can run driver-side (_run_round_fast):
        the frontier fits the gate, the dequeue order needs no Spark expr
        (priority_expr), and the seen-filter state is driver-held (the
        sharded layouts stay on the distributed path)."""
        if self.fast_round_rows <= 0:
            return False
        if self.frontier_size > self.fast_round_rows:
            return False
        if self.priority_expr is not None:
            return False
        return self.seen_filter.driver_local(self.seen_count)

    def _frontier_rows(self) -> list[tuple]:
        """Driver mirror of the frontier (FRONTIER_SCHEMA field order),
        collected once when absent — bounded by fast_round_rows."""
        if self._frontier_local is None:
            self._frontier_local = [
                tuple(r) for r in self.frontier.collect()
            ]
        return self._frontier_local

    def _cap_mirrors(self) -> bool:
        """Kill both driver mirrors once seen+items outgrow MIRROR_MAX_ROWS,
        on every path that grows the state; True while the state fits."""
        if self.seen_count + self.items_count <= MIRROR_MAX_ROWS:
            return True
        self._seen_mirror = None
        self._items_mirror = None
        return False

    def _ensure_mirrors(self) -> bool:
        """(Re)build the exact driver mirrors when the state is small
        enough (one tagged-union collect over the pinned state tables);
        returns True when the mirrors are live. A dead mirror above
        MIRROR_MAX_ROWS stays dead — the distributed probe path owns that
        regime."""
        if not self._cap_mirrors():
            return False
        if self._seen_mirror is not None and self._items_mirror is not None:
            return True
        rows = (
            self.seen.select(
                F.col("canonical").alias("k"), F.lit("s").alias("src")
            )
            .unionByName(
                self.items.select(
                    F.col("canonical_url").alias("k"), F.lit("i").alias("src")
                )
            )
            .collect()
        )
        self._seen_mirror = {r["k"] for r in rows if r["src"] == "s"}
        self._items_mirror = {r["k"] for r in rows if r["src"] == "i"}
        return True

    def _membership_probe(
        self, seen_keys: list[str], item_keys: list[str]
    ) -> tuple[set, set]:
        """ONE job answering both exact membership questions of a fast
        round: which candidate link canonicals are in `seen`, and which
        candidate book canonicals are in `items`. Each side is a broadcast
        left-semi join (key list broadcast, state table streamed — the
        same scan shape as the distributed anti-joins, no shuffle)."""
        parts = []
        if seen_keys:
            kdf = local_df(
                self.spark, [(k,) for k in seen_keys], "canonical string"
            )
            parts.append(
                self.seen.join(F.broadcast(kdf), "canonical", "leftsemi")
                .select(F.col("canonical").alias("k"), F.lit("s").alias("src"))
            )
        if item_keys:
            kdf = local_df(
                self.spark, [(k,) for k in item_keys], "canonical_url string"
            )
            parts.append(
                self.items.join(F.broadcast(kdf), "canonical_url", "leftsemi")
                .select(
                    F.col("canonical_url").alias("k"), F.lit("i").alias("src")
                )
            )
        if not parts:
            return set(), set()
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        rows = df.collect()
        return (
            {r["k"] for r in rows if r["src"] == "s"},
            {r["k"] for r in rows if r["src"] == "i"},
        )

    def _run_round_fast(self) -> bool:
        """Driver-side twin of run_round for sub-batch rounds.

        Same observable semantics, two Spark jobs instead of ~20: (1) the
        fetch — an isin-filter collect against the page store (the
        distributed broadcast-join's degenerate case), (2) the combined
        exact membership probe (_membership_probe). Parse/dedup/seq run on
        the driver through the SAME pure-Python kernels the pandas UDFs
        wrap (functions/kernels — fuzz-verified against the compiled
        reference), sanitized at the same boundary (udfs._san); the seen
        filter probes and inserts driver-known keys on its driver-held
        state, bit-identical to the JVM-hashed path. State increments
        become LocalRelations — leaf plans that need no localCheckpoint
        pin. Equivalence with the
        distributed path is asserted per scenario in
        tests/test_fast_rounds.py, and the goldens/differential fuzz run
        over whichever path the gate picks.
        """
        clock = _PhaseClock()
        t0 = clock.last
        rows = sorted(self._frontier_rows(), key=lambda r: r[0])  # seq order

        # --- min_delay eligibility + per-host budget (run_round twin) ----
        deferred_hosts: set = set()
        if self.min_delay > 1 and self._host_last_round:
            deferred_hosts = {
                h
                for h, lr in self._host_last_round.items()
                if self.round_num - lr < self.min_delay
            }
        elig = [r for r in rows if r[4] not in deferred_hosts]
        if self.host_budget is not None:
            taken: dict[str, int] = {}
            slice_rows = []
            for r in elig:
                k = taken.get(r[4], 0) + 1
                taken[r[4]] = k
                if k <= self.host_budget:
                    slice_rows.append(r)
        else:
            slice_rows = elig
        n_slice = len(slice_rows)
        if n_slice == 0 and deferred_hosts:
            # idle round: every queued host inside its revisit window —
            # empty increments, clock advances (run_round's idle branch)
            self._seen_parts.append(
                local_df(self.spark, [], SEEN_SCHEMA)
            )
            self._item_parts.append(
                local_df(self.spark, [], ITEMS_SCHEMA)
            )
            clock.mark("dequeue_fetch")
            self.metrics.append(
                RoundMetrics(
                    round=self.round_num, urls_dequeued=0, urls_fetched=0,
                    fetch_misses=0, books_found=0, links_extracted=0,
                    links_new=0, links_dup=0, links_ignored=0,
                    wall_ms=(time.time() - t0) * 1000, phase_ms=clock.ms,
                    ts=time.strftime("%Y-%m-%d %H:%M:%S"),
                    fast_path=True,
                )
            )
            self.round_num += 1
            self._write_checkpoint()
            return True

        # --- fetch: job 1 — collect the slice's page-store hits. _pid is
        # computed with the SAME expression repartition(n, url) places by
        # (pmod(murmur3(url), n)), so lineage counts match the
        # distributed parse stage exactly -------------------------------
        urls = [r[2] for r in slice_rows]
        hit_rows = (
            self.pages.filter(F.col("url").isin(urls))
            .select(
                "url", "html",
                F.pmod(F.hash(F.col("url")), F.lit(self.n_part))
                .cast("int")
                .alias("_pid"),
            )
            .collect()
        )
        pages_by_url = {r["url"]: r for r in hit_rows}

        # --- max_pages truncation (exclusive prefix-count of hits) ------
        if self.max_pages > 0:
            remaining = self.max_pages - self.pages_crawled
            popped = []
            before = 0
            for r in slice_rows:
                if before < remaining:
                    popped.append(r)
                if r[2] in pages_by_url:
                    before += 1
        else:
            popped = slice_rows
        n_popped = len(popped)
        if n_popped == 0:
            self.stopped = True
            return False
        if self.min_delay > 1:
            for r in popped:
                self._host_last_round[r[4]] = self.round_num

        hits = [r for r in popped if r[2] in pages_by_url]
        n_hits = len(hits)
        if self.record_dequeues:
            for r in popped:
                self.dequeue_log.append(
                    (self.round_num, r[0], r[1], r[2] in pages_by_url)
                )
        clock.mark("dequeue_fetch")
        self.pages_crawled += n_hits

        # --- parse: the UDF kernels, driver-side, same _san boundary ----
        _san = U._san
        part_counts: dict[int, int] = {}
        pods: list[tuple] = []  # (parent_seq, book_rank, title, price, rating, url, canonical)
        link_rows: list[tuple] = []  # (parent_seq, link_rank, link)
        n_extracted = 0
        n_ignored = 0
        for r in hits:
            seq, path = r[0], r[1]
            page = pages_by_url[r[2]]
            pid = page["_pid"]
            part_counts[pid] = part_counts.get(pid, 0) + 1
            html = page["html"]
            page_url = self.base_url + path
            if html is None:
                continue
            raw = bytes(html)
            if K.is_category_page(path):  # == book_parse_gate_expr(path)
                for rank, bk in enumerate(K.parse_books(raw, page_url)):
                    u = _san(bk.url)
                    pods.append(
                        (seq, rank, _san(bk.title), _san(bk.price),
                         bk.rating, u, K.canonicalize_url(u))
                    )
            links = [_san(x) for x in K.extract_all_links(raw, page_url)]
            n_extracted += len(links)
            kept = [x for x in links if not K.should_ignore_url(x)]
            n_ignored += len(links) - len(kept)
            for rank, link in enumerate(kept):
                link_rows.append((seq, rank, link))

        # --- books: within-round first-wins by (parent_seq, book_rank) --
        book_winners: list[tuple] = []
        seen_canon_round: set = set()
        for p in pods:  # pods is already in (parent_seq, book_rank) order
            if p[6] not in seen_canon_round:
                seen_canon_round.add(p[6])
                book_winners.append(p)

        # --- links: scope → robots → canonicalize → bloom pre-filter ----
        if self.robots_rules is not None and self._robots_local is None:
            if self._robots_full:
                # host → [(pattern, allow)] for the pure longest-match
                # kernel (robots_allowed) — the driver twin of the
                # distributed robots_allowed_col plan
                from collections import defaultdict

                by_host: dict = defaultdict(list)
                for rr in self.robots_rules.collect():
                    by_host[rr["host"]].append((rr["pattern"], rr["allow"]))
                self._robots_local = [("__full__", dict(by_host))]
            else:
                self._robots_local = [
                    (rr["host"], rr["prefix"])
                    for rr in self.robots_rules.collect()
                ]
        n_robots_blocked = 0
        cand_rows: list[tuple] = []  # (parent_seq, link_rank, path, url, canonical)
        _full_map = (
            self._robots_local[0][1]
            if self._robots_full and self._robots_local
            else None
        )
        for parent_seq, link_rank, link in link_rows:
            if link.startswith(self.base_url):
                path = link[len(self.base_url):]
            else:
                path = link
            if _full_map is not None:
                from ..sources.robots import robots_allowed

                if not robots_allowed(
                    _full_map.get(K.url_host(link), []), path
                ):
                    n_robots_blocked += 1
                    continue
            elif self._robots_local:
                lhost = K.url_host(link)
                if any(
                    lhost == rh and path.startswith(rp)
                    for rh, rp in self._robots_local
                ):
                    n_robots_blocked += 1
                    continue
            cand_rows.append(
                (parent_seq, link_rank, path, self.base_url + path,
                 K.canonicalize_url(link))
            )
        n_ignored += n_robots_blocked

        self.seen_filter.ensure(self.seen, self.seen_count, self.next_seq)
        flags = self.seen_filter.probe_keys([c[4] for c in cand_rows])
        n_bloom_checked = int(flags.sum()) if len(cand_rows) else 0
        maybe_canons = {c[4] for c, f in zip(cand_rows, flags) if bool(f)}
        clock.dmark("f.parse_py")

        # --- exact membership for both flows: set lookups against the
        # driver mirrors when live (zero jobs — the common fast-round
        # case), else ONE combined probe job ----------------------------
        book_canons = sorted({w[6] for w in book_winners})
        if self._ensure_mirrors():
            found_seen = {c for c in maybe_canons if c in self._seen_mirror}
            found_items = {
                c for c in book_canons if c in self._items_mirror
            }
        else:
            found_seen, found_items = self._membership_probe(
                sorted(maybe_canons), book_canons
            )
        clock.dmark("f.probe_job")

        # --- items: drop already-known canonicals, stamp item_seq -------
        item_rows = []
        for w in book_winners:
            if w[6] in found_items:
                continue
            parent_seq, rank, title, price, rating, url, canon = w
            # NULL propagation matches the Catalyst twins (_dedup_select):
            # a NULL input column yields a NULL value, never a coerced 0
            item_rows.append(
                (
                    self.items_count + len(item_rows), parent_seq, rank,
                    url, canon, title, price, rating,
                    None if price is None else K.price_to_double(price),
                    None if rating is None else K.rating_to_int(rating),
                    None
                    if url is None
                    else K.classify_item_type(K.url_host(url)),
                    self.round_num,
                )
            )
        new_item_count = len(item_rows)
        new_items = local_df(self.spark, item_rows, ITEMS_SCHEMA)
        self._item_parts.append(new_items)
        self.items = self.items.unionByName(new_items)
        self.items_count += new_item_count
        if self._items_mirror is not None:
            self._items_mirror.update(r[4] for r in item_rows)
        clock.mark("parse_books")

        # --- links: first-wins per canonical, drop seen, stamp seq ------
        clock.mark("extract_links")
        new_frontier_rows: list[tuple] = []
        new_seen_rows: list[tuple] = []
        taken_canon: set = set()
        for parent_seq, link_rank, path, url, canon in cand_rows:
            if canon in taken_canon or canon in found_seen:
                continue
            taken_canon.add(canon)
            s = self.next_seq + len(new_frontier_rows)
            new_frontier_rows.append(
                (s, path, url, canon, K.url_host(url), parent_seq,
                 link_rank, self.round_num + 1, 0)
            )
            new_seen_rows.append((canon, s, self.round_num + 1))
        n_new = len(new_frontier_rows)
        self.next_seq += n_new
        clock.mark("dedup_seq")

        popped_seqs = {r[0] for r in popped}
        if n_popped == self.frontier_size:
            mirror = list(new_frontier_rows)
        else:
            mirror = [
                r for r in rows if r[0] not in popped_seqs
            ] + new_frontier_rows
        self._frontier_local = mirror
        self.frontier = local_df(self.spark, mirror, FRONTIER_SCHEMA)
        self.frontier_size = len(mirror)

        new_seen = local_df(self.spark, new_seen_rows, SEEN_SCHEMA)
        self._seen_parts.append(new_seen)
        self.seen = self.seen.unionByName(new_seen)
        self.seen_count += n_new
        if self._seen_mirror is not None:
            self._seen_mirror.update(c for (c, _s, _r) in new_seen_rows)
        self._cap_mirrors()
        if n_new:
            self.seen_filter.add(
                new_seen, self.seen, self.seen_count,
                keys=[c for (c, _s, _r) in new_seen_rows],
            )
        clock.mark("state_update")

        self.metrics.append(
            RoundMetrics(
                round=self.round_num,
                urls_dequeued=n_popped,
                urls_fetched=n_hits,
                fetch_misses=n_popped - n_hits,
                books_found=new_item_count,
                links_extracted=n_extracted,
                links_new=n_new,
                links_dup=n_extracted - n_ignored - n_new,
                links_ignored=n_ignored,
                wall_ms=(time.time() - t0) * 1000,
                partition_fetch_counts=part_counts,
                phase_ms=clock.ms,
                ts=time.strftime("%Y-%m-%d %H:%M:%S"),
                bloom_checked=n_bloom_checked,
                fast_path=True,
            )
        )
        self.round_num += 1
        self._write_checkpoint()
        if self.max_pages > 0 and n_popped < n_slice:
            self.stopped = True
        return True

    # ------------------------------------------------------------------ round

    def run_round(self) -> bool:
        """One crawl round. Returns False when drained or stopped."""
        if self.stopped or self.frontier is None:
            return False
        if self.max_pages > 0 and self.pages_crawled >= self.max_pages:
            self.stopped = True
            return False
        if self.frontier_size == 0:
            return False
        self._maybe_compact_parts()
        if self._fast_eligible():
            return self._run_round_fast()
        clock = _PhaseClock()
        t0 = clock.last

        # --- dequeue under per-host politeness budget (Q2/Q8) -------------
        # per-host rank via the two-phase grouped prefix-count (plans/seq.py):
        # a per-host window would put a mega-host's whole frontier in ONE
        # task — on the reference's single-host workload that is a global
        # sort in disguise, exactly on the politeness path. The
        # grouped-rank plan range-partitions on (host, seq) instead; only
        # hosts spanning a partition boundary (≤ num_partitions of them)
        # contribute driver-held offsets. Size-gated like every other
        # prefix-sum in the engine.
        # min_delay revisit spacing (Q8's rounds-between-visits half): hosts
        # dequeued in round r stay ineligible until round r+min_delay. The
        # deferral set is a tiny driver-held (host, last_round) table — the
        # eligibility filter is a broadcast anti-join of the frontier
        # against it, so the spacing costs no new shuffle.
        deferred: list[tuple] = []
        if self.min_delay > 1 and self._host_last_round:
            deferred = [
                (h,)
                for h, lr in self._host_last_round.items()
                if self.round_num - lr < self.min_delay
            ]
        base = self.frontier
        if deferred:
            base = base.join(
                F.broadcast(
                    local_df(self.spark, deferred, "host string")
                ),
                "host",
                "left_anti",
            )
        if self.host_budget is not None:
            slice_df = self._pin(
                with_grouped_rank(
                    base, "host", self._order_cols, rank_col="_hrk",
                    num_partitions=self.n_part,
                    approx_rows=self.frontier_size,
                )
                .filter(F.col("_hrk") <= self.host_budget)
                .drop("_hrk")
            )
            n_slice = slice_df.count()
        elif deferred:
            slice_df = self._pin(base)
            n_slice = slice_df.count()
        else:
            slice_df = self.frontier  # already pinned; whole frontier drains
            n_slice = self.frontier_size
        if n_slice == 0 and deferred:
            # every queued host is inside its revisit window: idle round —
            # the round clock advances with nothing dequeued (oracle parity;
            # terminates because eligibility is monotone in round_num).
            # The round's seen/items increments are EMPTY — the checkpoint
            # writes _parts[-1], and re-writing the previous round's
            # increment would double it on resume's union.
            self._seen_parts.append(
                local_df(self.spark, [], SEEN_SCHEMA)
            )
            self._item_parts.append(
                local_df(self.spark, [], ITEMS_SCHEMA)
            )
            clock.mark("dequeue_fetch")
            self.metrics.append(
                RoundMetrics(
                    round=self.round_num, urls_dequeued=0, urls_fetched=0,
                    fetch_misses=0, books_found=0, links_extracted=0,
                    links_new=0, links_dup=0, links_ignored=0,
                    wall_ms=(time.time() - t0) * 1000, phase_ms=clock.ms,
                    ts=time.strftime("%Y-%m-%d %H:%M:%S"),
                )
            )
            self.round_num += 1
            self._write_checkpoint()
            return True

        # --- "fetch": inner equi-join against the page store ---------------
        # small slices broadcast (one pass over pages, zero shuffle, but the
        # driver must collect + build the hash relation — serial); large
        # slices use a shuffle join instead, whose url-hash exchange also
        # serves as the salt-spread for parse parallelism
        broadcast_fetch = n_slice <= self.broadcast_threshold
        if broadcast_fetch:
            hits = self.pages.join(F.broadcast(slice_df), "url", "inner")
        else:
            hits = self.pages.join(slice_df, "url", "inner")

        # --- max_pages truncation (Crawler.cpp:172 semantics) --------------
        if self.max_pages > 0:
            remaining = self.max_pages - self.pages_crawled
            flags = slice_df.join(
                hits.select("seq", F.lit(1).alias("_hit")), "seq", "left"
            ).withColumn("_hit", F.coalesce(F.col("_hit"), F.lit(0)))
            # exclusive running hit-count in seq order via the two-phase
            # prefix sum (plans/seq.py) — no global single-partition window;
            # small slices take its size-gated one-shuffle fallback
            popped = (
                with_prefix_sum(
                    flags, self._order_cols, "_hit", out_col="_before",
                    num_partitions=self.n_part, approx_rows=n_slice,
                )
                .filter(F.col("_before") < remaining)
                .drop("_hit", "_before")
            )
            popped = self._pin(popped)
            n_popped = popped.count()
            hits = hits.join(popped.select("seq"), "seq", "leftsemi")
        else:
            popped = slice_df
            n_popped = n_slice

        # salt-spread the budgeted slice for parse parallelism (SURVEY §4):
        # a broadcast fetch preserves the page store's layout, so a host's
        # hub pages can land in one partition; url-hash repartitioning
        # spreads the already-budgeted slice evenly WITHOUT touching seq
        # order (ordering is logical, carried by the seq column). The
        # shuffle-join path is already url-hash partitioned — no extra pass.
        if broadcast_fetch:
            hits = hits.repartition(self.n_part, "url")
        if n_popped == 0:
            self.stopped = True
            return False
        if self.min_delay > 1:
            # stamp the hosts ACTUALLY popped this round (post-truncation,
            # fetch misses included — the oracle stamps on pop too); tiny
            # distinct over the already-pinned budgeted slice
            for r in popped.select("host").distinct().collect():
                self._host_last_round[r["host"]] = self.round_num

        # --- fetch+parse: the join feeds ONE pinned UDF pass producing both
        # the gated book records (P3: category pages only) and the sorted
        # link arrays; a single agg over the pinned result then yields the
        # per-partition lineage counts AND the link totals — the fetch pin,
        # lineage agg and link-count agg that used to be three extra jobs
        # are fused into this pin + one agg ---------------------------------
        page_url = F.concat(F.lit(self.base_url), F.col("path"))
        parsed = self._pin(
            hits.select(
                "seq",
                "path",
                F.spark_partition_id().alias("_pid"),
                F.when(
                    X.book_parse_gate_expr(F.col("path")),
                    U.parse_books_udf(F.col("html"), page_url),
                )
                .otherwise(F.lit(None).cast(ArrayType(U.BOOK_STRUCT)))
                .alias("books"),
                U.extract_links_udf(F.col("html"), page_url).alias("links"),
            )
        )
        clock.dmark("d.parse_pin")
        # one pool drives this round's concurrent driver threads: the
        # stats collect (now), the books flow and the links counts agg
        # (later) — all independent reads of the pinned parse (guide
        # 2.6 overlap); every result is joined on the main thread
        # before its consumers, so values and ordering are unchanged
        _round_pool = ThreadPoolExecutor(max_workers=3)
        stats_df = parsed.groupBy("_pid").agg(
            F.count("*").alias("cnt"),
            F.min("seq").alias("min_seq"),
            F.max("seq").alias("max_seq"),
            F.coalesce(F.sum(F.size("links")), F.lit(0)).alias("n_links"),
            F.coalesce(
                F.sum(
                    F.size(
                        F.filter(
                            F.col("links"),
                            lambda x: X.should_ignore_url_expr(x),
                        )
                    )
                ),
                F.lit(0),
            ).alias("n_ignored"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("books").isNotNull(), F.size("books")
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("n_books"),
        )
        stats_fut = _round_pool.submit(stats_df.collect)

        # --- links: scope-filter + enqueue-dedup (explode of pinned parse).
        # The in-scope filter runs INSIDE the link array (order-preserving,
        # so the (parent_seq, link_rank) first-wins order is the oracle's);
        # totals were already folded into the parse-stats agg above ---------
        kept = (
            parsed.select(
                F.col("seq").alias("parent_seq"),
                F.posexplode(
                    F.filter(
                        F.col("links"),
                        lambda x: ~X.should_ignore_url_expr(x),
                    )
                ).alias("link_rank", "link"),
            )
            .withColumn(
                "path",
                F.when(
                    F.col("link").startswith(self.base_url),
                    F.expr(f"substring(link, {len(self.base_url) + 1})"),
                ).otherwise(F.col("link")),
            )
            .withColumn("url", F.concat(F.lit(self.base_url), F.col("path")))
            .withColumn("canonical", F.expr(X.canonicalize_url_sql("link")))
        )

        # robots: per-host disallowed-prefix anti-join (broadcast rules +
        # host equi-key with a startswith residual; host from the ORIGINAL
        # link — the oracle's K.url_host(link)). Placement mirrors the
        # reference's enqueue-time filter: blocked links are never deduped,
        # never seen, never fetched. Blocked rows count as IGNORED links
        # (the oracle's accounting) — derived from the post-filter row count
        # in the pinned stats below, no extra job.
        has_robots = self.robots_rules is not None
        if has_robots and self._robots_full:
            # full RFC 9309 mode: ONE broadcast left join against the
            # one-row-per-host rules array, verdict evaluated JVM-side by
            # higher-order functions (longest match, Allow wins ties —
            # sources.robots.robots_allowed_col); hosts without rules get a
            # NULL array = allowed. No row multiplication, no extra shuffle.
            from ..sources import robots as RB

            hr = RB.host_rules_frame(self.robots_rules).withColumnRenamed(
                "host", "_rhost"
            )
            kept = (
                kept.join(
                    F.broadcast(hr),
                    X.url_host_expr(F.col("link")) == F.col("_rhost"),
                    "left",
                )
                .filter(RB.robots_allowed_col(F.col("_rules"), F.col("path")))
                .drop("_rhost", "_rules")
            )
        elif has_robots:
            rules = self.robots_rules.select(
                F.col("host").alias("_rhost"),
                F.col("prefix").alias("_rprefix"),
            )
            robots_cond = (
                X.url_host_expr(F.col("link")) == F.col("_rhost")
            ) & F.col("path").startswith(F.col("_rprefix"))
            kept = kept.join(F.broadcast(rules), robots_cond, "left_anti")

        # seen pre-filter: definitely-new rows skip the exact anti-join. The
        # filter is incremental — only each round's new canonicals are
        # inserted; full rebuilds only on capacity growth.
        self.seen_filter.ensure(self.seen, self.seen_count, self.next_seq)
        # pin once: the canonicalize expr + robots anti-join + probe run
        # exactly one pass; ONE agg then yields both the post-robots row
        # count (→ robots-blocked total) and the maybe-seen total
        kept = self._pin(self.seen_filter.flag(kept))
        # the counts agg over the pinned frame runs on a worker thread
        # — its result is only consumed after the stats join and the
        # books-flow launch below
        _ks_fut = _round_pool.submit(
            kept.agg(
                F.count("*").alias("n"),
                F.coalesce(
                    F.sum(F.col("_maybe").cast("long")), F.lit(0)
                ).alias("m"),
            ).first
        )

        stats = stats_fut.result()
        clock.dmark("d.stats_agg")
        part_counts = {r["_pid"]: r["cnt"] for r in stats}
        n_hits = sum(part_counts.values())
        # parent-seq bounds of this round's fetched pages — the bucket
        # range for the sampling-free seq shuffles below (free: same agg)
        seq_lo = min((r["min_seq"] for r in stats), default=0)
        seq_hi = max((r["max_seq"] for r in stats), default=0)
        n_extracted = sum(r["n_links"] for r in stats)
        n_ignored = sum(r["n_ignored"] for r in stats)
        # pre-dedup book total: physical-plan size hint for the seq stage
        # (a wrong hint never changes values, only which plan computes them)
        n_books_upper = sum(r["n_books"] for r in stats)
        if self.record_dequeues:
            hit_seqs = {r["seq"] for r in parsed.select("seq").collect()}
            for r in popped.select("seq", "path").orderBy("seq").collect():
                self.dequeue_log.append(
                    (self.round_num, r["seq"], r["path"], r["seq"] in hit_seqs)
                )
        clock.mark("dequeue_fetch")
        self.pages_crawled += n_hits

        # --- books: canonical-URL dedup in discovery order -----------------
        pods = (
            parsed.filter(F.col("books").isNotNull())
            .select(
                F.col("seq").alias("parent_seq"),
                F.posexplode("books").alias("book_rank", "_bk"),
            )
            .select("parent_seq", "book_rank", "_bk.*")
            .withColumn("canonical_url", F.expr(X.canonicalize_url_sql("url")))
        )
        book_seen = self.items.select("canonical_url")

        def _dedup_select(df):
            return df.select(
                "parent_seq", "book_rank", "url", "canonical_url",
                "title", "price", "rating",
                X.price_value_expr(F.col("price")).alias("price_value"),
                X.rating_value_expr(F.col("rating")).alias("rating_value"),
                X.classify_item_type_expr(X.url_host_expr(F.col("url"))).alias(
                    "item_type"
                ),
                F.lit(self.round_num).alias("round"),
            )

        item_cols = [
            "item_seq", "parent_seq", "book_rank", "url", "canonical_url",
            "title", "price", "rating", "price_value", "rating_value",
            "item_type", "round",
        ]
        # module attribute, not an import-by-value: plan gates must track
        # runtime overrides of seq.SMALL_SEQ_ROWS exactly like seq.py's own
        # gates do (tests monkeypatch it to force the scale path)
        # The books computation below runs on a WORKER THREAD,
        # concurrent with the links flow (guide 2.6 overlap: both
        # depend only on the pinned parse and read-only engine state,
        # so the scheduler back-fills one flow's task tails with the
        # other's jobs). All state mutation (items append, counters)
        # stays on the MAIN thread after .result(), so per-round
        # ordering and determinism are unchanged.
        def _books_flow():
            bclock = _PhaseClock()
            if n_books_upper == 0:
                # bookless round (every fetched page failed the parse gate —
                # the common case for detail-page rounds): the stats agg above
                # already proved the explode is empty, so skip the whole books
                # flow. Worth real time, not just jobs: every books job scans
                # the FULL pinned parse (a LogicalRDD leaf deserializes whole
                # rows — no column pruning of the links arrays), so the two
                # jobs this skips each re-read the round's entire parse output
                # to produce zero rows.
                new_items = local_df(self.spark, [], ITEMS_SCHEMA)
                new_item_count = 0
            elif n_books_upper < seq_mod.SMALL_SEQ_ROWS:
                # zero-survivor probe first (limit-1 anti-join): a relisting
                # round — every pod canonical already in items, the common
                # shape after the first listing pass — would otherwise pay the
                # full anti-join+window+seq PIN to produce zero rows
                # (~1s/round on the bench drain); when survivors exist the
                # probe re-reads only the pinned parse, so it costs one short
                # job, not a recompute
                if pods.join(book_seen, "canonical_url", "left_anti").isEmpty():
                    new_items = local_df(self.spark, [], ITEMS_SCHEMA)
                    new_item_count = 0
                else:
                    # small rounds: seen anti-join + first-wins window +
                    # one-shuffle window seq, pinned once
                    wb = Window.partitionBy("canonical_url").orderBy(
                        "parent_seq", "book_rank"
                    )
                    fresh = _dedup_select(
                        pods.join(book_seen, "canonical_url", "left_anti")
                        .withColumn("_rn", F.row_number().over(wb))
                        .filter(F.col("_rn") == 1)
                        .drop("_rn")
                    )
                    new_items = self._pin(
                        with_global_seq(
                            fresh, ["parent_seq", "book_rank"],
                            start=self.items_count,
                            seq_col="item_seq", num_partitions=self.n_part,
                            approx_rows=n_books_upper,
                        ).select(*item_cols)
                    )
                    new_item_count = new_items.count()  # reads pinned blocks
            else:
                # big rounds: ONE wide shuffle, ONE wide pin. The old plan
                # shuffled the wide pod rows twice (canonical-hash for the seen
                # anti-join + first-wins window, then bucket-hash for the seq)
                # and pinned twice (the bucketed seq's internal offsets pin plus
                # the stamped output). Instead a NARROW side-channel — a
                # 3-column projection of the same pinned parse (Catalyst prunes
                # the pod struct down to canonical_url/parent_seq/book_rank) —
                # computes in one map-side-combined aggregation: (a) per-bucket
                # SURVIVOR counts, which feed the seq stamp's offsets so the
                # wide rows shuffle once, straight into the final pin, with no
                # internal pin and no counts job; (b) the "trouble" canonicals
                # (seen before, or duplicated this round), whose loser rows are
                # anti-joined away via a broadcast kill list. The seen anti-join
                # thus probes with ~90B/row keys instead of full pod rows — at
                # steady state `seen` is the crawl's whole history, so the probe
                # side's width is the term that matters. Dedup semantics are
                # byte-identical (goldens + equivalence tests): survivor = row
                # whose canonical is unseen AND equals min(parent_seq,book_rank)
                # within its canonical group.
                bucket = range_bucket_expr(
                    "parent_seq", seq_lo, seq_hi, 8 * self.n_part
                )
                narrow = pods.select("canonical_url", "parent_seq", "book_rank")
                percanon = narrow.groupBy("canonical_url").agg(
                    F.min(F.struct("parent_seq", "book_rank")).alias("_w"),
                    F.count("*").alias("_cnt"),
                )
                pc = percanon.join(
                    book_seen.withColumn("_seen", F.lit(1)),
                    "canonical_url",
                    "left",
                )
                wbucket = range_bucket_expr(
                    "_w.parent_seq", seq_lo, seq_hi, 8 * self.n_part
                )
                bstats = (
                    pc.groupBy(wbucket.cast("int").alias("_bkt"))
                    .agg(
                        F.sum(
                            F.when(F.col("_seen").isNull(), 1).otherwise(0)
                        ).alias("surv"),
                        F.sum(
                            F.when(
                                (F.col("_cnt") > 1) | F.col("_seen").isNotNull(),
                                1,
                            ).otherwise(0)
                        ).alias("trouble"),
                        # exact kill-list cardinality: every row of a trouble
                        # canonical dies except the winner of an unseen one —
                        # the guard must bound what actually BROADCASTS (loser
                        # rows), not the canonical count, or a heavy-dup round
                        # (few canonicals, many rows each) slips past it
                        F.sum(
                            F.when(F.col("_seen").isNotNull(), F.col("_cnt"))
                            .when(F.col("_cnt") > 1, F.col("_cnt") - 1)
                            .otherwise(0)
                        ).alias("kill_rows"),
                    )
                    .collect()
                )
                bclock.dmark("b.narrow_stats")
                bucket_counts = {
                    r["_bkt"]: r["surv"] for r in bstats if r["surv"] > 0
                }
                n_trouble = sum(r["trouble"] for r in bstats)
                n_kill = sum(r["kill_rows"] for r in bstats)
                new_item_count = sum(bucket_counts.values())
                if new_item_count == 0:
                    # pure re-listing round (every pod canonical already in
                    # items — e.g. category pages re-listing books found on
                    # listing pages): zero survivors is already decided by the
                    # narrow side-channel, so the whole wide flow — kill-list
                    # join, seq stamp, final pin, or the two-shuffle fallback
                    # a huge kill list would force — produces zero rows. Skip
                    # it. This is the dominant books cost of the scale job's
                    # second round.
                    wide_kept = None
                    new_items = local_df(self.spark, [], ITEMS_SCHEMA)
                elif n_trouble == 0:
                    # common crawl round: every pod is a fresh, unique canonical
                    # — no kill join at all
                    wide_kept = pods
                elif max(n_trouble, n_kill) <= TROUBLE_BROADCAST_MAX:
                    trouble_canons = pc.filter(
                        (F.col("_cnt") > 1) | F.col("_seen").isNotNull()
                    ).select("canonical_url", "_w", "_seen")
                    kill = (
                        narrow.join(
                            F.broadcast(trouble_canons), "canonical_url", "inner"
                        )
                        .filter(
                            F.col("_seen").isNotNull()
                            | (
                                F.struct("parent_seq", "book_rank")
                                != F.col("_w")
                            )
                        )
                        .select("parent_seq", "book_rank")
                    )
                    wide_kept = pods.join(
                        F.broadcast(kill), ["parent_seq", "book_rank"],
                        "left_anti",
                    )
                else:
                    # adversarial duplication/revisit volume: the kill list
                    # would not broadcast — fall back to the two-shuffle plan
                    # (wide canonical-hash anti-join + window, bucketed seq with
                    # its internal pin); values identical either way
                    wb = Window.partitionBy("canonical_url").orderBy(
                        "parent_seq", "book_rank"
                    )
                    fresh = _dedup_select(
                        pods.join(book_seen, "canonical_url", "left_anti")
                        .withColumn("_rn", F.row_number().over(wb))
                        .filter(F.col("_rn") == 1)
                        .drop("_rn")
                    )
                    stamped, new_item_count = with_global_seq_bucketed(
                        fresh, ["parent_seq", "book_rank"],
                        bucket, n_buckets=8 * self.n_part,
                        n_partitions=self.n_part,
                        start=self.items_count, seq_col="item_seq",
                    )
                    wide_kept = None
                    new_items = self._pin(stamped.select(*item_cols))
                if wide_kept is not None:
                    stamped = with_global_seq_known_counts(
                        _dedup_select(wide_kept), ["parent_seq", "book_rank"],
                        bucket, bucket_counts, start=self.items_count,
                        seq_col="item_seq", n_partitions=self.n_part,
                    )
                    new_items = self._pin(stamped.select(*item_cols))
                bclock.dmark("b.final_pin")
            return new_items, new_item_count, bclock.ms

        books_fut = _round_pool.submit(_books_flow)

        n_kept_expected = n_extracted - n_ignored  # rows in `kept` pre-robots
        _ks = _ks_fut.result()
        n_bloom_checked = _ks["m"]
        clock.dmark("l.probe_pin_agg")
        n_robots_blocked = n_kept_expected - _ks["n"] if has_robots else 0
        sure_new = kept.filter(~F.col("_maybe")).drop("_maybe")
        maybe = kept.filter(F.col("_maybe")).drop("_maybe")
        checked = maybe.join(self.seen.select("canonical"), "canonical", "left_anti")
        cand = sure_new.unionByName(checked)
        n_ignored += n_robots_blocked
        clock.mark("extract_links")

        wl = Window.partitionBy("canonical").orderBy("parent_seq", "link_rank")
        firsts = (
            cand.withColumn("_rn", F.row_number().over(wl))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "link")
        )
        # same materialization pattern as items: small rounds pin once
        # after the window seq; big rounds go sampling-free through the
        # bucketed seq (no pre-pin) and pin the stamped frontier, which is
        # re-read every subsequent round. Size hint = the post-robots
        # candidate count already in hand — never an extra count job.
        firsts = firsts.select(
            "path", "url", "canonical",
            X.url_host_expr(F.col("url")).alias("host"),
            "parent_seq", "link_rank",
            F.lit(self.round_num + 1).alias("round_added"),
            (
                self.priority_expr.cast("int")
                if self.priority_expr is not None
                else F.lit(0)
            ).alias("priority"),
        )
        frontier_cols = [
            "seq", "path", "url", "canonical", "host",
            "parent_seq", "link_rank", "round_added", "priority",
        ]
        n_links_upper = n_kept_expected - n_robots_blocked
        if n_links_upper < seq_mod.SMALL_SEQ_ROWS:
            new_frontier = self._pin(
                with_global_seq(
                    firsts, ["parent_seq", "link_rank"], start=self.next_seq,
                    num_partitions=self.n_part, approx_rows=n_links_upper,
                ).select(*frontier_cols)
            )
            n_new = new_frontier.count()  # cheap: reads the pinned blocks
        else:
            stamped, n_new = with_global_seq_bucketed(
                firsts, ["parent_seq", "link_rank"],
                range_bucket_expr("parent_seq", seq_lo, seq_hi,
                                  8 * self.n_part),
                n_buckets=8 * self.n_part, n_partitions=self.n_part,
                start=self.next_seq,
            )
            new_frontier = self._pin(stamped.select(*frontier_cols))
        clock.dmark("s.seq_pin")
        self.next_seq += n_new
        clock.mark("dedup_seq")

        # join the concurrent books flow; mutate items state on the
        # main thread (same effect/order as the old serial code)
        new_items, new_item_count, books_ms = books_fut.result()
        _round_pool.shutdown()
        clock.ms.update(books_ms)
        self._item_parts.append(new_items)
        self.items = self.items.unionByName(new_items)  # lazy over pinned parts
        self.items_count += new_item_count
        clock.mark("parse_books")

        if n_popped == self.frontier_size:
            # whole frontier drained — no leftover to carry
            self.frontier = new_frontier
            self.frontier_size = n_new
        else:
            leftover = self.frontier.join(
                popped.select("seq"), "seq", "left_anti"
            )
            self.frontier = self._pin(leftover.unionByName(new_frontier))
            self.frontier_size = self.frontier_size - n_popped + n_new
        # frontier rebuilt distributed — the driver mirror is stale
        self._frontier_local = None

        new_seen = new_frontier.select("canonical", "seq", "round_added")
        self._seen_parts.append(new_seen)
        self.seen = self.seen.unionByName(new_seen)  # lazy over pinned parts
        self.seen_count += n_new
        new_canons = None
        if (
            self._cap_mirrors()
            and self._seen_mirror is not None
            and self._items_mirror is not None
        ):
            # ONE tagged collect over the already-pinned increments feeds
            # the exact driver mirrors AND the driver-held filter's insert
            # (no separate hashing job over the same rows)
            parts = []
            if n_new:
                parts.append(
                    new_seen.select(
                        F.col("canonical").alias("k"), F.lit("s").alias("src")
                    )
                )
            if new_item_count:
                parts.append(
                    new_items.select(
                        F.col("canonical_url").alias("k"),
                        F.lit("i").alias("src"),
                    )
                )
            new_canons = []
            if parts:
                u = parts[0]
                for p in parts[1:]:
                    u = u.unionByName(p)
                rows = u.collect()
                new_canons = [r["k"] for r in rows if r["src"] == "s"]
                self._seen_mirror.update(new_canons)
                self._items_mirror.update(
                    r["k"] for r in rows if r["src"] == "i"
                )
        if n_new:
            self.seen_filter.add(
                new_seen, self.seen, self.seen_count, keys=new_canons
            )
        clock.mark("state_update")

        self.metrics.append(
            RoundMetrics(
                round=self.round_num,
                urls_dequeued=n_popped,
                urls_fetched=n_hits,
                fetch_misses=n_popped - n_hits,
                books_found=new_item_count,
                links_extracted=n_extracted,
                links_new=n_new,
                links_dup=n_extracted - n_ignored - n_new,
                links_ignored=n_ignored,
                wall_ms=(time.time() - t0) * 1000,
                partition_fetch_counts=part_counts,
                phase_ms=clock.ms,
                # F17: the reference's "%Y-%m-%d %H:%M:%S" log stamp
                ts=time.strftime("%Y-%m-%d %H:%M:%S"),
                bloom_checked=n_bloom_checked,
            )
        )
        self.round_num += 1
        self._write_checkpoint()
        if self.max_pages > 0 and n_popped < n_slice:
            # cap bound mid-slice: remaining dequeues never happen
            self.stopped = True
        return True

    def run(self, start_paths: list[str] | str, max_rounds: int | None = None) -> "CrawlEngine":
        if isinstance(start_paths, str):
            start_paths = [start_paths]
        if self.frontier is None:
            self.seed(start_paths)
        while (max_rounds is None or self.round_num < max_rounds) and self.run_round():
            pass
        return self

    # ------------------------------------------------------------- checkpoint

    def _write_checkpoint(self) -> None:
        """Snapshot the round. The frontier is written whole (bounded by the
        live queue); seen/items are written as THIS round's increment only —
        the Iceberg-append shape — so total checkpoint I/O is O(total rows),
        not O(rounds x total rows). Resume unions the increments of the
        contiguous committed prefix."""
        if self.checkpoint_dir is None:
            return
        d = self.checkpoint_dir / f"r{self.round_num}"
        tf = self.table_format
        tf.write(self.frontier, str(d / "frontier"))
        compact_due = (
            self.compact_every > 0
            and self.round_num - self._seen_base_round >= self.compact_every
        )
        if self._seen_compacted or compact_due:
            # full-seen snapshot becomes the new base: either an add_seed
            # removed rows (older increments stale) or the periodic
            # compact_every fold is due
            tf.write(self.seen, str(d / "seen_inc"))
            self._seen_base_round = self.round_num
            self._seen_compacted = False
        else:
            tf.write(self._seen_parts[-1], str(d / "seen_inc"))
        if compact_due:
            tf.write(self.items, str(d / "items_inc"))
            self._items_base_round = self.round_num
        else:
            tf.write(self._item_parts[-1], str(d / "items_inc"))
        # the seen-filter state rides along so resume never pays the
        # O(seen) rebuild
        filter_state = self.seen_filter.save(d, tf)
        state = {
            "round": self.round_num,
            "next_seq": self.next_seq,
            "pages_crawled": self.pages_crawled,
            "items_count": self.items_count,
            "seen_count": self.seen_count,
            "seen_base_round": self._seen_base_round,
            "items_base_round": self._items_base_round,
            **filter_state,
            "host_last_round": self._host_last_round,
            "stopped": self.stopped,
            "metrics": [
                {k: v for k, v in m.__dict__.items()} for m in self.metrics
            ],
        }
        (d / "state.json").parent.mkdir(parents=True, exist_ok=True)
        (d / "state.json").write_text(json.dumps(state))
        (d / "_COMMIT").write_text("ok")

    @classmethod
    def resume(
        cls, spark: SparkSession, pages: DataFrame, checkpoint_dir: str, **kw
    ) -> "CrawlEngine":
        """Restart from the latest committed round snapshot. Rounds are
        idempotent: a crash mid-round leaves the previous snapshot intact
        (the _COMMIT marker is written last)."""
        root = Path(checkpoint_dir)
        committed = sorted(
            (int(p.name[1:]) for p in root.glob("r*") if (p / "_COMMIT").exists()),
        )
        if not committed:
            raise FileNotFoundError(f"no committed rounds under {checkpoint_dir}")
        # contiguous committed prefix from round 0 (a gap means the run that
        # wrote the later snapshot is not this lineage — never valid here,
        # but resume must not silently read across one)
        last = -1
        for r in committed:
            if r != last + 1:
                break
            last = r
        if last < 0:
            raise FileNotFoundError(f"no committed round 0 under {checkpoint_dir}")
        d = root / f"r{last}"
        eng = cls(spark, pages, checkpoint_dir=checkpoint_dir, **kw)
        tf = eng.table_format
        state = json.loads((d / "state.json").read_text())
        eng.frontier = tf.read(spark, FRONTIER_SCHEMA, [str(d / "frontier")])
        # seen/items = union of the per-round increments (Iceberg-append
        # shape); increments before seen_base_round were compacted into that
        # round's snapshot by an add_seed removal
        seen_base = state.get("seen_base_round", 0)
        eng.seen = tf.read(
            spark, SEEN_SCHEMA,
            [str(root / f"r{r}" / "seen_inc") for r in range(seen_base, last + 1)],
        )
        items_base = state.get("items_base_round", 0)
        eng.items = tf.read(
            spark, ITEMS_SCHEMA,
            [str(root / f"r{r}" / "items_inc") for r in range(items_base, last + 1)],
        )
        eng.seen_filter.load(d, tf, state)
        eng._seen_parts = [eng.seen]
        eng._item_parts = [eng.items]
        eng.frontier_size = eng.frontier.count()
        eng.round_num = state["round"]
        eng.next_seq = state["next_seq"]
        eng.pages_crawled = state["pages_crawled"]
        eng.items_count = state["items_count"]
        eng.seen_count = state.get("seen_count", -1)
        if eng.seen_count < 0:
            eng.seen_count = eng.seen.count()
        eng._seen_base_round = seen_base
        eng._items_base_round = items_base
        eng._host_last_round = {
            h: int(r) for h, r in state.get("host_last_round", {}).items()
        }
        eng.stopped = state["stopped"]
        eng.metrics = [RoundMetrics(**m) for m in state["metrics"]]
        return eng

    # ---------------------------------------------------------------- outputs

    def crawl_order(self) -> list[str]:
        """Dequeue order (requires ``record_dequeues=True`` before run)."""
        return [path for (_r, _s, path, _f) in self.dequeue_log]

    def metrics_df(self) -> DataFrame:
        rows = [
            (
                m.round, int(pid), int(cnt), m.urls_dequeued, m.urls_fetched,
                m.fetch_misses, m.books_found, m.links_extracted, m.links_new,
                m.links_dup, m.links_ignored, float(m.wall_ms), m.ts,
                m.bloom_checked,
            )
            for m in self.metrics
            for pid, cnt in (m.partition_fetch_counts or {0: 0}).items()
        ]
        return local_df(
            self.spark, rows,
            "round int, partition_id int, partition_urls_fetched long, "
            "urls_dequeued long, urls_fetched long, fetch_misses long, "
            "books_found long, links_extracted long, links_new long, "
            "links_dup long, links_ignored long, wall_ms double, ts string, "
            "bloom_checked long",
        )

    def status_df(self) -> DataFrame:
        """S6 — the reference's ``GET /api/status`` shape (server.cpp:
        1300-1313): one row of live crawl state. All values are O(1)
        driver-held counters — no job runs."""
        return local_df(
            self.spark,
            [(
                self.frontier_size, self.seen_count, self.items_count,
                self.pages_crawled, self.round_num, bool(self.stopped),
            )],
            "queue_size long, processed long, books_found long, "
            "pages_crawled long, current_round int, stopped boolean",
        )
