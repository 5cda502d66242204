"""The engine's URL-seen pre-filter behind one object.

The seen-set itself is exact: an anti-join against the ``seen`` table. The
pre-filter ahead of it only lets *definitely new* candidates skip that
join; maybe-seen rows (true dups + false positives) still go through it, so
answers never depend on the filter. :class:`SeenFilter` owns every decision
about the filter — its family, its layout, when it is rebuilt and how it is
checkpointed — and the engine calls one method per operation.

A family is a :class:`Family` subclass next to its numpy kernels:
plans/bloom (OR-mergeable bitmap) and plans/cuckoo (fingerprint table that
supports deletion). It names the two xxhash64 probe bases it hashes a key
into, its state array, probe / insert / delete over that array, and its
sizing rule. Everything Spark-side below is shared by every family.

Two physical layouts, same answers:
 - below ``shard_threshold`` seen URLs, ONE driver-held numpy state,
   broadcast to a pandas-UDF probe and updated in place; driver-known keys
   are hashed with the xxh64 twin (functions/xxh64), bit-identical to the
   JVM ``xxhash64``, so fast rounds touch it without a Spark job;
 - above it, a ``(shard int, <state> binary)`` DataFrame that lives
   distributed (pinned per round, checkpointed like any state table),
   probed by a cogroup on the shard key and updated by a union + groupBy —
   nothing is broadcast and per-task memory is size/S at any filter size.
"""

from __future__ import annotations

from pathlib import Path
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from ..functions import xxh64 as XX

N_SHARDS = 64


class Family:
    """One pre-filter family: numpy kernels over a state array plus its
    sizing rule. Kernels take the state and the two probe bases of each key
    (int64 or uint64 arrays: Spark's signed ``xxhash64`` or the driver
    twin's unsigned view of the same bits). ``size`` is the family's
    capacity unit (bloom: bits, cuckoo: buckets), per shard when sharded."""

    name: str
    # xxhash64 int children of the two probe bases:
    # base_i = xxhash64(key, *seeds[i])
    seeds: tuple[tuple[int, ...], tuple[int, ...]]
    dtype: type
    # binary column of the sharded (shard, state) table
    state_col: str
    deletes = False

    def shape(self, size: int) -> tuple[int, ...]:
        raise NotImplementedError

    def probe(self, state: np.ndarray, ha, hb) -> np.ndarray:
        """True = possibly seen; False only if definitely new."""
        raise NotImplementedError

    def insert(self, state: np.ndarray, ha, hb) -> None:
        raise NotImplementedError

    def delete(self, state: np.ndarray, ha, hb) -> None:
        raise NotImplementedError

    def size_for(self, n_keys: int, n_shards: int) -> int:
        """Size of a fresh build over ``n_keys`` keys."""
        raise NotImplementedError

    def full(self, n_keys: int, size: int, n_shards: int) -> bool:
        """True when ``n_keys`` keys have outgrown a state of ``size``."""
        raise NotImplementedError

    def grow_size(self, n_keys: int, size: int, n_shards: int) -> int | None:
        """Size to rebuild at before an insert that would leave ``n_keys``
        keys in the state; None = insert in place."""
        return None

    def new(self, size: int) -> np.ndarray:
        return np.zeros(self.shape(size), dtype=self.dtype)

    def from_bytes(self, buf: bytes, size: int) -> np.ndarray:
        """Read-only view of a serialized state."""
        return np.frombuffer(buf, dtype=self.dtype).reshape(self.shape(size))

    def build_local(self, df: DataFrame, col: str, size: int) -> np.ndarray:
        """Driver-held state over ``df[col]``."""
        state = self.new(size)
        self.insert(state, *collect_hashes(self, df, col))
        return state

    @property
    def shard_schema(self) -> str:
        return f"shard int, {self.state_col} binary"


# ---------------------------------------------------------------------------
# Spark plumbing shared by every family
# ---------------------------------------------------------------------------


def hash_cols(family: Family, col: str) -> list:
    """The two JVM-side probe bases of ``col``, as ``_ha`` and ``_hb``."""
    return [
        F.xxhash64(F.col(col), *[F.lit(s) for s in seeds]).alias(alias)
        for seeds, alias in zip(family.seeds, ("_ha", "_hb"))
    ]


def hash_keys(family: Family, keys: list[str]) -> list[np.ndarray]:
    """:func:`hash_cols` for driver-held keys via the xxh64 twin."""
    return [XX.hash_str_array(keys, *seeds) for seeds in family.seeds]


def collect_hashes(family: Family, df: DataFrame, col: str) -> list[np.ndarray]:
    """Both probe bases of ``df[col]`` on the driver: one Arrow collect of
    16 bytes/row, hashing stays JVM-side."""
    pdf = df.select(*hash_cols(family, col)).toPandas()
    return [pdf["_ha"].to_numpy(), pdf["_hb"].to_numpy()]


def probe_udf(spark: SparkSession, family: Family, state: np.ndarray):
    """(ha, hb) -> boolean Column over a broadcast snapshot of a driver-held
    state: True if the key is POSSIBLY in the filter, False only if
    definitely new."""
    bc = spark.sparkContext.broadcast(state)

    @F.pandas_udf("boolean")
    def probe(ha: pd.Series, hb: pd.Series) -> pd.Series:
        if len(ha) == 0:
            return pd.Series([], dtype=bool)
        return pd.Series(family.probe(bc.value, ha.to_numpy(), hb.to_numpy()))

    return probe


def shard_col(col: str):
    """Shard key from an independent xxhash64 seed (2), so shard placement
    is uncorrelated with every family's probe bases."""
    return F.pmod(F.xxhash64(F.col(col), F.lit(2)), F.lit(N_SHARDS)).cast("int")


def _keyed(family: Family, df: DataFrame, col: str) -> DataFrame:
    return df.select(shard_col(col).alias("shard"), *hash_cols(family, col))


def build_shards(family: Family, df: DataFrame, col: str, size: int) -> DataFrame:
    """(shard, state) rows over ``df[col]``. One shuffle on the shard key;
    each group inserts with numpy. Shards with no keys emit no row (the
    probe treats a missing shard as all-definitely-new)."""

    def mk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        state = family.new(size)
        family.insert(state, pdf["_ha"].to_numpy(), pdf["_hb"].to_numpy())
        return pd.DataFrame(
            {"shard": [int(key[0])], family.state_col: [state.tobytes()]}
        )

    return _keyed(family, df, col).groupBy("shard").applyInPandas(
        mk, family.shard_schema
    )


def update_shards(
    family: Family,
    shards: DataFrame,
    df: DataFrame,
    col: str,
    size: int,
    delete: bool = False,
) -> DataFrame:
    """(shard state table) + (keys ``df[col]``) -> updated shard table, the
    keys inserted (or deleted). Shards with no keys pass through unchanged;
    shards with keys but no state yet start empty. One shuffle on the shard
    key.

    Implemented as UNION + groupBy.applyInPandas, deliberately NOT a
    cogroup: Catalyst's size-only estimate survives ``localCheckpoint``
    (the LogicalRDD leaf carries the origin plan's stats over) and a
    binary node's default estimate is the PRODUCT of its children — a
    cogroup that folds state back into itself therefore SQUARES the
    estimate every round, and after ~20 rounds the driver OOMs just
    computing the gigabit-wide BigInteger. Union children ADD instead, so
    the estimate grows linearly with rounds. State rows travel with hash
    columns of 0 (never read) rather than NULL so the hash columns stay
    exact int64 through Arrow — a nullable int64 would reach pandas as
    float64 and corrupt 63-bit hashes."""
    sc = family.state_col
    keys = _keyed(family, df, col).withColumn(sc, F.lit(None).cast("binary"))
    st = shards.select(
        "shard",
        F.lit(0).cast("long").alias("_ha"),
        F.lit(0).cast("long").alias("_hb"),
        sc,
    )
    both = st.unionByName(keys.select("shard", "_ha", "_hb", sc))

    def upd(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        has_state = pdf[sc].notna()
        krows = pdf[~has_state]
        old = pdf[has_state]
        if len(old) and len(krows) == 0:  # no keys for this shard
            return pd.DataFrame({"shard": [shard], sc: [old[sc].iloc[0]]})
        state = (
            family.from_bytes(old[sc].iloc[0], size).copy()
            if len(old)
            else family.new(size)
        )
        ha, hb = krows["_ha"].to_numpy(), krows["_hb"].to_numpy()
        if delete:
            family.delete(state, ha, hb)
        else:
            family.insert(state, ha, hb)
        return pd.DataFrame({"shard": [shard], sc: [state.tobytes()]})

    return both.groupBy("shard").applyInPandas(upd, family.shard_schema)


def probe_shards(
    family: Family,
    cand: DataFrame,
    shards: DataFrame,
    col: str,
    size: int,
    out_col: str = "_maybe",
) -> DataFrame:
    """``cand`` + boolean ``out_col`` (True = possibly seen). A cogroup on
    the shard key: each task sees one shard's candidates and that shard's
    single state row — no state is ever broadcast."""
    keyed = cand.select(
        "*", shard_col(col).alias("_shard"), *hash_cols(family, col)
    )
    out_schema = StructType(
        [*cand.schema.fields, StructField(out_col, BooleanType())]
    )
    out_cols = out_schema.fieldNames()

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(columns=out_cols)
        out = left.drop(columns=["_shard", "_ha", "_hb"])
        if len(right) == 0:
            out[out_col] = False
        else:
            state = family.from_bytes(right[family.state_col].iloc[0], size)
            out[out_col] = family.probe(
                state, left["_ha"].to_numpy(), left["_hb"].to_numpy()
            )
        return out[out_cols]

    return (
        keyed.groupBy("_shard")
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(probe, out_schema)
    )


# ---------------------------------------------------------------------------
# the engine-facing object
# ---------------------------------------------------------------------------


class SeenFilter:
    """The seen pre-filter of one crawl. Every DataFrame it takes has the
    seen-set's ``canonical`` column; ``seen`` is always the crawl's whole
    seen-set, the source of every (re)build.

    The layout switch to sharded is one-way while the seen-set grows, and
    neither layout nor family ever changes an answer."""

    def __init__(
        self,
        spark: SparkSession,
        family: str,
        shard_threshold: int,
        pin: Callable[[DataFrame], DataFrame],
    ):
        # the family modules import this module's plumbing
        from .bloom import Bloom
        from .cuckoo import Cuckoo

        families = {"bloom": Bloom, "cuckoo": Cuckoo}
        if family not in families:
            raise ValueError(f"seen_filter must be bloom|cuckoo: {family}")
        self.spark = spark
        self.family: Family = families[family]()
        self.shard_threshold = shard_threshold
        # the engine's lineage-truncating pin (honours its storage level)
        self._pin = pin
        # np.ndarray (driver-held), DataFrame (sharded) or None (unbuilt)
        self.state = None
        self.size = 0
        # full rebuilds from the whole seen-set (first use, capacity growth,
        # layout switch); resume restores persisted state so its first round
        # does NOT count one — asserted in tests
        self.rebuilds = 0

    @property
    def sharded(self) -> bool:
        return isinstance(self.state, DataFrame)

    def driver_local(self, n_seen: int) -> bool:
        """True when the state is driver-held and the next :meth:`ensure`
        keeps it so — the condition for the driver fast round."""
        return not self.sharded and n_seen < self.shard_threshold

    def ensure(self, seen: DataFrame, n_seen: int, n_keys: int) -> None:
        """Make the state ready to probe: build it from ``seen`` (``n_seen``
        rows, ``n_keys`` seqs ever issued) on first use, past capacity or
        once ``n_seen`` crosses the shard threshold; otherwise :meth:`add`
        has kept it current."""
        n = max(1, n_keys)
        n_shards = N_SHARDS if n_seen >= self.shard_threshold else 1
        if (
            self.state is None
            or self.sharded != (n_shards > 1)
            or self.family.full(n, self.size, n_shards)
        ):
            self._rebuild(seen, self.family.size_for(n, n_shards), n_shards)

    def _rebuild(self, seen: DataFrame, size: int, n_shards: int) -> None:
        self.size = size
        if n_shards > 1:
            self.state = self._pin_shards(
                build_shards(self.family, seen, "canonical", size)
            )
        else:
            self.state = self.family.build_local(seen, "canonical", size)
        self.rebuilds += 1

    def flag(self, df: DataFrame) -> DataFrame:
        """``df`` + boolean ``_maybe``: True = possibly seen (must go to the
        exact anti-join), False = definitely new."""
        if self.sharded:
            return probe_shards(
                self.family, df, self.state, "canonical", self.size
            )
        probe = probe_udf(self.spark, self.family, self.state)
        return df.withColumn(
            "_maybe", probe(*hash_cols(self.family, "canonical"))
        )

    def probe_keys(self, keys: list[str]) -> np.ndarray:
        """:meth:`flag` for driver-held keys against the driver-held state —
        the xxh64 twin, no Spark job."""
        return self.family.probe(self.state, *hash_keys(self.family, keys))

    def add(
        self,
        df: DataFrame,
        seen: DataFrame,
        n_seen: int,
        keys: list[str] | None = None,
    ) -> None:
        """Insert ``df``'s canonicals, already part of ``seen`` (``n_seen``
        rows). ``keys``, when given, are the same canonicals on the driver;
        a driver-held state then hashes them with the xxh64 twin instead of
        running a job. A family with hard capacity rebuilds from ``seen``
        instead when the insert would overfill it. No-op while unbuilt."""
        if self.state is None:
            return
        n_shards = N_SHARDS if self.sharded else 1
        grow = self.family.grow_size(n_seen, self.size, n_shards)
        if grow is not None:
            self._rebuild(seen, grow, n_shards)
        elif self.sharded:
            self.state = self._pin_shards(
                update_shards(
                    self.family, self.state, df, "canonical", self.size
                )
            )
        else:
            self.family.insert(
                self.state,
                *(
                    hash_keys(self.family, keys)
                    if keys is not None
                    else collect_hashes(self.family, df, "canonical")
                ),
            )

    def delete(self, df: DataFrame) -> None:
        """Remove ``df``'s canonicals where the family supports it (cuckoo:
        exact, one fingerprint copy per key). A bloom bitmap cannot un-set
        bits; its stale positive only costs one extra exact anti-join row,
        never an answer."""
        if not self.family.deletes or self.state is None:
            return
        if self.sharded:
            self.state = self._pin_shards(
                update_shards(
                    self.family, self.state, df, "canonical", self.size,
                    delete=True,
                )
            )
        else:
            self.family.delete(
                self.state, *collect_hashes(self.family, df, "canonical")
            )

    def save(self, d: Path, tf) -> dict:
        """Persist the state into round dir ``d`` — the sharded table through
        the table-format seam, a driver-held state as raw bytes next to
        state.json (it IS driver state) — and return the state.json entries
        :meth:`load` reads back."""
        name = self.family.name
        if self.sharded:
            tf.write(self.state, str(d / f"{name}_shards"))
        elif self.state is not None:
            d.mkdir(parents=True, exist_ok=True)
            (d / f"{name}_{self.family.state_col}.bin").write_bytes(
                self.state.tobytes()
            )
        return {"bloom_m": self.size, "seen_filter": name}

    def load(self, d: Path, tf, state: dict) -> None:
        """Restore what :meth:`save` wrote into round dir ``d`` (``state`` is
        its state.json), so the first round after a resume does not rebuild
        from the whole seen-set. State saved under another family is
        ignored: the first round rebuilds under this one."""
        size = state.get("bloom_m", 0)
        name = self.family.name
        if not size or state.get("seen_filter", "bloom") != name:
            return
        shards = d / f"{name}_shards"
        local = d / f"{name}_{self.family.state_col}.bin"
        if tf.exists(str(shards)):
            self.state = self._pin_shards(
                tf.read(self.spark, self.family.shard_schema, [str(shards)])
            )
        elif local.exists():
            self.state = self.family.from_bytes(local.read_bytes(), size).copy()
        else:
            return
        self.size = size

    def _pin_shards(self, df: DataFrame) -> DataFrame:
        """Pin the sharded state AND erase its inherited size estimate.
        ``localCheckpoint`` truncates lineage but the LogicalRDD leaf
        carries the origin plan's Catalyst size estimate over, and a binary
        node's default estimate is the PRODUCT of its children — the state
        is re-derived from itself every round (probe cogroups, insert
        merges), so the inherited estimate compounds exponentially with
        rounds until the driver OOMs in ``BigInteger.multiply`` while merely
        *analyzing* a later round's plan (observed at ~20 rounds under
        host_budget). Re-wrapping the checkpointed RDD in a fresh DataFrame
        resets the leaf to the default estimate; row-conversion cost at read
        time is negligible — the state is N_SHARDS rows."""
        jdf = self._pin(df)._jdf
        return DataFrame(
            self.spark._jsparkSession.createDataFrame(
                jdf.toJavaRDD(), jdf.schema()
            ),
            self.spark,
        )
