"""Sharded cuckoo filter: the deletion-capable URL-seen prefilter.

north_rule names "bloom/cuckoo" for the seen set. The bloom layer
(operators/dedup.py) is the default — smaller and append-only. The cuckoo
filter (Fan et al., "Cuckoo Filter: Practically Better Than Bloom", 2014 —
public algorithm) supports DELETE, which a frontier needs for TTL /
eviction scenarios (re-crawl after expiry): remove the key, the URL
becomes admissible again, no rebuild.

Same sharding contract as the bloom layer so the two are drop-in
interchangeable behind ``EngineConfig.seen_filter``:

- shard = pmod(url_hash, n_shards); per-shard state built executor-side
  with ``applyInPandas`` and persisted as a (shard, state binary) table;
- probe via broadcast dict (small filters) — vectorized numpy lookups;
- exactness NEVER depends on the filter: maybe-seen rows are confirmed by
  the same exact left_anti join.

Per-shard layout: ``n_buckets × 4`` slots of 16-bit fingerprints
(0 = empty). Candidate buckets: i1 = h mod n_buckets,
i2 = i1 XOR (fp · 0x5bd1e995) mod n_buckets (the standard partial-key
cuckoo hashing, so i1 is recoverable from (i2, fp) and vice versa).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SLOTS = 4
_MAX_KICKS = 500
_FP_MUL = np.uint64(0x5BD1E995)

# Sentinel token for kick-chain overflow. The epoch loop's recovery path
# (plans/epoch.py _advance_bloom) matches on THIS token in the Py4J-wrapped
# executor exception — never on prose wording, which could drift or appear
# coincidentally in an unrelated stack (ADVICE r03 low). Both sides import
# the constant and a test pins the link (tests/test_cuckoo.py).
CUCKOO_OVER_CAPACITY = "CUCKOO_OVER_CAPACITY"


@dataclass(frozen=True)
class CuckooParams:
    n_shards: int
    n_buckets: int  # per shard; power of two

    @staticmethod
    def size(expected_keys: int, n_shards: int = 16, load: float = 0.84) -> "CuckooParams":
        per_shard = max(64, expected_keys // max(1, n_shards))
        n_buckets = 1 << max(4, math.ceil(math.log2(per_shard / (_SLOTS * load))))
        return CuckooParams(n_shards=n_shards, n_buckets=n_buckets)


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (same mixing discipline as the bloom layer)."""
    x = h.astype(np.uint64)
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _fp_and_buckets(url_hash: np.ndarray, n_buckets: int):
    u = _mix(url_hash.astype(np.int64))
    fp = ((u >> np.uint64(32)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)  # 0 is the empty-slot marker
    mask = np.uint64(n_buckets - 1)
    i1 = (u & mask).astype(np.int64)
    i2 = (i1.astype(np.uint64) ^ (fp.astype(np.uint64) * _FP_MUL)) & mask
    return fp, i1, i2.astype(np.int64)


def _alt(bucket: np.ndarray, fp: np.ndarray, n_buckets: int) -> np.ndarray:
    mask = np.uint64(n_buckets - 1)
    return ((bucket.astype(np.uint64) ^ (fp.astype(np.uint64) * _FP_MUL)) & mask).astype(
        np.int64
    )


def _insert_keys(state: np.ndarray, url_hash: np.ndarray, n_buckets: int) -> None:
    """In-place insert (eviction loop per the cuckoo algorithm). Raises if
    the table is over capacity — sizing/rebuild policy prevents that."""
    fps, i1s, i2s = _fp_and_buckets(url_hash, n_buckets)
    for fp, i1, i2 in zip(fps, i1s, i2s):
        placed = False
        for b in (i1, i2):
            row = state[b]
            free = np.flatnonzero(row == 0)
            if len(free):
                row[free[0]] = fp
                placed = True
                break
        if placed:
            continue
        b, f = int(i1), fp
        for _ in range(_MAX_KICKS):
            slot = int(np.random.RandomState(int(f) ^ b).randint(_SLOTS))
            f, state[b, slot] = state[b, slot], f
            b = int(_alt(np.array([b]), np.array([f], dtype=np.uint16), n_buckets)[0])
            row = state[b]
            free = np.flatnonzero(row == 0)
            if len(free):
                row[free[0]] = f
                break
        else:
            raise RuntimeError(
                f"{CUCKOO_OVER_CAPACITY}: cuckoo filter over capacity — resize "
                "(capacity policy should have rebuilt before this point)"
            )


def _delete_keys(state: np.ndarray, url_hash: np.ndarray, n_buckets: int) -> int:
    """Remove one matching fingerprint per key; returns #removed."""
    fps, i1s, i2s = _fp_and_buckets(url_hash, n_buckets)
    removed = 0
    for fp, i1, i2 in zip(fps, i1s, i2s):
        for b in (i1, i2):
            hit = np.flatnonzero(state[b] == fp)
            if len(hit):
                state[b, hit[0]] = 0
                removed += 1
                break
    return removed


def _lookup(state: np.ndarray, url_hash: np.ndarray, n_buckets: int) -> np.ndarray:
    fps, i1s, i2s = _fp_and_buckets(url_hash, n_buckets)
    return ((state[i1s] == fps[:, None]).any(axis=1)) | (
        (state[i2s] == fps[:, None]).any(axis=1)
    )


def _from_bytes(b: bytes, params: CuckooParams) -> np.ndarray:
    return (
        np.frombuffer(b, dtype=np.uint16).reshape(params.n_buckets, _SLOTS).copy()
    )


def build_cuckoo_table(keys: DataFrame, params: CuckooParams) -> DataFrame:
    """Distributed build → DataFrame(shard int, state binary); empty shards
    have no row (probe treats missing shard as all-absent)."""
    n_buckets, n_shards = params.n_buckets, params.n_shards

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        state = np.zeros((n_buckets, _SLOTS), dtype=np.uint16)
        if len(pdf):
            _insert_keys(state, pdf["url_hash"].to_numpy(np.int64), n_buckets)
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "state": [state.tobytes()]}
        )

    return (
        keys.select(
            F.col("url_hash"), F.pmod(F.col("url_hash"), F.lit(n_shards)).alias("shard")
        )
        .groupBy("shard")
        .applyInPandas(build, schema="shard int, state binary")
    )


def _apply_delta(
    table: DataFrame, keys: DataFrame, params: CuckooParams, op: str
) -> DataFrame:
    """Cogroup (state, keys) per shard and insert or delete — the
    incremental maintenance analog of or_merge_bloom, O(delta) work plus
    one state rewrite."""
    n_buckets, n_shards = params.n_buckets, params.n_shards

    def merge(key, st: pd.DataFrame, ks: pd.DataFrame) -> pd.DataFrame:
        state = (
            _from_bytes(st["state"].iloc[0], params)
            if len(st)
            else np.zeros((n_buckets, _SLOTS), dtype=np.uint16)
        )
        if len(ks):
            h = ks["url_hash"].to_numpy(np.int64)
            if op == "insert":
                _insert_keys(state, h, n_buckets)
            else:
                _delete_keys(state, h, n_buckets)
        return pd.DataFrame({"shard": [int(key[0])], "state": [state.tobytes()]})

    sharded = keys.select(
        F.col("url_hash"), F.pmod(F.col("url_hash"), F.lit(n_shards)).alias("shard")
    )
    return (
        table.groupBy("shard")
        .cogroup(sharded.groupBy("shard"))
        .applyInPandas(merge, schema="shard int, state binary")
    )


def insert_into_cuckoo(table: DataFrame, keys: DataFrame, params: CuckooParams) -> DataFrame:
    return _apply_delta(table, keys, params, "insert")


def delete_from_cuckoo(table: DataFrame, keys: DataFrame, params: CuckooParams) -> DataFrame:
    """THE reason cuckoo exists here: TTL/eviction removes keys so their
    URLs become admissible again — impossible with a bloom filter short of
    a full rebuild."""
    return _apply_delta(table, keys, params, "delete")


def broadcast_cuckoo(table: DataFrame, params: CuckooParams):
    shards = {
        int(r["shard"]): _from_bytes(r["state"], params) for r in table.collect()
    }
    spark = table.sparkSession
    return spark.sparkContext.broadcast(
        {"shards": shards, "n_buckets": params.n_buckets, "n_shards": params.n_shards}
    )


def cuckoo_maybe_seen_udf(shards_bc):
    """Scalar pandas UDF: url_hash → bool (possibly present)."""

    @F.pandas_udf(T.BooleanType())
    def maybe_seen(url_hash: pd.Series) -> pd.Series:
        s = shards_bc.value
        shards, n_buckets, n_shards = s["shards"], s["n_buckets"], s["n_shards"]
        h = url_hash.to_numpy(np.int64)
        out = np.zeros(len(h), dtype=bool)
        sid = np.mod(np.mod(h, n_shards) + n_shards, n_shards)
        for i in np.unique(sid):
            state = shards.get(int(i))
            if state is None:
                continue
            m = sid == i
            out[m] = _lookup(state, h[m], n_buckets)
        return pd.Series(out)

    return maybe_seen


def dedup_against_seen_cuckoo(
    candidates: DataFrame,
    seen: DataFrame,
    cuckoo_table: DataFrame,
    params: CuckooParams,
) -> DataFrame:
    """Exact anti-join dedup with a cuckoo prefilter (bloom-path analog)."""
    probe = cuckoo_maybe_seen_udf(broadcast_cuckoo(cuckoo_table, params))
    probed = candidates.withColumn("_maybe_seen", probe(F.col("url_hash")))
    definitely_new = probed.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    maybe = probed.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    confirmed_new = maybe.join(seen.select("url_hash"), on="url_hash", how="left_anti")
    return definitely_new.unionByName(confirmed_new)
