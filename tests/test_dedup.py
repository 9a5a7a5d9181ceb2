"""Bloom shards + exact anti-join dedup (J1) and intra-batch dedup."""

import numpy as np
from pyspark.sql import functions as F

from mediacrawler_spark.operators.dedup import (
    BloomParams,
    bloom_maybe_seen_udf,
    broadcast_bloom,
    build_bloom_table,
    dedup_against_seen_bloom,
    dedup_within_batch,
    or_merge_bloom,
    probe_bloom_cogroup,
)


def _seen(spark, hashes):
    return spark.createDataFrame(
        [(h, f"u{h}") for h in hashes], "url_hash long, url string"
    )


def _cands(spark, hashes):
    rows = [
        (f"https://h/{h}", h, "h", "xhs", "detail", 0, 0, None, "", -1, 0, 0, 0, 0)
        for h in hashes
    ]
    return spark.createDataFrame(
        rows,
        "url string, url_hash long, host string, platform string, kind string,"
        "priority int, seq long, parent_id string, cursor string, parent_seq long,"
        "empty_streak int, attempt int, not_before_epoch int, epoch int",
    )


def test_bloom_no_false_negatives(spark):
    hashes = [h * 2_654_435_761 - 3 for h in range(2000)]
    seen = _seen(spark, hashes)
    params = BloomParams.size(2000, fpp=0.01, n_shards=8)
    probe = bloom_maybe_seen_udf(broadcast_bloom(build_bloom_table(seen, params), params))
    got = seen.select(probe(F.col("url_hash")).alias("m")).collect()
    assert all(r["m"] for r in got), "bloom must never miss a present key"


def test_bloom_fpp_bound(spark):
    present = [h * 7_919 + 1 for h in range(5000)]
    absent = [h * 6_271 + 500_000_001 for h in range(5000)]
    absent = [a for a in absent if a not in set(present)]
    seen = _seen(spark, present)
    params = BloomParams.size(5000, fpp=0.01, n_shards=8)
    probe = bloom_maybe_seen_udf(broadcast_bloom(build_bloom_table(seen, params), params))
    df = spark.createDataFrame([(a,) for a in absent], "url_hash long")
    fp = df.select(probe(F.col("url_hash")).alias("m")).filter("m").count()
    assert fp / len(absent) < 0.05, f"fpp too high: {fp}/{len(absent)}"


def test_dedup_exactness_matches_plain_antijoin(spark):
    seen_hashes = list(range(0, 3000, 3))
    cand_hashes = list(range(0, 2000))
    seen = _seen(spark, seen_hashes)
    cands = _cands(spark, cand_hashes)
    params = BloomParams.size(max(len(seen_hashes), 1024))
    table = build_bloom_table(seen, params)
    got = sorted(
        r["url_hash"]
        for r in dedup_against_seen_bloom(cands, seen, table, params).collect()
    )
    want = sorted(set(cand_hashes) - set(seen_hashes))
    assert got == want


def _bitmaps(bloom_df):
    return {
        int(r["shard"]): np.frombuffer(r["bitmap"], dtype=np.uint8)
        for r in bloom_df.collect()
    }


def test_incremental_or_merge_equals_full_build(spark):
    """Folding per-epoch deltas through or_merge_bloom is bit-identical to
    one full build over the union — the invariant that makes the O(delta)
    per-epoch maintenance sound."""
    params = BloomParams.size(5000, fpp=0.01, n_shards=8)
    all_hashes = [h * 7_919 + 1 for h in range(5000)]
    chunks = [all_hashes[i::5] for i in range(5)]
    acc = build_bloom_table(_seen(spark, chunks[0]), params)
    for c in chunks[1:]:
        acc = or_merge_bloom(acc, build_bloom_table(_seen(spark, c), params), params.m_bits // 8)
    got = _bitmaps(acc)
    want = _bitmaps(build_bloom_table(_seen(spark, all_hashes), params))
    assert set(got) == set(want)
    for s in want:
        assert np.array_equal(got[s], want[s])


def test_cogroup_probe_matches_broadcast_probe(spark):
    """Shard-wise cogroup probe (scale path: one shard per task, no
    all-shards broadcast) returns the same _maybe_seen verdicts."""
    seen_hashes = list(range(0, 3000, 3))
    cand_hashes = list(range(0, 2000))
    seen, cands = _seen(spark, seen_hashes), _cands(spark, cand_hashes)
    params = BloomParams.size(3000, fpp=0.01, n_shards=8)
    table = build_bloom_table(seen, params)
    probe = bloom_maybe_seen_udf(broadcast_bloom(table, params))
    want = {
        r["url_hash"]: r["m"]
        for r in cands.select("url_hash", probe(F.col("url_hash")).alias("m")).collect()
    }
    got = {
        r["url_hash"]: r["_maybe_seen"]
        for r in probe_bloom_cogroup(cands, table, params).collect()
    }
    assert got == want


def test_dedup_against_seen_bloom_exact_both_paths(spark):
    """Both probe strategies produce the exact anti-join answer."""
    seen_hashes = list(range(0, 3000, 3))
    cand_hashes = list(range(0, 2000))
    seen, cands = _seen(spark, seen_hashes), _cands(spark, cand_hashes)
    params = BloomParams.size(3000, fpp=0.01, n_shards=8)
    table = build_bloom_table(seen, params)
    want = sorted(set(cand_hashes) - set(seen_hashes))
    for threshold in (1 << 30, 0):  # broadcast path, then forced cogroup path
        got = sorted(
            r["url_hash"]
            for r in dedup_against_seen_bloom(
                cands, seen, table, params, broadcast_max_bytes=threshold
            ).collect()
        )
        assert got == want, f"threshold={threshold}"


def test_dedup_within_batch_deterministic(spark):
    rows = [
        ("https://h/x", 7, "h", "xhs", "detail", 1, 5, None, "", -1, 0, 0, 0, 0),
        ("https://h/x", 7, "h", "xhs", "detail", 0, 9, None, "", -1, 0, 0, 0, 0),
        ("https://h/x", 7, "h", "xhs", "detail", 0, 2, None, "", -1, 0, 0, 0, 0),
    ]
    df = spark.createDataFrame(rows, _cands(spark, [1]).schema)
    out = dedup_within_batch(df).collect()
    assert len(out) == 1
    assert (out[0]["priority"], out[0]["seq"]) == (0, 2)
