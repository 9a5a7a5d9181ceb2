"""``admit_burst``: one large candidate batch through admission and
selection — canonicalize → xxhash64 → ``dedup_within_batch`` → Bloom
build + ``dedup_against_seen_bloom`` → ``select_fetch_set`` — with no
snapshot and no fetch. The measured op is one batch; the same batch is
re-run (closed loop, one client) until ``--seconds`` of batches are done.

Input (numpy, from the seed) has the shape of the package's own admission
benchmark, ``mediacrawler_spark.bench_workloads.frontier_bench`` and its
``synthetic_seed_urls`` / ``synthetic_seen``: ``N_ROWS`` candidate URLs
over 80% distinct notes (20% intra-batch repeats); each note on the hot
host ``h0.example.test`` with probability 1/2, otherwise on one of
``N_WARM`` warm hosts (the FIXTURES.md skew); every URL carries the same
un-canonical query, ``?utm_source=bench&b=2&a=1``; 30% of the distinct
notes are already seen; every host has a budget of ``BUDGET`` per epoch;
the Bloom filter is sized as there. Only the note ids carry the seed.

The check is independent of the package: the generator knows which note
each URL names, so admitted and selected counts per host follow from
numpy alone.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

# sizes and shape as in bench_workloads.frontier_bench / synthetic_seed_urls
N_ROWS = 250_000
DUP_FRAC = 0.2
SEEN_FRAC = 0.3
N_WARM = 100
BUDGET = 5_000
BLOOM_SHARDS = 32
QUERY_NOISE = "?utm_source=bench&b=2&a=1"
CANONICAL_QUERY = "?a=1&b=2"  # tracking param dropped, the rest sorted
MIN_OPS = 2  # an untraced run measures at least this many batches
# Traced runs warm up one batch more, then measure untraced / traced /
# traced / untraced blocks: a drift across the block cancels in the
# traced-minus-untraced overhead, and neither side holds the first batch.
TRACED_ORDER = (False, True, True, False)


def _host(k: int) -> str:
    return f"h{k}.example.test"


def _hex12(ids: np.ndarray) -> np.ndarray:
    """Zero-padded 12-digit lower-case hex of each id, vectorized."""
    digits = (ids[:, None] >> (4 * np.arange(11, -1, -1))) & 15
    chars = np.frombuffer(b"0123456789abcdef", dtype="S1")[digits]
    return np.char.decode(chars.view("S12").ravel()).astype(object)


def generate(seed: int, n_rows: int = N_ROWS) -> dict:
    rng = np.random.default_rng(seed)
    n_ids = int(n_rows * (1 - DUP_FRAC))
    host_k = np.where(rng.random(n_ids) < 0.5, 0, rng.integers(1, N_WARM + 1, n_ids))
    names = np.array([_host(k) for k in range(N_WARM + 1)], dtype=object)
    ids = np.arange(n_ids)
    path = "https://" + names[host_k] + "/note/" + (f"{seed & 0xFFFF:04x}" + _hex12(ids))
    seen_mask = rng.random(n_ids) < SEEN_FRAC

    # rows: every note once plus repeats, shuffled
    row_id = rng.permutation(
        np.concatenate([ids, rng.integers(0, n_ids, n_rows - n_ids)])
    )
    cand = pd.DataFrame(
        {
            "url": (path[row_id] + QUERY_NOISE).astype(str),
            "priority": (row_id % 4 == 0).astype(np.int32),
            "seq": (np.arange(n_rows) % 1000).astype(np.int64),
        }
    )
    adm = np.bincount(host_k[~seen_mask], minlength=N_WARM + 1)
    admitted = {_host(k): int(c) for k, c in enumerate(adm) if c}
    want = {
        "admitted": admitted,
        "selected": {hh: min(c, BUDGET) for hh, c in admitted.items()},
    }
    return {
        "candidates": cand,
        "seen": pd.DataFrame({"url": (path[seen_mask] + CANONICAL_QUERY).astype(str)}),
        "want": want,
    }


FRONTIER_EXTRA = {  # constant frontier columns of a fresh candidate
    "platform": "'xhs'",
    "kind": "'detail'",
    "parent_id": "CAST(NULL AS STRING)",
    "cursor": "''",
    "parent_seq": "CAST(-1 AS BIGINT)",
    "empty_streak": "0",
    "attempt": "0",
    "not_before_epoch": "0",
    "epoch": "0",
}


class AdmitBurst:
    """Spark side of the workload. ``batch`` is the measured op."""

    def __init__(self, spark, ws, inputs: dict):
        from pyspark.sql import functions as F

        from mediacrawler_spark.operators.dedup import BloomParams

        self.spark = spark
        self.want = inputs["want"]
        import pyarrow as pa
        import pyarrow.parquet as pq

        paths = {}
        for name in ("candidates", "seen"):  # input files, as a crawler reads them
            paths[name] = ws.path(f"{name}.parquet")
            pq.write_table(pa.Table.from_pandas(inputs[name], preserve_index=False),
                           paths[name])
        self.raw = spark.read.parquet(paths["candidates"])
        self.seen = (
            spark.read.parquet(paths["seen"])
            .select(F.xxhash64("url").alias("url_hash"), "url")
            .persist()
        )
        self.seen.count()
        self.politeness = spark.createDataFrame(
            [(_host(k), BUDGET, 0) for k in range(N_WARM + 1)],
            "host string, budget_per_epoch int, quarantined_until int",
        ).persist()
        self.politeness.count()
        self.params = BloomParams.size(len(inputs["candidates"]), fpp=0.01,
                                       n_shards=BLOOM_SHARDS)
        self.winner_cache: dict = {}
        self.n_rows = len(inputs["candidates"])

    def _candidates(self):
        from pyspark.sql import functions as F

        from mediacrawler_spark.functions.urls import host_of, with_canonical_url

        cand = (
            with_canonical_url(self.raw)
            .withColumn("url_hash", F.xxhash64("url"))
            .withColumn("host", host_of(F.col("url")))
        )
        return cand.withColumns({k: F.expr(v) for k, v in FRONTIER_EXTRA.items()})

    def batch(self, tracer, traced: bool) -> dict:
        """One admission + selection pass. Untraced it runs as the engine
        would (lazy stages, two persists); traced, every layer is
        materialized inside its own span so its cost is attributable."""
        from mediacrawler_spark.operators.dedup import (
            build_bloom_table,
            dedup_against_seen_bloom,
            dedup_within_batch,
        )
        from mediacrawler_spark.operators.politeness import select_fetch_set

        def stage(name, make, persist=True):
            span = tracer.begin(name)  # None unless tracing
            df = make()
            if persist:
                df = df.persist()
            if span is not None:
                span["attrs"]["rows"] = df.count()
                tracer.end(span)
            return df

        cand = stage("urls.canonicalize", self._candidates, persist=traced)
        unique = stage("dedup.within_batch", lambda: dedup_within_batch(cand))
        table = stage(
            "dedup.filter_build",
            lambda: build_bloom_table(self.seen.select("url_hash"), self.params),
            persist=traced,
        )
        admitted = stage(
            "dedup.filter_probe",
            lambda: dedup_against_seen_bloom(unique, self.seen, table, self.params),
        )
        span = tracer.begin("politeness.select")
        selected, _ = select_fetch_set(
            admitted, self.politeness, epoch=0, default_budget=BUDGET,
            cache=self.winner_cache,
        )
        n_sel = selected.count()
        if span is not None:
            span["attrs"]["rows"] = n_sel
            tracer.end(span)
        n_adm = admitted.count()
        return {
            "cand": cand, "unique": unique, "table": table,
            "admitted": admitted, "selected": selected,
            "n_selected": n_sel, "n_admitted": n_adm,
        }

    def outputs(self, out: dict) -> dict:
        """Per-host admitted and selected counts (untimed)."""
        def per_host(df):
            return {r["host"]: int(r["count"]) for r in df.groupBy("host").count().collect()}

        return {"admitted": per_host(out["admitted"]), "selected": per_host(out["selected"])}

    def filter_fp_rate(self, out: dict) -> float:
        """Share of filter positives that the exact anti-join found unseen
        (untimed: re-probes the batch's filter)."""
        from pyspark.sql import functions as F

        from mediacrawler_spark.operators.dedup import (
            bloom_maybe_seen_udf,
            broadcast_bloom,
        )

        probe = bloom_maybe_seen_udf(broadcast_bloom(out["table"], self.params))
        positive = out["unique"].filter(probe(F.col("url_hash")))
        n_pos = positive.count()
        n_seen = positive.join(self.seen.select("url_hash"), "url_hash", "left_semi").count()
        return (n_pos - n_seen) / n_pos if n_pos else 0.0

    def release(self, out: dict) -> None:
        """Drop everything the batch cached, the winner set included, so
        every batch starts from the same state."""
        for key in ("cand", "unique", "table", "admitted"):
            out[key].unpersist()
        winners = self.winner_cache.pop("winners", None)
        if winners is not None:
            winners.unpersist()


def measure(spark, ws, seed: int, seconds: float, traced: bool, clock, tracer) -> dict:
    """Set up, warm up with a full batch, then run batches (closed loop)
    until ``seconds`` of batch time and at least ``MIN_OPS`` batches are
    measured. Traced runs warm up once more and measure whole
    ``TRACED_ORDER`` blocks; the traced and untraced means of a block
    differ by the tracing overhead."""
    from checks import check_admit
    from tracer import self_seconds, span_seconds

    t = time.perf_counter()
    inputs = generate(seed)
    gen_s = time.perf_counter() - t
    t_gen = clock.now()
    wl = AdmitBurst(spark, ws, inputs)
    t_stage = clock.now()
    wl.release(wl.batch(tracer, traced=False))
    setup_s = clock.now()
    phases = {"gen_s": gen_s, "to_gen_end_s": t_gen, "stage_s": t_stage - t_gen,
              "warmup_s": setup_s - t_stage}
    if traced:
        wl.release(wl.batch(tracer, traced=False))

    walls = {True: [], False: []}
    layers: list[dict] = []
    failed = attempted = 0
    problems_seen: list[str] = []
    i = 0
    while True:
        spent = sum(walls[True]) + sum(walls[False])
        if traced:
            done = i > 0 and i % len(TRACED_ORDER) == 0 and spent >= seconds
        else:
            done = i >= MIN_OPS and spent >= seconds
        if done:
            break
        trace_this = traced and TRACED_ORDER[i % len(TRACED_ORDER)]
        tracer.op, tracer.enabled = f"batch{i}", trace_this
        op_span = tracer.begin("batch")
        t = time.perf_counter()
        out = wl.batch(tracer, trace_this)
        walls[trace_this].append(time.perf_counter() - t)
        tracer.end(op_span)
        tracer.enabled = False
        problems = check_admit(wl.outputs(out), wl.want)
        attempted += 1
        if problems:
            failed += 1
            problems_seen.extend(problems)
        if trace_this:
            spans = tracer.op_spans(tracer.op)
            dur = op_span["end"] - op_span["start"]
            layers.append({
                "op.jobs": sum(s["jobs"] for s in spans),
                "op.driver_self_s": self_seconds(spans, op_span),
                "urls.canonicalize_share": span_seconds(spans, "urls.canonicalize") / dur,
                "dedup.within_batch_share": span_seconds(spans, "dedup.within_batch") / dur,
                "dedup.filter_build_share": span_seconds(spans, "dedup.filter_build") / dur,
                "dedup.filter_probe_share": span_seconds(spans, "dedup.filter_probe") / dur,
                "dedup.filter_fp_rate": wl.filter_fp_rate(out),
                "politeness.select_share": span_seconds(spans, "politeness.select") / dur,
                "politeness.selected_rows": out["n_selected"],
            })
        wl.release(out)
        i += 1
    spark.catalog.clearCache()

    ops = walls[False] if not traced else walls[True]
    overhead = (
        statistics.mean(walls[True]) - statistics.mean(walls[False]) if traced else None
    )
    return {
        "setup_s": setup_s,
        "op_walls": ops,
        "items_per_s": wl.n_rows / statistics.median(ops),
        "item": "candidate URLs",
        "attempted": attempted,
        "failed": failed,
        "check": {"problems": problems_seen[:5], "want_admitted": sum(wl.want["admitted"].values()),
                  "want_selected": sum(wl.want["selected"].values())},
        "layers": layers,
        "overhead_s": overhead,
        "setup_phases": phases,
        "sizes": {"rows": wl.n_rows, "seen": len(inputs["seen"]), "hosts": N_WARM + 1,
                  "budget": BUDGET, "query_noise": QUERY_NOISE},
    }
