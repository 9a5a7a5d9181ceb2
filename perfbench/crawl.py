"""``crawl_epochs``: ``CrawlEngine.run`` from seeds on a ``build_universe``
universe, one commit per epoch. The measured op is one epoch, timed
commit to commit.

Universe (from the seed): ``N_NOTES`` notes on one hot host (~50%) and
``N_WARM`` warm hosts plus singleton hosts, with the fixture's default
politeness budgets, so every measured epoch is budget-bound and fetches
about the same number of pages. Epoch 0 (seed admission, a cold JIT) is
set-up; epochs 1.. are measured until ``--seconds`` have passed (and at
least ``MIN_OPS`` epochs), then the run stops at that epoch's commit. The
engine's output after the last epoch is compared with ``CrawlOracle`` run
for the same epochs.
"""

from __future__ import annotations

import os
import time

N_NOTES = 2_000
N_WARM = 20
MAX_COMMENTS = 25


class StopCrawl(Exception):
    """Raised from the commit hook once the measured time is used up."""


def universe(seed: int):
    from mediacrawler_spark.fixtures import UniverseParams, build_universe

    return build_universe(
        UniverseParams(n_notes=N_NOTES, n_hosts=N_WARM, seed=seed,
                       max_comments_per_note=MAX_COMMENTS)
    )


def engine_config():
    from mediacrawler_spark.plans.epoch import EngineConfig

    return EngineConfig(max_comments_per_note=MAX_COMMENTS)


def tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class CrawlEpochs:
    def __init__(self, spark, ws, u):
        from mediacrawler_spark.schemas import (
            PAGES_SCHEMA,
            POLITENESS_SCHEMA,
            ROBOTS_SCHEMA,
            SEEDS_SCHEMA,
        )
        from mediacrawler_spark.sinks.snapshot import SnapshotCatalog

        self.spark = spark
        self.u = u
        self.root = ws.path("catalog")
        self.catalog = SnapshotCatalog(spark, self.root)
        self.pages = spark.createDataFrame(u.pages, PAGES_SCHEMA)
        self.seeds = spark.createDataFrame(u.seeds, SEEDS_SCHEMA)
        self.robots = spark.createDataFrame(u.robots, ROBOTS_SCHEMA)
        self.politeness = spark.createDataFrame(u.politeness, POLITENESS_SCHEMA)
        self.commits: list[tuple[int, float]] = []  # (epoch, perf_counter at commit end)

    def run(self, tracer, traced: bool, on_commit) -> None:
        """Crawl until ``on_commit(epoch)`` raises StopCrawl. Every commit
        end is timestamped; in traced runs every call into the engine's
        layers is a span."""
        from mediacrawler_spark.plans import epoch as epoch_mod
        from mediacrawler_spark.plans.epoch import CrawlEngine

        cat = self.catalog
        eng = CrawlEngine(self.spark, cat, self.pages, self.robots, self.politeness,
                          engine_config())
        # spans wrap the layer calls; the commit hook wraps them all, so an
        # epoch ends after its commit span has closed
        if traced:
            instrument(tracer, epoch_mod, eng, cat)
        inner_commit = cat.commit

        def commit(epoch, *args, **kwargs):
            inner_commit(epoch, *args, **kwargs)
            if self.commits and self.commits[-1][0] == epoch:
                return  # maintenance re-commit of the same epoch
            self.commits.append((epoch, time.perf_counter()))
            on_commit(epoch)

        tracer.patch_attr(cat, "commit", lambda fn: commit)
        try:
            eng.run(self.seeds)
        except StopCrawl:
            pass
        finally:
            tracer.unpatch()

    def outputs(self, epochs: list[int]) -> dict:
        """Engine state for the oracle comparison (untimed)."""
        from mediacrawler_spark.plans.epoch import CrawlEngine

        eng = CrawlEngine(self.spark, self.catalog, self.pages, self.robots,
                          self.politeness, engine_config())
        fetch: dict[int, dict[str, list]] = {}
        for r in (
            eng.fetch_log().orderBy("epoch", "host", "host_rank")
            .select("epoch", "host", "url", "kind").collect()
        ):
            fetch.setdefault(r["epoch"], {}).setdefault(r["host"], []).append(
                (r["url"], r["kind"])
            )
        return {
            "fetch": fetch,
            "seen": {r["url"] for r in self.catalog.read("seen").select("url").collect()},
            "docs": {
                r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                              for s in r["spans"]]
                for r in eng.documents().collect()
            },
        }

    def oracle(self, n_epochs: int):
        from mediacrawler_spark.oracle import CrawlOracle

        cfg = engine_config()
        return CrawlOracle(
            self.u.pages, self.u.robots, self.u.politeness,
            default_budget=cfg.default_budget,
            comments_per_page=cfg.comments_per_page,
            max_comments_per_note=cfg.max_comments_per_note,
            max_pages_per_chain=cfg.max_pages_per_chain,
            epoch_ts=cfg.epoch_ts,
        ).run(self.u.seeds, max_epochs=n_epochs)

    def fetch_stats(self) -> dict[int, tuple[int, int]]:
        """epoch -> (pages fetched, pages answered 200)."""
        from pyspark.sql import functions as F

        from mediacrawler_spark.plans.epoch import CrawlEngine

        eng = CrawlEngine(self.spark, self.catalog, self.pages, self.robots,
                          self.politeness, engine_config())
        rows = eng.fetch_log().groupBy("epoch").agg(
            F.count("*").alias("n"),
            F.sum((F.col("status") == 200).cast("int")).alias("ok"),
        ).collect()
        return {int(r["epoch"]): (int(r["n"]), int(r["ok"] or 0)) for r in rows}

    def catalog_bytes(self) -> int:
        return sum(tree_files(self.root).values())


def instrument(tracer, epoch_mod, eng, cat) -> None:
    """Spans around the epoch loop's calls into its layers. Names say what
    a span covers once laziness is accounted for:

    - ``admission.batch``: the batch count after ``dedup_within_batch`` —
      canonicalize → robots → intra-batch dedup (closed when the engine
      next enters ``_ensure_bloom``);
    - ``snapshot.append.admitted``: Bloom probe + exact anti-join + write;
    - ``politeness.select``: the selection windows (winner set count);
    - ``snapshot.append.fetched``: winner rejoin + corpus fetch join + write;
    - ``snapshot.parts.frontier``: the dirty-partition frontier rewrite;
    - ``snapshot.stage.candidates``: successor emission + write;
    - ``snapshot.append.span_rows``: span extraction + write.
    """
    wrap = tracer.wrap

    def close_batch(args, kwargs):
        tracer.close_open("admission.batch")

    def batch_wrapper(fn):
        def traced(*args, **kwargs):
            result = fn(*args, **kwargs)
            tracer.begin("admission.batch")  # no-op while disabled
            return result
        return traced

    tracer.patch_attr(epoch_mod, "dedup_within_batch", batch_wrapper)
    for name, label in (
        ("dedup_against_seen_bloom", "dedup.filter_probe_plan"),
        ("dedup_against_seen_cuckoo", "dedup.filter_probe_plan"),
        ("select_fetch_set", "politeness.select"),
    ):
        tracer.patch_attr(epoch_mod, name, lambda fn, label=label: wrap(fn, label, before=close_batch))
    tracer.patch_attr(eng, "_ensure_bloom",
                      lambda fn: wrap(fn, "dedup.filter_ensure", before=close_batch))
    tracer.patch_attr(eng, "_advance_bloom", lambda fn: wrap(fn, "snapshot.filter_advance"))
    tracer.patch_attr(eng, "_maybe_grow_frontier",
                      lambda fn: wrap(fn, "snapshot.maintenance.grow_frontier"))

    def stage_name(kind):
        return lambda df, table, *a, **k: f"snapshot.{kind}.{table}"

    def dirty_attr(span, result, args, kwargs):
        dirty = args[3] if len(args) > 3 else kwargs.get("dirty", [])
        span["attrs"]["dirty"] = len(dirty)
        span["attrs"]["n_parts"] = args[2] if len(args) > 2 else kwargs.get("n_parts")

    def rows_attr(span, result, args, kwargs):
        span["attrs"]["rows"] = result

    tracer.patch_attr(cat, "stage_append", lambda fn: wrap(fn, stage_name("append"), before=close_batch))
    tracer.patch_attr(cat, "stage", lambda fn: wrap(fn, stage_name("stage")))
    tracer.patch_attr(cat, "stage_parts", lambda fn: wrap(fn, stage_name("parts"), after=dirty_attr))
    tracer.patch_attr(cat, "staged_rows",
                      lambda fn: wrap(fn, lambda t: f"snapshot.rows.{t}", after=rows_attr))
    tracer.patch_attr(cat, "staged_append_rows",
                      lambda fn: wrap(fn, lambda t, e: f"snapshot.rows.{t}", after=rows_attr))
    tracer.patch_attr(cat, "commit", lambda fn: wrap(fn, "snapshot.commit"))
    for m in ("compact_appends", "prune_appends", "expire_versions", "roll_log"):
        tracer.patch_attr(cat, m, lambda fn, m=m: wrap(fn, f"snapshot.maintenance.{m}"))


MIN_OPS = 2  # a run measures at least this many epochs, however long they take


def measure(spark, ws, seed: int, seconds: float, traced: bool, clock, tracer,
            u=None) -> dict:
    """Epoch 0 is set-up; epochs are then measured commit to commit until
    ``seconds`` have passed and at least ``MIN_OPS`` epochs are done. The
    oracle check runs after the crawl. ``u`` replaces the seed's universe
    (the self-test passes a small one)."""
    import statistics

    from checks import check_crawl
    from tracer import self_seconds, span_seconds

    from mediacrawler_spark.sinks.snapshot import parquet_rows

    t = time.perf_counter()
    if u is None:
        u = universe(seed)
    gen_s = time.perf_counter() - t
    t_gen = clock.now()
    wl = CrawlEpochs(spark, ws, u)
    t_stage = clock.now()
    state: dict = {"written": {}}

    def on_commit(epoch: int) -> None:
        now = time.perf_counter()
        if epoch == 0:
            state["t_measure"] = now
            tracer.enabled = traced
        else:
            tracer.end(state.get("span"))
        if traced:
            with tracer.bookkeeping():  # files the finished epoch wrote
                files = tree_files(wl.root)
                prev = state.get("files", {})
                new = {p: n for p, n in files.items() if prev.get(p) != n}
                state["written"][epoch] = (len(new), sum(new.values()))
                state["files"] = files
        if epoch >= MIN_OPS and now - state["t_measure"] >= seconds:
            raise StopCrawl
        tracer.op = f"epoch{epoch + 1}"
        state["span"] = tracer.begin("epoch", epoch=epoch + 1)

    wl.run(tracer, traced, on_commit)
    tracer.abandon()  # an epoch left open if the frontier drained early
    tracer.enabled = False
    setup_s = state["t_measure"] - clock.t0
    phases = {"gen_s": gen_s, "to_gen_end_s": t_gen, "stage_s": t_stage - t_gen,
              "warmup_s": state["t_measure"] - clock.t0 - t_stage}

    epochs = [e for e, _ in wl.commits]
    measured = epochs[1:]
    walls = [b - a for (_, a), (_, b) in zip(wl.commits, wl.commits[1:])]
    stats = wl.fetch_stats()
    fetched = sum(stats.get(e, (0, 0))[0] for e in measured)
    check = check_crawl(wl.outputs(epochs), wl.oracle(len(epochs)), epochs)

    layers = []
    for e in measured if traced else []:
        spans = tracer.op_spans(f"epoch{e}")
        op = next(s for s in spans if s["name"] == "epoch")
        dur = op["end"] - op["start"]

        def share(prefix, spans=spans, dur=dur):
            return span_seconds(spans, prefix) / dur

        def attr(name, key, spans=spans):
            return sum(s["attrs"].get(key, 0) for s in spans if s["name"] == name)

        n, ok = stats.get(e, (0, 0))
        files, nbytes = state["written"].get(e, (0, 0))
        span_dir = os.path.join(wl.root, "span_rows", f"e={e}")
        layers.append({
            "op.jobs": sum(s["jobs"] for s in spans),
            "op.driver_self_s": self_seconds(spans, op),
            "admission.batch_share": share("admission.batch"),
            "snapshot.admitted_write_share": share("snapshot.append.admitted"),
            "snapshot.commit_share": share("snapshot.commit"),
            "snapshot.maintenance_share": share("snapshot.maintenance"),
            "snapshot.frontier_rewrite_share": share("snapshot.parts.frontier"),
            "snapshot.filter_advance_share": share("snapshot.filter_advance"),
            "snapshot.bytes_written": nbytes,
            "snapshot.files_written": files,
            "snapshot.dirty_parts": attr("snapshot.parts.frontier", "dirty"),
            "fetch.select_fetch_share": share("politeness.select") + share("snapshot.append.fetched"),
            "fetch.rows": n,
            "fetch.ok_frac": ok / n if n else 0.0,
            "extract.span_rows_share": share("snapshot.append.span_rows"),
            "extract.span_rows": parquet_rows(span_dir) if os.path.isdir(span_dir) else 0,
            "frontier.successors_share": share("snapshot.stage.candidates"),
            "frontier.emitted_rows": attr("snapshot.rows.candidates", "rows"),
        })
    overhead = (
        statistics.median(tracer.overhead.get(f"epoch{e}", 0.0) for e in measured)
        if traced else None
    )
    return {
        "setup_s": setup_s,
        "op_walls": walls,
        "items_per_s": fetched / sum(walls),
        "item": "fetched pages",
        "attempted": check["attempted"],
        "failed": check["failed"],
        "check": check,
        "layers": layers,
        "overhead_s": overhead,
        "catalog_mb": wl.catalog_bytes() / 2**20,
        "setup_phases": phases,
        "sizes": {"notes": N_NOTES, "warm_hosts": N_WARM, "pages": len(u.pages),
                  "seeds": len(u.seeds), "epochs": len(epochs),
                  "fetched_per_epoch": [stats.get(e, (0, 0))[0] for e in epochs]},
    }
