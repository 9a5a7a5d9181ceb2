#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py

Runs each workload small (a 60-note crawl for three epochs, a 20k-URL
admission batch), checks that the real outputs pass, then corrupts each
kind of output in turn and checks that its check fails. A traced
two-epoch crawl checks that every measured epoch reports what it wrote.
Exit code 0 when every clean output passes and every corruption is caught.
"""

from __future__ import annotations

import copy
import json
import sys

import harness
from checks import check_admit, check_crawl


def crawl_cases(spark, ws) -> list[tuple[str, bool]]:
    import crawl
    from mediacrawler_spark.fixtures import UniverseParams, build_universe

    u = build_universe(UniverseParams(n_notes=60, n_hosts=4, seed=5,
                                      max_comments_per_note=crawl.MAX_COMMENTS))
    wl = crawl.CrawlEpochs(spark, ws, u)

    def stop_after_two(epoch):
        if epoch >= 2:
            raise crawl.StopCrawl

    from tracer import Tracer

    wl.run(Tracer(spark.sparkContext, enabled=False), False, stop_after_two)
    epochs = [e for e, _ in wl.commits]
    got = wl.outputs(epochs)
    oracle = wl.oracle(len(epochs))

    def caught(mutate) -> bool:
        bad = copy.deepcopy(got)
        mutate(bad)
        return check_crawl(bad, oracle, epochs)["failed"] > 0

    def drop_seen(g):
        g["seen"].discard(sorted(g["seen"])[0])

    def swap_fetch(g):
        e = max(g["fetch"])
        host = max(g["fetch"][e], key=lambda h: len(g["fetch"][e][h]))
        seq = g["fetch"][e][host]
        seq[0], seq[1] = seq[1], seq[0]

    def move_fetch(g):
        e = max(g["fetch"])
        host = next(iter(g["fetch"][e]))
        g["fetch"].setdefault(e - 1, {}).setdefault(host, []).append(g["fetch"][e][host].pop())

    def edit_span(g):
        doc = sorted(g["docs"])[0]
        kind, text, ref, off = g["docs"][doc][0]
        g["docs"][doc][0] = (kind, text + " ", ref, off)

    def drop_doc(g):
        del g["docs"][sorted(g["docs"])[0]]

    return [
        ("crawl clean output passes", check_crawl(got, oracle, epochs)["failed"] == 0),
        ("crawl seen set missing a URL", caught(drop_seen)),
        ("crawl fetch order swapped", caught(swap_fetch)),
        ("crawl fetch in the wrong epoch", caught(move_fetch)),
        ("crawl span text changed", caught(edit_span)),
        ("crawl document missing", caught(drop_doc)),
    ]


def traced_crawl_cases(spark, ws) -> list[tuple[str, bool]]:
    """A traced two-epoch measurement: every measured epoch, the last one
    included, must report the catalog files it wrote."""
    import crawl
    from mediacrawler_spark.fixtures import UniverseParams, build_universe
    from tracer import Tracer

    u = build_universe(UniverseParams(n_notes=60, n_hosts=4, seed=5,
                                      max_comments_per_note=crawl.MAX_COMMENTS))
    res = crawl.measure(spark, ws, 5, 0.0, True, harness.Clock(),
                        Tracer(spark.sparkContext, enabled=False), u=u)
    layers = res["layers"]
    return [
        ("crawl traced run checks clean", res["failed"] == 0 and res["attempted"] > 0),
        ("crawl traced run measures every epoch", len(layers) == crawl.MIN_OPS),
        ("crawl every measured epoch wrote files",
         bool(layers) and all(r["snapshot.files_written"] > 0
                              and r["snapshot.bytes_written"] > 0 for r in layers)),
    ]


def admit_cases(spark, ws) -> list[tuple[str, bool]]:
    import admit
    from tracer import Tracer

    inputs = admit.generate(9, n_rows=20_000)
    wl = admit.AdmitBurst(spark, ws, inputs)
    out = wl.batch(Tracer(spark.sparkContext, enabled=False), traced=False)
    got = wl.outputs(out)
    wl.release(out)

    def caught(mutate) -> bool:
        bad = copy.deepcopy(got)
        mutate(bad)
        return bool(check_admit(bad, wl.want))

    def bump(counts, host, by):
        counts[host] = counts.get(host, 0) + by

    def last(counts):
        return sorted(counts)[-1]

    def move_selection(g):
        bump(g["selected"], admit._host(0), -1)
        bump(g["selected"], last(g["selected"]), +1)

    return [
        ("admit clean output passes", not check_admit(got, wl.want)),
        ("admit one extra admitted URL", caught(lambda g: bump(g["admitted"], last(g["admitted"]), +1))),
        ("admit one selected URL lost", caught(lambda g: bump(g["selected"], last(g["selected"]), -1))),
        ("admit selection moved between hosts", caught(move_selection)),
        ("admit host dropped", caught(lambda g: g["admitted"].pop(last(g["admitted"])))),
    ]


def main() -> int:
    ws = harness.Workspace("selftest", 0)
    ws_traced = harness.Workspace("selftest-traced", 0)  # a catalog of its own
    ws.isolate_env()
    sys.path.insert(0, harness.ROOT)
    spark = harness.start_spark(ws)
    try:
        cases = (crawl_cases(spark, ws) + traced_crawl_cases(spark, ws_traced)
                 + admit_cases(spark, ws))
    finally:
        harness.stop_spark(spark)
        ws.cleanup()
        ws_traced.cleanup()
    for name, ok in cases:
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    passed = all(ok for _, ok in cases)
    print(json.dumps({"selftest_passed": passed, "cases": len(cases)}))
    return 0 if passed else 1


if __name__ == "__main__":
    sys.exit(main())
