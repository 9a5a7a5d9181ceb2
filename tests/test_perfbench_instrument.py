"""The benchmark's traced run (``perfbench/run.py --trace 1``) wraps the
engine's layer calls by attribute name (``perfbench/crawl.py:instrument``
uses getattr/setattr on the epoch module, the engine and the catalog).
Renaming or deleting any of those names breaks only the traced run; this
applies the same instrumentation to a real engine + catalog so such a
change fails the test suite instead."""

import os
import sys

from mediacrawler_spark.plans import epoch as epoch_mod
from mediacrawler_spark.plans.epoch import CrawlEngine
from mediacrawler_spark.sinks.snapshot import SnapshotCatalog

_PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


def test_perfbench_instrument_finds_every_patched_name(
    spark, udfs, crawl_cfg, tmp_path
):
    sys.path.insert(0, _PERFBENCH)
    try:
        from crawl import instrument
        from tracer import Tracer
    finally:
        sys.path.remove(_PERFBENCH)

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = CrawlEngine(
        spark, cat, udfs["pages"], udfs["robots"], udfs["politeness"], crawl_cfg
    )
    tracer = Tracer(spark.sparkContext, enabled=False)
    try:
        instrument(tracer, epoch_mod, eng, cat)  # AttributeError on a renamed name
        assert tracer._restore, "instrument patched nothing"
    finally:
        tracer.unpatch()
