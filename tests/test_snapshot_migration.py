"""Pre-partitioned snapshots are refused, not migrated.

An early snapshot format committed ``frontier`` and ``bloom`` as FULL
replace tables (``tables`` pins); the engine reads and rewrites them by
partition only (``ptables`` pins). Resuming such a snapshot would
silently lose state — ``read_parts('frontier', dirty)`` returns None, so
committed deferred frontier rows vanish, and ``stage_parts('bloom')``
with no base keeps only the dirty shards, re-admitting already-seen
URLs. Nothing writes that format any more, so ``CrawlEngine.run``
rejects it with ``ValueError`` before touching the catalog.
"""

import json
import os
import shutil

import pytest

from mediacrawler_spark.plans.epoch import CrawlEngine
from mediacrawler_spark.sinks.snapshot import SnapshotCatalog


def _forge_legacy(spark, root: str) -> None:
    """Rewrite a new-format snapshot into the pre-partitioned format: full
    ``v=<n>`` dirs for frontier/bloom + a commit record that pins them in
    ``tables`` and carries no ptable entries."""
    cat = SnapshotCatalog(spark, root)
    assert cat.ptable_rows("frontier") > 0, "cut point must leave deferred rows"
    assert cat.ptable_rows("bloom") > 0
    cat.read("frontier").write.parquet(os.path.join(root, "frontier", "v=900"))
    cat.read("bloom").write.parquet(os.path.join(root, "bloom", "v=900"))
    rec = cat.commit_history()[-1]
    rec["tables"]["frontier"] = 900
    rec["tables"]["bloom"] = 900
    rec["ptables"].pop("frontier")
    rec["ptables"].pop("bloom")
    with open(os.path.join(root, "_commits.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


def _tree(root: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
    }


def test_pre_partitioned_snapshot_is_refused(
    spark, udfs, crawl_cfg, partial_crawl, tmp_path
):
    root = str(tmp_path / "snap_legacy")
    shutil.copytree(partial_crawl["root"], root)
    _forge_legacy(spark, root)
    log = os.path.join(root, "_commits.jsonl")
    with open(log, "rb") as f:
        log_before = f.read()
    tree_before = _tree(root)

    cat = SnapshotCatalog(spark, root)
    epoch_before = cat.committed_epoch()
    assert cat.ptable_meta("frontier") is None  # really old-format now
    assert cat.ptable_meta("bloom") is None
    eng = CrawlEngine(
        spark, cat, udfs["pages"], udfs["robots"], udfs["politeness"], crawl_cfg
    )
    with pytest.raises(ValueError, match="pre-partitioned"):
        eng.run(None, max_epochs=2)

    with open(log, "rb") as f:
        assert f.read() == log_before
    assert cat.committed_epoch() == epoch_before
    assert SnapshotCatalog(spark, root).committed_epoch() == epoch_before
    assert _tree(root) == tree_before  # nothing staged either
