"""Output checks. Pure functions over plain Python data, so the self-test
can feed them corrupted copies of real outputs."""

from __future__ import annotations


def oracle_fetch_by_epoch(fetch_order: dict, epoch: int) -> dict:
    """CrawlOracle fetch order (host -> [(url, epoch, kind)]) restricted to
    one epoch, as host -> [(url, kind)]."""
    out = {}
    for host, seq in fetch_order.items():
        rows = [(url, kind) for url, ep, kind in seq if ep == epoch]
        if rows:
            out[host] = rows
    return out


def check_crawl(got: dict, oracle, epochs: list[int]) -> dict:
    """Compare an engine run with a CrawlOracle run of the same epochs.

    ``got`` = {"fetch": {epoch: {host: [(url, kind)]}}, "seen": set[str],
    "docs": {doc_id: [(kind, text, media_ref, offset)]}}.

    An epoch fails when its per-host fetch order differs. The seen set and
    the documents are end-of-run state that cannot be pinned to one epoch,
    so a mismatch there fails every epoch."""
    bad = [
        e for e in epochs
        if got["fetch"].get(e, {}) != oracle_fetch_by_epoch(oracle.fetch_order, e)
    ]
    seen_ok = got["seen"] == oracle.seen
    docs_ok = got["docs"] == oracle.documents
    failed = len(bad) if (seen_ok and docs_ok) else len(epochs)
    return {
        "attempted": len(epochs),
        "failed": failed,
        "fetch_order_bad_epochs": bad,
        "seen_ok": seen_ok,
        "docs_ok": docs_ok,
        "seen": len(got["seen"]),
        "docs": len(got["docs"]),
    }


def check_admit(got: dict, want: dict) -> list[str]:
    """Compare per-host admitted and selected counts (host -> count, zero
    counts omitted). Returns the mismatches; empty means correct."""
    problems = []
    for key in ("admitted", "selected"):
        g, w = got[key], want[key]
        if sum(g.values()) != sum(w.values()):
            problems.append(f"{key} total {sum(g.values())} != {sum(w.values())}")
        diff = sorted(h for h in set(g) | set(w) if g.get(h, 0) != w.get(h, 0))
        if diff:
            h = diff[0]
            problems.append(
                f"{key} differs on {len(diff)} hosts, e.g. {h}: {g.get(h, 0)} != {w.get(h, 0)}"
            )
    return problems
