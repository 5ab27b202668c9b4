"""Index warmers — ES 1.x ``_warmer`` API (PUT/GET/DELETE
``/{index}/_warmer/{name}``, removed in 2.x): named search bodies stored
with the index and replayed after segment changes so the first real
query never pays cold caches. The reference's ES 1.5.1 ran registered
warmers on every refresh of the index its bulk sink fed (creation and
search both delegated at ref: ``MessageHandler.java:135-139``); the
engine analog primes what is actually cold here — parquet footers and
page cache for the postings the warmer touches, plus the driver-side
segment/stats caches the zero-job serving path reads.

Registry: the same tiny atomic-JSON control-plane file as templates
(templates.py) and aliases (snapshot.py) — driver-side dictionary work,
never a Spark job. Warming runs the registered queries through the
ordinary engine surface, so its cost is exactly k-row top-k queries —
bounded by the warmer list, independent of corpus size.
"""

from __future__ import annotations

import fnmatch
import json
import os

WARMER_FILE = "warmers.json"

#: search kwargs a warmer body may carry (ES: any search body; the
#: engine's warmable surface is the scored search family)
WARMABLE = ("k", "mode", "where", "min_should_match")


def _read(registry_path: str) -> dict:
    if not os.path.exists(registry_path):
        return {}
    with open(registry_path) as f:
        return json.load(f)


def _write(registry_path: str, reg: dict) -> None:
    os.makedirs(os.path.dirname(registry_path) or ".", exist_ok=True)
    tmp = registry_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(reg, f, indent=1, sort_keys=True)
    os.replace(tmp, registry_path)


def put_warmer(registry_path: str, name: str, query_text: str, **body) -> dict:
    """Register (or replace — ES PUT semantics) a warmer: ``query_text``
    plus optional WARMABLE search kwargs. Unknown body keys fail loudly
    rather than warming something the engine would silently ignore."""
    bad = sorted(set(body) - set(WARMABLE))
    if bad:
        raise ValueError(f"unknown warmer body keys {bad} (allowed: {WARMABLE})")
    if not query_text or not query_text.strip():
        raise ValueError("warmer query_text must be non-empty")
    reg = _read(registry_path)
    reg[name] = {"query_text": query_text, **body}
    _write(registry_path, reg)
    return reg[name]


def get_warmers(registry_path: str, pattern: str = "*") -> dict:
    """GET ``/_warmer/{pattern}`` — glob over warmer names (ES allows
    wildcards), name-sorted."""
    reg = _read(registry_path)
    return {n: reg[n] for n in sorted(reg) if fnmatch.fnmatch(n, pattern)}


def delete_warmer(registry_path: str, pattern: str) -> list[str]:
    """DELETE ``/_warmer/{pattern}`` — glob like ES; returns the removed
    names (empty list if nothing matched, matching ES's lenient 200)."""
    reg = _read(registry_path)
    gone = [n for n in sorted(reg) if fnmatch.fnmatch(n, pattern)]
    for n in gone:
        del reg[n]
    _write(registry_path, reg)
    return gone


def warm(index, registry_path: str, pattern: str = "*") -> list[tuple]:
    """Run every registered warmer matching ``pattern`` (name order)
    through the engine's scored search and, unfiltered, the zero-job
    local path too — priming both the
    distributed caches (parquet footers / page cache along the pruned
    postings read) and the driver-side segment stats the serving twins
    use. Returns one row per hit: ``(warmer, doc_id, rank, score)`` —
    the warmed top-k itself, so callers (and the oracle) can check the
    warm run against the plain query."""
    out = []
    for name, body in get_warmers(registry_path, pattern).items():
        kw = dict(body)
        qt = kw.pop("query_text")
        k = int(kw.pop("k", 10))
        rows = index.search(qt, k, **kw).collect()
        if not kw.get("where"):
            index.search_local(qt, k, mode=kw.get("mode", "bmw"))
        for rank, r in enumerate(rows, 1):
            out.append((name, int(r["doc_id"]), rank, float(r["score"])))
    return out
