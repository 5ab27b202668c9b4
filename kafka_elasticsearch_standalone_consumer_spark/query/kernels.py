"""Per-shard top-k scoring kernels over compressed posting runs.

Each shard (a contiguous doc_id range, the ES-shard analogue) is scored
independently and emits at most k candidates; the plan unions the partials
and takes the global top-k (SURVEY §3.3 "coordinator merge"). The kernels
run in both placements through one seam: :func:`term_shard` (a batch
of term plans; a single query is the batch of one), :func:`dismax_shard`
and :func:`positional_shard` turn a shard's posting rows into kernel
input through one run builder (:func:`shard_runs`), and the engine calls
them per shard either on the executors (one grouped-pandas wrapper,
``Index._shard_partials``) or on the driver over a pyarrow read.

Three modes:
  * ``exact``  — decode every posting of every query term, term-at-a-time
                 accumulation (verification path for the codec plumbing);
  * ``bmw``    — block-max pruning (Broder et al. WAND, CIKM'03; Ding &
                 Suel block-max, SIGIR'11, windowed variant): doc space is
                 cut into fixed windows, each window's score upper bound is
                 the sum over terms of the max block impact overlapping it,
                 windows are visited in descending bound order with a
                 bounded top-k candidate set, and the loop STOPS as soon as
                 the next window's bound falls below the running k-th score
                 θ — blocks in skipped windows are never decoded;
  * ``intersect`` — conjunctive (AND) semantics: only docs containing all
                 query terms, scored exactly.

All three produce identical ranks for the docs they retrieve (same float64
contributions, ties broken by ascending doc_id).
"""

from __future__ import annotations

import numpy as np

from kafka_elasticsearch_standalone_consumer_spark import B, K1
from kafka_elasticsearch_standalone_consumer_spark.index import codec

DEFAULT_WINDOW = 8192


class _Run:
    """One posting run with lazy, cached per-block decoding.

    Block-max impacts were baked with the avgdl of the run's segment at
    build time. Impact is monotone increasing in avgdl, so when the
    query-time global avgdl exceeds the baked one (docs appended since —
    see pipeline/incremental.py) the baked bound may under-estimate and
    pruning would be unsafe; substitute the dl→0 bound from block_max_tf,
    which upper-bounds the impact under ANY avgdl. Exact scoring is
    unaffected either way (tf and dl are decoded, avgdl applied at query
    time)."""

    __slots__ = ("idfw", "docs", "tfs", "dls", "offs_d", "offs_t", "offs_l",
                 "bmd", "blo", "impact", "n_docs", "_cache", "pos", "offs_p")

    def __init__(self, row, idfw: float, shard_lo: int,
                 query_avgdl: float | None = None, k1: float = K1, b: float = B):
        self.idfw = idfw
        self.docs = bytes(row.docs)
        self.tfs = bytes(row.tfs)
        self.dls = bytes(row.dls)
        pos = getattr(row, "pos", None)
        self.pos = None if pos is None else bytes(pos)
        offs_p = getattr(row, "block_offs_pos", None)
        self.offs_p = None if offs_p is None else np.asarray(offs_p, dtype=np.int64)
        self.offs_d = np.asarray(row.block_offs_docs, dtype=np.int64)
        self.offs_t = np.asarray(row.block_offs_tfs, dtype=np.int64)
        self.offs_l = np.asarray(row.block_offs_dls, dtype=np.int64)
        self.bmd = np.asarray(row.block_max_doc, dtype=np.int64)
        # stored as float32: inflate by one ulp-ish factor so the bound
        # stays an upper bound after the float64→float32 round-down
        self.impact = np.asarray(row.block_max_impact, dtype=np.float64) * (1.0 + 1e-6)
        baked = getattr(row, "baked_avgdl", None)
        if (
            query_avgdl is not None
            and baked is not None
            and float(query_avgdl) > float(baked) + 1e-12
        ):
            mt = np.asarray(row.block_max_tf, dtype=np.float64)
            self.impact = mt / (mt + k1 * (1.0 - b))
        self.n_docs = int(row.n_docs)
        # lower bound of each block's doc range: previous block's max + 1
        blo = np.empty_like(self.bmd)
        if blo.size:
            blo[0] = shard_lo
            blo[1:] = self.bmd[:-1] + 1
        self.blo = blo
        self._cache: dict[int, tuple] = {}

    def decode_block(self, i: int):
        got = self._cache.get(i)
        if got is None:
            d = codec.decode_doc_blocks(self.docs, self.offs_d, [i])[0]
            t = codec.decode_value_blocks(self.tfs, self.offs_t, [i])[0]
            l = codec.decode_value_blocks(self.dls, self.offs_l, [i])[0]
            got = (d, t, l)
            self._cache[i] = got
        return got

    def decode_all(self):
        d, t, l = codec.unpack_run(self.docs, self.tfs, self.n_docs, self.dls)
        return d, t, l

    def decode_all_with_positions(self):
        """(docs, tfs, dls, flat_positions) — requires a positions index."""
        if self.pos is None:
            raise ValueError("index was built without positions=True")
        from kafka_elasticsearch_standalone_consumer_spark import BLOCK_SIZE

        d, t, l = self.decode_all()
        n_blocks = self.offs_p.size
        tfs_blocks = [t[i * BLOCK_SIZE : (i + 1) * BLOCK_SIZE] for i in range(n_blocks)]
        flats = codec.decode_position_blocks(
            self.pos, self.offs_p, list(range(n_blocks)), tfs_blocks
        )
        p = np.concatenate(flats) if flats else np.empty(0, np.int64)
        return d, t, l, p

    def reweighted(self, idfw: float) -> "_Run":
        """A shallow copy at another query weight: it shares the buffers
        AND the per-block decode cache, so every plan of a batch that
        touches the term decodes each block once."""
        r = _Run.__new__(_Run)
        for name in _Run.__slots__:
            setattr(r, name, getattr(self, name))
        r.idfw = idfw
        return r


def _contrib(idfw, tfs, dls, avgdl, k1, b):
    tf = tfs.astype(np.float64)
    return idfw * tf / (tf + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl))


def _select_topk(docs: np.ndarray, scores: np.ndarray, k: int):
    """Exact deterministic top-k: score desc, doc_id asc (ties kept exact)."""
    n = docs.size
    if n == 0:
        return docs, scores
    if n > max(k * 4, 4096):
        thr = np.partition(scores, n - k)[n - k]
        keep = scores >= thr
        docs, scores = docs[keep], scores[keep]
    order = np.lexsort((docs, -scores))[:k]
    return docs[order], scores[order]


def _apply_doc_masks(uniq, allowed, blocked):
    """Combine the filter clause (keep ∈ allowed) and delete tombstones
    (drop ∈ blocked) into one boolean keep-mask over sorted-unique docs."""
    keep = None
    if allowed is not None:
        keep = np.isin(uniq, allowed, assume_unique=True)
    if blocked is not None:
        nb = ~np.isin(uniq, blocked, assume_unique=True)
        keep = nb if keep is None else keep & nb
    return keep


def shard_topk_exact(
    runs: list[_Run],
    k: int,
    avgdl: float,
    k1: float = K1,
    b: float = B,
    allowed: np.ndarray | None = None,
    blocked: np.ndarray | None = None,
):
    """``allowed``: optional sorted doc_id array — the ES filter clause.
    ``blocked``: delete tombstones (Lucene live-docs), dropped from results
    while corpus statistics stay frozen until the next compaction. Scores
    are unchanged for surviving docs (global idf/avgdl, like ES)."""
    all_docs, all_contrib = [], []
    for r in runs:
        d, t, l = r.decode_all()
        all_docs.append(d)
        all_contrib.append(_contrib(r.idfw, t, l, avgdl, k1, b))
    if not all_docs:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    docs = np.concatenate(all_docs)
    contrib = np.concatenate(all_contrib)
    uniq, inv = np.unique(docs, return_inverse=True)
    scores = np.bincount(inv, weights=contrib)
    keep = _apply_doc_masks(uniq, allowed, blocked)
    if keep is not None:
        uniq, scores = uniq[keep], scores[keep]
    return _select_topk(uniq, scores, k)


def shard_topk_bmw(
    runs: list[_Run],
    k: int,
    avgdl: float,
    shard_lo: int,
    shard_size: int,
    k1: float = K1,
    b: float = B,
    window: int = DEFAULT_WINDOW,
    allowed: np.ndarray | None = None,
    blocked: np.ndarray | None = None,
):
    """Windowed block-max WAND: prune windows whose bound < running θ.

    ``allowed`` (sorted doc_ids) applies the ES filter clause and
    ``blocked`` the delete tombstones to emitted candidates only — window
    upper bounds ignore both, which keeps pruning safe (bounds can only
    over-estimate); θ tightens on surviving docs."""
    if not runs:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    n_w = (shard_size + window - 1) // window
    total_ub = np.zeros(n_w, dtype=np.float64)
    run_block_windows = []
    for r in runs:
        if r.bmd.size == 0:
            run_block_windows.append((np.empty(0, np.int64), np.empty(0, np.int64)))
            continue
        w_lo = (r.blo - shard_lo) // window
        w_hi = (r.bmd - shard_lo) // window
        counts = (w_hi - w_lo + 1).astype(np.int64)
        idx = np.repeat(w_lo, counts) + (
            np.arange(int(counts.sum()), dtype=np.int64)
            - np.repeat(np.cumsum(counts) - counts, counts)
        )
        ub_t = np.zeros(n_w, dtype=np.float64)
        np.maximum.at(ub_t, idx, np.repeat(r.impact * r.idfw, counts))
        total_ub += ub_t
        run_block_windows.append((w_lo, w_hi))

    order = np.argsort(-total_ub, kind="stable")
    best_docs = np.empty(0, dtype=np.int64)
    best_scores = np.empty(0, dtype=np.float64)
    theta = -np.inf
    scores_buf = np.zeros(window, dtype=np.float64)
    for w in order:
        ub = total_ub[w]
        if ub <= 0.0:
            break
        if best_docs.size >= k and ub < theta:
            break  # no remaining window can beat the k-th candidate
        lo_doc = shard_lo + int(w) * window
        hi_doc = lo_doc + window
        scores_buf[:] = 0.0
        touched = False
        for r, (w_lo, w_hi) in zip(runs, run_block_windows):
            if w_lo.size == 0:
                continue
            bsel = np.flatnonzero((w_lo <= w) & (w_hi >= w))
            for bi in bsel:
                d, t, l = r.decode_block(int(bi))
                m = (d >= lo_doc) & (d < hi_doc)
                if not m.any():
                    continue
                scores_buf[d[m] - lo_doc] += _contrib(r.idfw, t[m], l[m], avgdl, k1, b)
                touched = True
        if not touched:
            continue
        nz = np.flatnonzero(scores_buf)
        if nz.size:
            keep = _apply_doc_masks(nz + lo_doc, allowed, blocked)
            if keep is not None:
                nz = nz[keep]
        best_docs = np.concatenate([best_docs, nz + lo_doc])
        best_scores = np.concatenate([best_scores, scores_buf[nz]])
        if best_docs.size >= k:
            # tighten θ; keep candidates ≥ θ (preserve exact ties)
            theta = np.partition(best_scores, best_docs.size - k)[best_docs.size - k]
            if best_docs.size > max(4 * k, 4096):
                keep = best_scores >= theta
                best_docs, best_scores = best_docs[keep], best_scores[keep]
    return _select_topk(best_docs, best_scores, k)


# In-doc position key width: docs up to 2^43 ids × 2^20 tokens. Positions
# ≥ 2^20 are rejected at pack time (codec.MAX_POSITION = 1 << POS_BITS),
# so the packed keys below can never overflow into the doc bits.
POS_BITS = 20


def shard_phrase_matches(
    runs_by_slot: list[list[_Run]],
    k: int,
    avgdl: float,
    k1: float = K1,
    b: float = B,
    allowed: np.ndarray | None = None,
    blocked: np.ndarray | None = None,
    slop: int = 0,
    offsets: list[int] | None = None,
):
    """Phrase matching over position streams (ES match_phrase).

    ``offsets`` gives each slot's expected position offset from the
    anchor (default ``0..n-1`` = consecutive). Non-consecutive offsets
    are how a stop analyzer's position gaps behave: "quick the fox"
    analyzed to [quick@0, fox@2] matches with offsets [0, 2], exactly
    Lucene's position-increment semantics.

    ``slop=0`` is the exact adjacent phrase. ``slop=s`` relaxes each
    non-anchor slot by ±s token positions around its expected offset: a
    start at slot-0 position p₀ matches when every slot i has an
    occurrence at some pᵢ with ``|pᵢ − p₀ − i| ≤ s`` (the windowed
    proximity semantic; tf = number of matching anchors). The membership
    test ORs 2s+1 shifted key lookups per slot — still fully vectorized.

    Encodes every (doc, position) as one int64 key ``doc<<20 | pos`` and
    chains vectorized membership tests: S holds candidate phrase-START
    keys; slot i must contain S+i. No per-document loops. Returns
    (doc_ids, tf_phrase, dl, n_matching_docs) with doc_ids limited to the
    k best by the dl-normalized tf impact (idf is a per-query constant, so
    this per-shard ranking is exact — the coordinator applies it after
    aggregating the global phrase df).

    ``n_matching_docs`` is counted BEFORE the allowed/blocked masks are
    applied: the phrase df feeds idf, and ES semantics keep corpus
    statistics global under a filter clause (and frozen under delete
    tombstones until compaction) — masks restrict only the emitted
    candidates. A shard whose matches are all masked out still reports
    its unmasked count.
    """
    keys_by_slot = []
    dl_docs, dl_vals = None, None
    for slot, runs in enumerate(runs_by_slot):
        parts = []
        for r in runs:
            d, t, l, p = r.decode_all_with_positions()
            parts.append((np.repeat(d, t) << POS_BITS) + p)
            if slot == 0:
                dd, ll = d, l
                dl_docs = dd if dl_docs is None else np.concatenate([dl_docs, dd])
                dl_vals = ll if dl_vals is None else np.concatenate([dl_vals, ll])
        if not parts:
            return (np.empty(0, np.int64), np.empty(0, np.int64),
                    np.empty(0, np.int64), 0)
        keys_by_slot.append(np.concatenate(parts))
    if offsets is None:
        offsets = list(range(len(runs_by_slot)))
    base = offsets[0]
    s = keys_by_slot[0]
    for i in range(1, len(keys_by_slot)):
        off = offsets[i] - base  # expected distance from the anchor slot
        if s.size == 0:
            break
        if slop == 0:
            s = s[np.isin(s + off, keys_by_slot[i])]
            continue
        hit = np.zeros(s.size, dtype=bool)
        pos0 = s & ((np.int64(1) << POS_BITS) - 1)
        for d in range(off - slop, off + slop + 1):
            # pos0 + d must stay a valid in-doc offset, or the int64 key
            # arithmetic would wrap into a neighbouring doc's key space
            valid = (pos0 + d >= 0) & (pos0 + d < (np.int64(1) << POS_BITS))
            if valid.any():
                hit |= valid & np.isin(s + d, keys_by_slot[i])
        s = s[hit]
    if s.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64), 0
    docs = s >> POS_BITS
    uniq, tfp = np.unique(docs, return_counts=True)
    n_matches = int(uniq.size)  # unmasked — global phrase df (see docstring)
    keep = _apply_doc_masks(uniq, allowed, blocked)
    if keep is not None:
        uniq, tfp = uniq[keep], tfp[keep]
        if uniq.size == 0:
            return (np.empty(0, np.int64), np.empty(0, np.int64),
                    np.empty(0, np.int64), n_matches)
    order = np.argsort(dl_docs, kind="stable")
    dl = dl_vals[order][np.searchsorted(dl_docs[order], uniq)]
    impact = tfp.astype(np.float64) / (
        tfp + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl)
    )
    top = np.lexsort((uniq, -impact))[:k]
    return uniq[top], tfp[top], dl[top], n_matches


def shard_topk_intersect(
    runs_by_term: dict[str, list[_Run]],
    k: int,
    avgdl: float,
    k1: float = K1,
    b: float = B,
    allowed: np.ndarray | None = None,
    blocked: np.ndarray | None = None,
):
    """AND semantics: docs containing every query term, scored exactly."""
    per_term = []
    for term, runs in runs_by_term.items():
        parts = [r.decode_all() for r in runs]
        d = np.concatenate([p[0] for p in parts]) if parts else np.empty(0, np.int64)
        c = (
            np.concatenate([_contrib(r.idfw, p[1], p[2], avgdl, k1, b) for r, p in zip(runs, parts)])
            if parts
            else np.empty(0, np.float64)
        )
        o = np.argsort(d, kind="stable")
        per_term.append((d[o], c[o]))
    if not per_term or any(d.size == 0 for d, _ in per_term):
        return np.empty(0, np.int64), np.empty(0, np.float64)
    per_term.sort(key=lambda p: p[0].size)  # start from the rarest term
    cand = per_term[0][0]
    for d, _ in per_term[1:]:
        cand = cand[np.isin(cand, d, assume_unique=True)]
        if cand.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float64)
    keep = _apply_doc_masks(cand, allowed, blocked)
    if keep is not None:
        cand = cand[keep]
        if cand.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float64)
    scores = np.zeros(cand.size, dtype=np.float64)
    for d, c in per_term:
        scores += c[np.searchsorted(d, cand)]
    return _select_topk(cand, scores, k)


def _rank_span_matches(uniq, tfp, dl_docs, dl_vals, k, avgdl, k1, b,
                       allowed, blocked):
    """Shared tail of the span kernels: count the unmasked match set
    (global df, same policy as shard_phrase_matches), apply the
    allowed/blocked masks to emitted candidates only, attach dl, and rank
    by the dl-normalized tf impact (idf is a per-query constant, so the
    per-shard ranking is exact)."""
    n_matches = int(uniq.size)
    keep = _apply_doc_masks(uniq, allowed, blocked)
    if keep is not None:
        uniq, tfp = uniq[keep], tfp[keep]
        if uniq.size == 0:
            return (np.empty(0, np.int64), np.empty(0, np.int64),
                    np.empty(0, np.int64), n_matches)
    order = np.argsort(dl_docs, kind="stable")
    dl = dl_vals[order][np.searchsorted(dl_docs[order], uniq)]
    impact = tfp.astype(np.float64) / (
        tfp + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl)
    )
    top = np.lexsort((uniq, -impact))[:k]
    return uniq[top], tfp[top], dl[top], n_matches


_SPAN_EMPTY = (np.empty(0, np.int64), np.empty(0, np.int64),
               np.empty(0, np.int64), 0)


def shard_span_first(
    runs: list[_Run],
    end: int,
    k: int,
    avgdl: float,
    k1: float = K1,
    b: float = B,
    allowed: np.ndarray | None = None,
    blocked: np.ndarray | None = None,
):
    """ES/Lucene ``span_first``: occurrences of the term at 0-based
    position < ``end``. Same synthetic-term contract as
    shard_phrase_matches: (doc_ids, tf, dl, n_matching_docs) with tf =
    qualifying occurrences per doc and the match count taken before the
    allowed/blocked masks (span df feeds a global idf)."""
    occ, dl_docs, dl_vals = [], [], []
    for r in runs:
        d, t, l, p = r.decode_all_with_positions()
        occ.append(np.repeat(d, t)[p < np.int64(end)])
        dl_docs.append(d)
        dl_vals.append(l)
    if not occ:
        return _SPAN_EMPTY
    occ = np.concatenate(occ)
    if occ.size == 0:
        return _SPAN_EMPTY
    uniq, tfp = np.unique(occ, return_counts=True)
    return _rank_span_matches(
        uniq, tfp, np.concatenate(dl_docs), np.concatenate(dl_vals),
        k, avgdl, k1, b, allowed, blocked,
    )


def shard_span_near(
    runs_by_slot: list[list[_Run]],
    k: int,
    avgdl: float,
    k1: float = K1,
    b: float = B,
    allowed: np.ndarray | None = None,
    blocked: np.ndarray | None = None,
    slop: int = 0,
    in_order: bool = False,
):
    """ES/Lucene ``span_near`` over single-term clauses: docs where every
    clause term occurs inside a window of ``len(clauses) + slop`` tokens
    (Lucene's matchLength = span width − n ≤ slop criterion).

    Match definition (deterministic, oracle-recomputable):

    * unordered — a span START is any position p holding one of the
      clause terms such that EVERY clause term occurs at some position in
      ``[p, p + n − 1 + slop]``; tf = number of distinct such starts.
    * in_order — a start is a clause-0 occurrence at p whose GREEDY chain
      (each next clause takes its first occurrence strictly after the
      previous one, same doc) completes with total width − n ≤ slop.
      Greedy-earliest minimizes the final position, so the existence test
      is exact; tf = number of matching clause-0 starts.

    Same (doc_ids, tf, dl, n_matching_docs) contract as
    shard_phrase_matches; scoring happens in the coordinator with the
    globally aggregated span df."""
    mask = (np.int64(1) << POS_BITS) - 1
    keys_by_slot = []
    dl_docs, dl_vals = None, None
    for slot, runs in enumerate(runs_by_slot):
        parts = []
        for r in runs:
            d, t, l, p = r.decode_all_with_positions()
            parts.append((np.repeat(d, t) << POS_BITS) + p)
            if slot == 0:
                # every matching doc contains clause 0, so its runs cover
                # the dl lookup for the whole match set
                dl_docs = d if dl_docs is None else np.concatenate([dl_docs, d])
                dl_vals = l if dl_vals is None else np.concatenate([dl_vals, l])
        if not parts:
            return _SPAN_EMPTY
        keys = np.concatenate(parts)
        keys.sort()
        keys_by_slot.append(keys)
    n = len(keys_by_slot)
    win = np.int64(n - 1 + slop)
    if in_order:
        cur = keys_by_slot[0]
        start = cur
        for keys in keys_by_slot[1:]:
            if cur.size == 0:
                break
            idx = np.searchsorted(keys, cur + 1)
            ok = idx < keys.size
            nxt = keys[np.minimum(idx, keys.size - 1)]
            ok &= (nxt >> POS_BITS) == (cur >> POS_BITS)
            cur, start = nxt[ok], start[ok]
        ok = (cur & mask) - (start & mask) <= win
        matched = start[ok]
    else:
        cand = np.unique(np.concatenate(keys_by_slot))
        pos0 = cand & mask
        # window top key, clamped so it cannot wrap into the next doc's
        # key space (positions are < 2^POS_BITS by the pack-time guard)
        hi = cand - pos0 + np.minimum(pos0 + win, mask)
        ok = np.ones(cand.size, dtype=bool)
        for keys in keys_by_slot:
            idx = np.searchsorted(keys, cand)
            found = idx < keys.size
            kk = keys[np.minimum(idx, keys.size - 1)]
            ok &= found & (kk <= hi)
        matched = cand[ok]
    if matched.size == 0:
        return _SPAN_EMPTY
    uniq, tfp = np.unique(matched >> POS_BITS, return_counts=True)
    return _rank_span_matches(
        uniq, tfp, dl_docs, dl_vals, k, avgdl, k1, b, allowed, blocked
    )


def shard_span_not(
    inc_runs: list[_Run],
    exc_runs: list[_Run],
    pre: int,
    post: int,
    k: int,
    avgdl: float,
    k1: float = K1,
    b: float = B,
    allowed: np.ndarray | None = None,
    blocked: np.ndarray | None = None,
):
    """ES/Lucene ``span_not``: occurrences of the include clause (a union
    of term runs — a multi-term include is a span_or) with NO exclude
    occurrence within ``pre`` tokens before through ``post`` tokens after
    (Lucene SpanNotQuery's pre/post overlap window; pre=post=0 is pure
    position overlap, vacuous for single-token spans over distinct
    terms). Empty ``exc_runs`` (exclude absent from the dictionary)
    excludes nothing. Same synthetic-term (doc_ids, tf, dl,
    n_matching_docs) contract as the other span kernels; the match count
    is taken before the allowed/blocked masks (global df policy)."""
    mask = (np.int64(1) << POS_BITS) - 1
    inc_parts, dl_docs, dl_vals = [], [], []
    for r in inc_runs:
        d, t, l, p = r.decode_all_with_positions()
        inc_parts.append((np.repeat(d, t) << POS_BITS) + p)
        dl_docs.append(d)
        dl_vals.append(l)
    if not inc_parts:
        return _SPAN_EMPTY
    keys = np.concatenate(inc_parts)
    if keys.size == 0:
        return _SPAN_EMPTY
    exc_parts = []
    for r in exc_runs:
        d, t, _l, p = r.decode_all_with_positions()
        exc_parts.append((np.repeat(d, t) << POS_BITS) + p)
    if exc_parts:
        ekeys = np.concatenate(exc_parts)
        ekeys.sort()
        pos = keys & mask
        # [p - pre, p + post] clamped to the doc's own position space so
        # the window never wraps into a neighboring doc's key range
        lo = keys - np.minimum(pos, np.int64(pre))
        hi = keys - pos + np.minimum(pos + np.int64(post), mask)
        ok = np.searchsorted(ekeys, lo) == np.searchsorted(ekeys, hi, side="right")
        keys = keys[ok]
        if keys.size == 0:
            return _SPAN_EMPTY
    uniq, tfp = np.unique(keys >> POS_BITS, return_counts=True)
    return _rank_span_matches(
        uniq, tfp, np.concatenate(dl_docs), np.concatenate(dl_vals),
        k, avgdl, k1, b, allowed, blocked,
    )


def _span_near_intervals(
    keys_by_slot: list[np.ndarray], slop: int, in_order: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Enumerate span_near match INTERVALS as (start_key, end_key) pairs,
    sorted by start. Same match criterion as :func:`shard_span_near`
    (kept separate so that kernel stays byte-identical): starts are the
    span_near anchors, and the END is the deterministic minimal cover —

    * unordered — end = max over clauses of the FIRST occurrence of that
      clause at or after the anchor (all within the ``n − 1 + slop``
      window, same doc by the window clamp);
    * in_order — end = the final position of the greedy-earliest chain
      (each clause takes its first occurrence strictly after the
      previous), the chain whose width the match criterion tests.

    Feeds span_containing / span_within, where the enclosing ("big")
    span's extent — not just its start — is what matters. Each slot's
    keys must be sorted (:func:`shard_span_contain` sorts them)."""
    mask = (np.int64(1) << POS_BITS) - 1
    n = len(keys_by_slot)
    win = np.int64(n - 1 + slop)
    if in_order:
        cur = keys_by_slot[0]
        start = cur
        for keys in keys_by_slot[1:]:
            if cur.size == 0:
                break
            idx = np.searchsorted(keys, cur + 1)
            ok = idx < keys.size
            nxt = keys[np.minimum(idx, keys.size - 1)]
            ok &= (nxt >> POS_BITS) == (cur >> POS_BITS)
            cur, start = nxt[ok], start[ok]
        ok = (cur & mask) - (start & mask) <= win
        # starts are a subsequence of the sorted clause-0 keys → sorted
        return start[ok], cur[ok]
    cand = np.unique(np.concatenate(keys_by_slot))
    pos0 = cand & mask
    hi = cand - pos0 + np.minimum(pos0 + win, mask)
    ok = np.ones(cand.size, dtype=bool)
    end = np.zeros(cand.size, dtype=np.int64)
    for keys in keys_by_slot:
        idx = np.searchsorted(keys, cand)
        found = idx < keys.size
        kk = keys[np.minimum(idx, keys.size - 1)]
        ok &= found & (kk <= hi)
        # for surviving candidates every clause's kk is in-window (≤ hi,
        # same doc), so the running max is the minimal cover's end
        end = np.maximum(end, kk)
    return cand[ok], end[ok]


def shard_span_contain(
    little_runs: list[_Run],
    big_slots: list[list[_Run]],
    slop: int,
    in_order: bool,
    mode: str,
    k: int,
    avgdl: float,
    k1: float = K1,
    b: float = B,
    allowed: np.ndarray | None = None,
    blocked: np.ndarray | None = None,
):
    """ES/Lucene ``span_containing`` / ``span_within`` over a span_near
    "big" clause and a term/span_or "little" clause (Lucene
    SpanContainingQuery / SpanWithinQuery, ES 1.x ``span_containing`` /
    ``span_within``).

    Big spans are the deterministic span_near intervals of
    :func:`_span_near_intervals`. With L = little occurrence keys and
    [s, e] ranging over big intervals:

    * ``mode='within'`` — matches are little occurrences enclosed by some
      big span (∃ [s, e]: s ≤ l ≤ e); tf = enclosed little occurrences
      per doc. Vectorized as a running max of interval ends over
      start-sorted intervals (an end key can never reach into a later
      doc's key space, so the running max respects doc boundaries).
    * ``mode='containing'`` — matches are big spans enclosing some little
      occurrence (∃ l: s ≤ l ≤ e); tf = qualifying big spans (distinct
      starts) per doc.

    Same synthetic-term (doc_ids, tf, dl, n_matching_docs) contract as
    the other span kernels; the match count is taken before the
    allowed/blocked masks (global-df policy). dl rides on the little
    runs — every matching doc contains the little clause in either mode.
    """
    lparts, dl_docs, dl_vals = [], [], []
    for r in little_runs:
        d, t, l, p = r.decode_all_with_positions()
        lparts.append((np.repeat(d, t) << POS_BITS) + p)
        dl_docs.append(d)
        dl_vals.append(l)
    if not lparts:
        return _SPAN_EMPTY
    lk = np.concatenate(lparts)
    if lk.size == 0:
        return _SPAN_EMPTY
    lk.sort()
    keys_by_slot = []
    for runs in big_slots:
        parts = []
        for r in runs:
            d, t, _l, p = r.decode_all_with_positions()
            parts.append((np.repeat(d, t) << POS_BITS) + p)
        if not parts:
            return _SPAN_EMPTY
        keys = np.concatenate(parts)
        keys.sort()
        keys_by_slot.append(keys)
    starts, ends = _span_near_intervals(keys_by_slot, slop, in_order)
    if starts.size == 0:
        return _SPAN_EMPTY
    if mode == "within":
        runmax = np.maximum.accumulate(ends)
        idx = np.searchsorted(starts, lk, side="right") - 1
        hit = (idx >= 0) & (runmax[np.maximum(idx, 0)] >= lk)
        matched = lk[hit]
    else:  # containing
        lo = np.searchsorted(lk, starts)
        hi = np.searchsorted(lk, ends, side="right")
        matched = starts[lo < hi]
    if matched.size == 0:
        return _SPAN_EMPTY
    uniq, tfp = np.unique(matched >> POS_BITS, return_counts=True)
    return _rank_span_matches(
        uniq, tfp, np.concatenate(dl_docs), np.concatenate(dl_vals),
        k, avgdl, k1, b, allowed, blocked,
    )


def shard_topk_dismax(
    runs_by_clause: list[list],
    k: int,
    avgdl: float,
    k1: float = K1,
    b: float = B,
    tie_breaker: float = 0.0,
    allowed: np.ndarray | None = None,
    blocked: np.ndarray | None = None,
):
    """ES ``dis_max`` compound: per-doc score = best clause score +
    tie_breaker × (sum of the other clauses' scores). Each clause is a
    disjunctive BM25 score set computed exactly (term-at-a-time, like
    shard_topk_exact); clauses share posting decode through
    :meth:`_Run.reweighted`, so a term used by several clauses is decoded
    once. Exact per shard — shards partition docs, so the coordinator's
    union + global top-k is the exact dis_max order."""
    all_docs, all_scores = [], []
    for runs in runs_by_clause:
        docs_c, contrib_c = [], []
        for r in runs:
            d, t, l = r.decode_all()
            docs_c.append(d)
            contrib_c.append(_contrib(r.idfw, t, l, avgdl, k1, b))
        if not docs_c:
            continue
        d = np.concatenate(docs_c)
        c = np.concatenate(contrib_c)
        uniq_c, inv = np.unique(d, return_inverse=True)
        all_docs.append(uniq_c)
        all_scores.append(np.bincount(inv, weights=c))
    if not all_docs:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    docs = np.concatenate(all_docs)
    scores = np.concatenate(all_scores)
    uniq, inv = np.unique(docs, return_inverse=True)
    sums = np.bincount(inv, weights=scores)
    maxs = np.zeros(uniq.size, dtype=np.float64)
    np.maximum.at(maxs, inv, scores)
    combined = maxs + tie_breaker * (sums - maxs)
    keep = _apply_doc_masks(uniq, allowed, blocked)
    if keep is not None:
        uniq, combined = uniq[keep], combined[keep]
    return _select_topk(uniq, combined, k)


# -- the per-shard seam (see the module docstring) -----------------------
# Plain-scalar arguments only, never the Index (it holds the SparkSession):
# executor closures then pickle these functions by reference to this module.


def shard_runs(
    pdf, docs_per_shard: int, avgdl: float, k1: float, b: float
) -> tuple[int, dict[str, list[_Run]]]:
    """(shard_lo, {term: [_Run]}) of one shard's posting rows: one run per
    row at weight 1.0, in pdf row order within each term (runs of one term
    are doc-disjoint, so that order never changes a score)."""
    shard_lo = int(pdf["shard"].iloc[0]) * docs_per_shard
    by_term: dict[str, list[_Run]] = {}
    for row in pdf.itertuples(index=False):
        by_term.setdefault(row.term, []).append(
            _Run(row, 1.0, shard_lo, query_avgdl=avgdl, k1=k1, b=b)
        )
    return shard_lo, by_term


def _plan_runs(by_term: dict[str, list[_Run]], idfw: dict) -> dict[str, list[_Run]]:
    """The runs of one term plan, re-weighted, in TERM-SORTED order: float
    accumulation across terms is not associative, so every execution path
    (both placements, every batch) must add per-term contributions in the
    same order for bit-identical scores."""
    return {
        t: [r.reweighted(idfw[t]) for r in by_term[t]]
        for t in sorted(idfw)
        if t in by_term
    }


def term_shard(
    pdf, plans: list[dict], mode: str, k: int, avgdl: float, k1: float, b: float,
    docs_per_shard: int, allowed: np.ndarray | None, blocked: np.ndarray | None,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """One shard of a batch of BM25 term queries: one (doc_ids, scores)
    top-k per term plan (an idfw dict), by mode (bmw | exact | intersect).
    A single query is the batch of one. The runs are built once per
    posting row; every plan scores re-weighted copies that share the
    buffers and the block-decode cache, so a block that several plans
    reach is decoded once. An empty ``allowed`` array returns empty
    without decoding; under intersect, a plan with a term missing from
    the shard returns empty."""
    empty = np.empty(0, np.int64), np.empty(0, np.float64)
    if allowed is not None and not len(allowed):
        return [empty for _ in plans]
    shard_lo, by_term = shard_runs(pdf, docs_per_shard, avgdl, k1, b)
    masks = {"allowed": allowed, "blocked": blocked}
    out = []
    for idfw in plans:
        runs = _plan_runs(by_term, idfw)
        if mode == "intersect":
            out.append(
                empty if len(runs) < len(idfw)
                else shard_topk_intersect(runs, k, avgdl, k1, b, **masks)
            )
            continue
        flat = [r for rs in runs.values() for r in rs]
        if mode == "exact":
            out.append(shard_topk_exact(flat, k, avgdl, k1, b, **masks))
        else:
            out.append(shard_topk_bmw(
                flat, k, avgdl, shard_lo, docs_per_shard, k1, b, **masks
            ))
    return out


def dismax_shard(
    pdf, clause_plans: list[dict], tie_breaker: float, k: int, avgdl: float,
    k1: float, b: float, docs_per_shard: int,
    allowed: np.ndarray | None, blocked: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray]:
    """One shard of an ES ``dis_max`` query: (doc_ids, scores) top-k of
    :func:`shard_topk_dismax` over one term plan (an idfw dict) per
    clause. The clauses share one set of runs, so a term used by several
    clauses is decoded once. An empty ``allowed`` array returns empty
    without decoding."""
    if allowed is not None and not len(allowed):
        return np.empty(0, np.int64), np.empty(0, np.float64)
    _lo, by_term = shard_runs(pdf, docs_per_shard, avgdl, k1, b)
    runs_by_clause = [
        [r for rs in _plan_runs(by_term, c).values() for r in rs] for c in clause_plans
    ]
    return shard_topk_dismax(
        runs_by_clause, k, avgdl, k1, b,
        tie_breaker=tie_breaker, allowed=allowed, blocked=blocked,
    )


def positional_shard(
    pdf, slot_terms: list[list[str]], span: tuple | None, slop: int,
    offsets: list[int] | None, k: int, avgdl: float, k1: float, b: float,
    docs_per_shard: int, allowed: np.ndarray | None, blocked: np.ndarray | None,
):
    """One shard of a positional query: (doc_ids, tf, dl, n_matching_docs).
    Slot i takes the runs of every term in ``slot_terms[i]`` (a span_or).
    ``span=None`` is match_phrase (``slop``/``offsets`` apply); otherwise
    ``('first', end)``, ``('near', slop, in_order)``, ``('not', pre,
    post)`` or ``('containing' | 'within', slop, in_order)`` with the
    little clause in slot 0."""
    _lo, by_term = shard_runs(pdf, docs_per_shard, avgdl, k1, b)
    slots = [[r for t in slot for r in by_term.get(t, [])] for slot in slot_terms]
    masks = {"allowed": allowed, "blocked": blocked}
    if span is None:
        return shard_phrase_matches(
            slots, k, avgdl, k1, b, slop=slop, offsets=offsets, **masks
        )
    if span[0] == "first":
        return shard_span_first(slots[0], span[1], k, avgdl, k1, b, **masks)
    if span[0] == "not":
        return shard_span_not(
            slots[0], slots[1] if len(slots) > 1 else [], span[1], span[2],
            k, avgdl, k1, b, **masks,
        )
    if span[0] in ("containing", "within"):
        return shard_span_contain(
            slots[0], slots[1:], span[1], span[2], span[0], k, avgdl, k1, b, **masks
        )
    return shard_span_near(
        slots, k, avgdl, k1, b, slop=span[1], in_order=span[2], **masks
    )
