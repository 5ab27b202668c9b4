"""Phrase queries (positions index): the WAND-side position kernel must be
rank-identical to the declarative m-way join oracle AND to a brute-force
pure-Python scan of the corpus."""

from __future__ import annotations

import math

import pytest

from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text
from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index
from kafka_elasticsearch_standalone_consumer_spark.query.engine import Index

K = 10


@pytest.fixture(scope="module")
def pos_index(spark, transcripts, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("poswh") / "idx")
    build_index(spark, transcripts, path, docs_per_shard=256, n_buckets=8, positions=True)
    return Index(spark, path)


@pytest.fixture(scope="module")
def corpus_texts(spark, pos_index):
    rows = pos_index._docs_df().select("doc_id", "text", "role").collect()
    return {r["doc_id"]: (tokenize_text(r["text"]), r["role"]) for r in rows}


def _pick_phrases(corpus_texts, n=4, length=2):
    """Real adjacent token sequences from the corpus (so matches exist)."""
    out = []
    for _doc_id, (toks, _r) in sorted(corpus_texts.items()):
        if len(toks) >= length + 3:
            out.append(" ".join(toks[2 : 2 + length]))
        if len(out) == n:
            break
    return out


def _brute(corpus_texts, phrase, k1=1.2, b=0.75, role=None):
    slots = tokenize_text(phrase)
    dls = {d: len(t) for d, (t, _r) in corpus_texts.items()}
    avgdl = sum(dls.values()) / len(dls)
    tfp = {}
    for d, (toks, r) in corpus_texts.items():
        if role is not None and r != role:
            continue
        c = sum(
            1
            for i in range(len(toks) - len(slots) + 1)
            if toks[i : i + len(slots)] == slots
        )
        if c:
            tfp[d] = c
    if not tfp:
        return []
    n = len(corpus_texts)
    idf = math.log(1.0 + (n - len(tfp) + 0.5) / (len(tfp) + 0.5))
    scored = [
        (d, idf * c / (c + k1 * (1 - b + b * dls[d] / avgdl))) for d, c in tfp.items()
    ]
    scored.sort(key=lambda x: (-x[1], x[0]))
    return [(d, round(s, 9)) for d, s in scored[:K]]


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def test_phrase_fast_equals_oracle_and_brute(spark, pos_index, corpus_texts):
    for phrase in _pick_phrases(corpus_texts):
        fast = _rows(pos_index.search_phrase(phrase, K))
        oracle = _rows(pos_index.search_phrase_oracle(phrase, K))
        brute = _brute(corpus_texts, phrase)
        assert fast == oracle, phrase
        assert fast == brute, phrase
        assert fast, phrase  # phrases were picked from real docs


def test_phrase_three_terms(spark, pos_index, corpus_texts):
    phrase = _pick_phrases(corpus_texts, n=1, length=3)[0]
    fast = _rows(pos_index.search_phrase(phrase, K))
    assert fast == _brute(corpus_texts, phrase)


def test_phrase_absent_and_nonadjacent(spark, pos_index, corpus_texts):
    assert pos_index.search_phrase("zzabsent w00000", K).count() == 0
    assert pos_index.search_phrase("", K).count() == 0


def test_phrase_filtered(spark, pos_index, corpus_texts):
    phrase = _pick_phrases(corpus_texts, n=1)[0]
    fast = _rows(pos_index.search_phrase(phrase, K, where="role = 'user'"))
    oracle = _rows(pos_index.search_phrase_oracle(phrase, K, where="role = 'user'"))
    assert fast == oracle


def test_unpositioned_index_rejects_phrase(spark, built_index):
    idx, _ = built_index
    with pytest.raises(ValueError, match="positions"):
        idx.search_phrase("w00000 w00001", K)


def test_phrase_filter_keeps_stats_global(spark, pos_index, corpus_texts):
    """ES semantics (ADVICE r01): a filter clause restricts the doc set but
    NOT the phrase df/idf — a surviving doc's score is identical with and
    without the filter, on both the fast path and the oracle."""
    phrase = _pick_phrases(corpus_texts, n=1)[0]
    unfiltered = dict(_rows(pos_index.search_phrase(phrase, 1000)))
    for fn in (pos_index.search_phrase, pos_index.search_phrase_oracle):
        got = _rows(fn(phrase, K, where="role = 'user'"))
        assert got, fn.__name__  # picked phrases match user turns too
        for doc_id, score in got:
            assert unfiltered.get(doc_id) == score, (fn.__name__, doc_id)


def _brute_slop(corpus_texts, phrase, slop, k1=1.2, b=0.75):
    """Windowed-proximity brute force: anchor i matches when every slot j
    has an occurrence at q with |q - i - j| <= slop."""
    slots = tokenize_text(phrase)
    dls = {d: len(t) for d, (t, _r) in corpus_texts.items()}
    avgdl = sum(dls.values()) / len(dls)
    tfp = {}
    for d, (toks, _r) in corpus_texts.items():
        occ = {t: [q for q, w in enumerate(toks) if w == t] for t in set(slots)}
        c = 0
        for i in occ.get(slots[0], []):
            if all(
                any(abs(q - i - j) <= slop for q in occ.get(t, []))
                for j, t in enumerate(slots[1:], start=1)
            ):
                c += 1
        if c:
            tfp[d] = c
    if not tfp:
        return []
    n = len(corpus_texts)
    idf = math.log(1.0 + (n - len(tfp) + 0.5) / (len(tfp) + 0.5))
    scored = [
        (d, idf * c / (c + k1 * (1 - b + b * dls[d] / avgdl))) for d, c in tfp.items()
    ]
    scored.sort(key=lambda x: (-x[1], x[0]))
    return [(d, round(s, 9)) for d, s in scored[:K]]


def test_phrase_slop_fast_equals_oracle_and_brute(spark, pos_index, corpus_texts):
    """Sloppy phrases: fast kernel ≡ m-way join oracle ≡ pure-Python brute
    force, for slop 1 and 2; slop=0 stays identical to the exact path."""
    phrases = _pick_phrases(corpus_texts, n=2) + _pick_phrases(corpus_texts, n=1, length=3)
    for phrase in phrases:
        for slop in (0, 1, 2):
            fast = _rows(pos_index.search_phrase(phrase, K, slop=slop))
            oracle = _rows(pos_index.search_phrase_oracle(phrase, K, slop=slop))
            brute = _brute_slop(corpus_texts, phrase, slop)
            assert fast == oracle == brute, (phrase, slop)
        # slop widens (or preserves) the match set, never shrinks it
        n0 = len(_rows(pos_index.search_phrase(phrase, 1000, slop=0)))
        n2 = len(_rows(pos_index.search_phrase(phrase, 1000, slop=2)))
        assert n2 >= n0


def _brute_prefix(corpus_texts, anchor, pfx, k1=1.2, b=0.75):
    """match_phrase_prefix brute force: anchor token then ANY token
    starting with pfx — same synthetic-term BM25 as _brute."""
    dls = {d: len(t) for d, (t, _r) in corpus_texts.items()}
    avgdl = sum(dls.values()) / len(dls)
    tfp = {}
    for d, (toks, _r) in corpus_texts.items():
        c = sum(
            1
            for i in range(len(toks) - 1)
            if toks[i] == anchor and toks[i + 1].startswith(pfx)
        )
        if c:
            tfp[d] = c
    if not tfp:
        return []
    n = len(corpus_texts)
    idf = math.log(1.0 + (n - len(tfp) + 0.5) / (len(tfp) + 0.5))
    scored = [
        (d, idf * c / (c + k1 * (1 - b + b * dls[d] / avgdl))) for d, c in tfp.items()
    ]
    scored.sort(key=lambda x: (-x[1], x[0]))
    return [(d, round(s, 9)) for d, s in scored[:K]]


def test_phrase_prefix_fast_equals_oracle_and_brute(spark, pos_index, corpus_texts):
    anchor, second = _pick_phrases(corpus_texts, n=1)[0].split()
    pfx = second[:4]  # w-token vocabulary: a 4-char prefix expands widely
    assert len(pos_index._expand_prefix(pfx, 1 << 20)) > 1
    q = f"{anchor} {pfx}"
    fast = _rows(pos_index.search_phrase_prefix(q, K, max_expansions=1 << 20))
    oracle = _rows(pos_index.search_phrase_prefix_oracle(q, K, max_expansions=1 << 20))
    brute = _brute_prefix(corpus_texts, anchor, pfx)
    assert fast == oracle == brute and fast
    # absent prefix and empty phrase stay empty, schema stable
    assert pos_index.search_phrase_prefix("zzabsent zz", K).count() == 0
    assert pos_index.search_phrase_prefix("", K).count() == 0


def test_phrase_prefix_expansion_cap_is_term_ordered(spark, pos_index, corpus_texts):
    """max_expansions keeps the FIRST terms in term order (ES's cap): with
    cap=1 the result equals the exact phrase on the lexicographically
    first expansion."""
    anchor, second = _pick_phrases(corpus_texts, n=1)[0].split()
    pfx = second[:4]
    first_term = pos_index._expand_prefix(pfx, 1)[0]
    capped = _rows(pos_index.search_phrase_prefix(f"{anchor} {pfx}", K, max_expansions=1))
    exact = _rows(pos_index.search_phrase(f"{anchor} {first_term}", K))
    assert capped == exact


def test_rescore_window(spark, pos_index, corpus_texts):
    """ES rescore: combined = qw·bm25 + rw·phrase for the top-window docs;
    docs outside the window never appear; weights respected."""
    phrase = _pick_phrases(corpus_texts, n=1)[0]
    window = 30
    base = {
        r["doc_id"]: r["score"]
        for r in pos_index.search(phrase, window).collect()
    }
    pscores = dict(_brute(corpus_texts, phrase))  # rounded(9) phrase scores
    praw = {
        r["doc_id"]: r["score"]
        for r in pos_index.search_phrase_oracle(phrase, None).collect()
    }
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in pos_index.rescore(
            phrase, phrase, 10, window_size=window, query_weight=2.0, rescore_weight=0.5
        ).collect()
    ]
    want = sorted(
        ((d, 2.0 * s + 0.5 * praw.get(d, 0.0)) for d, s in base.items()),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert got == [(d, round(s, 9)) for d, s in want] and got
    assert set(d for d, _ in got) <= set(base)


def test_positional_queries_leave_nothing_persisted(spark, pos_index, corpus_texts):
    """The positional top-k finishes eagerly and releases its per-shard
    partials: distinct phrase, phrase_prefix and span_near queries leave
    the persisted-RDD count where it was."""
    jsc = spark.sparkContext._jsc
    phrases = _pick_phrases(corpus_texts, n=3)
    a, b = phrases[0].split()
    before = jsc.getPersistentRDDs().size()
    for p in phrases:
        assert pos_index.search_phrase(p, K).collect()
    assert pos_index.search_phrase_prefix(f"{a} {b[:3]}", K).collect()
    assert pos_index.search_span_near([a, b], slop=2, in_order=True, k=K).collect()
    assert jsc.getPersistentRDDs().size() == before


def test_positional_topk_collects_its_partials_once(spark, pos_index, corpus_texts):
    """The executor finish collects the per-shard partials in one pass and
    scores them on the driver, so a warm search_phrase runs fewer Spark
    jobs than the five of a persisted partials frame, a Spark-side df job
    and a Spark-side top-k."""
    tracker = spark.sparkContext.statusTracker()
    phrase = _pick_phrases(corpus_texts, n=1)[0]
    for where in (None, "role = 'user'"):
        pos_index.search_phrase(phrase, K, where=where).collect()  # warm the reads
        before = len(tracker.getJobIdsForGroup(None))
        pos_index.search_phrase(phrase, K, where=where).collect()
        assert len(tracker.getJobIdsForGroup(None)) - before < 5, where
