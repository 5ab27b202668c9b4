"""Filtered search (the ES bool-filter clause): fast path with a per-shard
allowed-doc mask must equal the oracle's semi-join path, scores must be
identical to the UNfiltered scores of the same docs (filters never change
corpus statistics, matching ES), and role/time predicates must actually
restrict the hit set."""

from __future__ import annotations

import pytest


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


QUERIES = ["w00000 w00002", "w00015 w00100", "w00001"]
WHERE = "role = 'user'"


def test_filtered_fast_matches_filtered_oracle(spark, built_index):
    idx, _ = built_index
    for q in QUERIES:
        for mode in ("bmw", "exact"):
            got = _rows(idx.search(q, 10, mode=mode, where=WHERE))
            want = _rows(idx.search_oracle(q, 10, where=WHERE))
            assert got == want, (q, mode)


def test_filter_restricts_but_does_not_rescore(spark, built_index):
    idx, _ = built_index
    q = QUERIES[0]
    unfiltered = dict(_rows(idx.search(q, 10_000)))
    filtered = _rows(idx.search(q, 10, where=WHERE))
    assert filtered, "filter should leave some hits"
    keys = idx.doc_keys()
    roles = {
        r["doc_id"]: r["role"]
        for r in idx._docs_df().select("doc_id", "role").collect()
    }
    for doc_id, score in filtered:
        assert roles[doc_id] == "user"
        assert score == unfiltered[doc_id]  # global stats → identical score


def test_time_range_filter(spark, built_index):
    idx, _ = built_index
    q = QUERIES[0]
    lo = "2026-01-02 00:00:00"
    got = idx.search(q, 10, where=f"ts >= '{lo}'")
    fetched = idx.fetch(got).collect()
    assert fetched and all(str(r["ts"]) >= lo for r in fetched)


def test_filter_matching_nothing_is_empty(spark, built_index):
    idx, _ = built_index
    assert idx.search(QUERIES[0], 10, where="role = 'nope'").count() == 0


def test_facets_match_manual_count(spark, built_index):
    from collections import Counter

    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    q = "w00000 w00015"
    terms = set(tokenize_text(q))
    rows = idx._docs_df().select("text", "role").collect()
    want = Counter(
        r["role"] for r in rows if terms & set(tokenize_text(r["text"]))
    )
    got = {r["role"]: r["n"] for r in idx.facets(q, by="role").collect()}
    assert got == dict(want)
    # conjunctive facet: every query term required
    want_and = Counter(
        r["role"] for r in rows if terms <= set(tokenize_text(r["text"]))
    )
    got_and = {
        r["role"]: r["n"]
        for r in idx.facets(q, by="role", min_should_match=len(terms)).collect()
    }
    assert got_and == dict(want_and)


def test_empty_corpus_bootstrap(spark, tmp_path):
    from kafka_elasticsearch_standalone_consumer_spark.corpus import (
        TRANSCRIPTS_SCHEMA,
        generate_transcripts,
    )
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
        append_segment,
    )
    from kafka_elasticsearch_standalone_consumer_spark.query.engine import Index

    wh = str(tmp_path / "empty")
    build_index(
        spark, spark.createDataFrame([], TRANSCRIPTS_SCHEMA), wh,
        docs_per_shard=256, n_buckets=8,
    )
    assert Index(spark, wh).search("w00000", 5).count() == 0
    assert append_segment(
        spark, generate_transcripts(spark, n_convs=10, seed=2), wh,
        idempotency_key="b0",
    ) == 1
    assert Index(spark, wh).search("w00000", 5).count() > 0


def test_min_should_match(spark, built_index):
    """ES minimum_should_match: the match set shrinks to docs with >= m
    distinct query terms; surviving scores are unchanged (global stats);
    m = n_terms equals the conjunctive mode."""
    idx, _ = built_index
    q = "w00000 w00003 w00250"
    base = dict(
        (r["doc_id"], round(r["score"], 9)) for r in idx.search(q, 500).collect()
    )
    texts = {r["doc_id"]: set(r["text"].lower().split()) for r in idx._docs_df().collect()}
    terms = {"w00000", "w00003", "w00250"}
    for m in (2, 3):
        for fn in (
            lambda: idx.search(q, 10, min_should_match=m),
            lambda: idx.search_oracle(q, 10, min_should_match=m),
        ):
            got = [(r["doc_id"], round(r["score"], 9)) for r in fn().collect()]
            assert got, m
            for doc_id, score in got:
                assert len(terms & texts[doc_id]) >= m, (m, doc_id)
                assert base[doc_id] == score, (m, doc_id)
    # m = n_terms ≡ intersect mode
    msm = [(r["doc_id"], round(r["score"], 9))
           for r in idx.search(q, 10, min_should_match=3).collect()]
    inter = [(r["doc_id"], round(r["score"], 9))
             for r in idx.search(q, 10, mode="intersect").collect()]
    assert msm == inter
    # m beyond the query width -> empty
    assert idx.search(q, 10, min_should_match=4).count() == 0


def test_prefix_and_wildcard_queries(spark, built_index):
    """ES prefix/wildcard (constant_score rewrite): docs containing any
    expanded term, score 1.0, ordered by doc_id; expansion honors
    max_expansions and wildcard needs a literal prefix."""
    import fnmatch
    import re

    import pytest

    idx, _ = built_index
    texts = {r["doc_id"]: set(r["text"].lower().split()) for r in idx._docs_df().collect()}

    got = idx.search_prefix("w000", 50).collect()
    assert got and all(r["score"] == 1.0 for r in got)
    ids = [r["doc_id"] for r in got]
    assert ids == sorted(ids)
    for d in ids:
        assert any(t.startswith("w000") for t in texts[d]), d

    rx = re.compile(fnmatch.translate("w000?0"))
    got_w = idx.search_wildcard("w000?0", 50).collect()
    assert got_w
    for r in got_w:
        assert any(rx.match(t) for t in texts[r["doc_id"]]), r["doc_id"]

    # expansion cap changes the match set monotonically
    n1 = idx.search_prefix("w", 10000, max_expansions=1).count()
    n50 = idx.search_prefix("w", 10000, max_expansions=50).count()
    assert n1 <= n50
    with pytest.raises(ValueError, match="prefix"):
        idx.search_wildcard("*w00")


def test_fuzzy_query(spark, built_index):
    """ES fuzzy (constant_score): docs with a term within edit distance 1
    of the query term; transpositions count as one edit; prefix_length=0
    is rejected."""
    import pytest

    idx, _ = built_index
    texts = {r["doc_id"]: set(r["text"].lower().split()) for r in idx._docs_df().collect()}

    def dl1(a, b):
        from kafka_elasticsearch_standalone_consumer_spark.query.engine import (
            _damerau_levenshtein,
        )

        return _damerau_levenshtein(a, b, 1)

    got = idx.search_fuzzy("w0000", 10000, fuzziness=1).collect()
    assert got and all(r["score"] == 1.0 for r in got)
    want_ids = sorted(
        d for d, toks in texts.items() if any(dl1("w0000", t) <= 1 for t in toks)
    )
    assert [r["doc_id"] for r in got] == want_ids
    # transposition is ONE edit: w00001 <-> w00010 swap of last two chars
    assert dl1("w00001", "w00010") == 1
    with pytest.raises(ValueError, match="prefix_length"):
        idx.search_fuzzy("w0000", prefix_length=0)


def test_fuzzy_like_this_matches_python(spark, built_index):
    """fuzzy_like_this: scored fuzzy disjunction — blended per-group idf
    (max variant df), edit-similarity weights, BM25 tf norm with global
    stats; max_query_terms keeps the best variants."""
    import math

    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text
    from kafka_elasticsearch_standalone_consumer_spark.query.engine import (
        _damerau_levenshtein,
    )

    idx, _ = built_index
    like = "w0000 w00013"
    rows = idx._docs_df().collect()
    toks = {r["doc_id"]: tokenize_text(r["text"]) for r in rows}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    vocab = sorted({t for ts in toks.values() for t in ts})
    df = {t: sum(1 for ts in toks.values() if t in ts) for t in vocab}

    def variants(src):
        out = {}
        for t in vocab:
            if (
                t[0] == src[0]
                and abs(len(t) - len(src)) <= 1
                and _damerau_levenshtein(src, t, 1) <= 1
            ):
                out[t] = 1.0 - _damerau_levenshtein(src, t, 1) / min(len(src), len(t))
        return out

    idfw = {}
    for src in sorted(set(tokenize_text(like))):
        g = variants(src)
        if not g:
            continue
        dmax = max(df[v] for v in g)
        idf = math.log(1.0 + (n - dmax + 0.5) / (dmax + 0.5))
        for v, sim in g.items():
            idfw[v] = idfw.get(v, 0.0) + sim * idf
    scores = {}
    for d, ts in toks.items():
        s = 0.0
        for v, w in idfw.items():
            c = ts.count(v)
            if c:
                s += w * c / (c + 1.2 * (1 - 0.75 + 0.75 * len(ts) / avgdl))
        if s:
            scores[d] = s
    want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in idx.fuzzy_like_this(like, 10, max_query_terms=10_000).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9
    # cap: max_query_terms=1 keeps only the single best (weight, variant)
    # entry — selection happens BEFORE same-variant weights sum
    sel = []
    for src in sorted(set(tokenize_text(like))):
        g = variants(src)
        if not g:
            continue
        dmax = max(df[v] for v in g)
        idf = math.log(1.0 + (n - dmax + 0.5) / (dmax + 0.5))
        for v, sim in g.items():
            sel.append((sim * idf, v, src))
    sel.sort(key=lambda x: (-x[0], x[1], x[2]))
    top_v = sel[0][1]
    one = idx.fuzzy_like_this(like, 10_000, max_query_terms=1).collect()
    match_v = sorted(d for d, ts in toks.items() if top_v in ts)
    assert sorted(r["doc_id"] for r in one) == match_v
    with pytest.raises(ValueError, match="prefix_length"):
        idx.fuzzy_like_this(like, prefix_length=0)


def test_regexp_query(spark, built_index):
    """ES regexp (constant_score, implicitly anchored): fullmatch against
    the term dictionary, literal-prefix-pruned; leading metacharacters are
    rejected."""
    import re

    import pytest

    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    texts = {
        r["doc_id"]: set(tokenize_text(r["text"])) for r in idx._docs_df().collect()
    }
    rx = re.compile("w0000[0-3]")
    got = idx.search_regexp("w0000[0-3]", 10000).collect()
    want_ids = sorted(
        d for d, toks in texts.items() if any(rx.fullmatch(t) for t in toks)
    )
    assert [r["doc_id"] for r in got] == want_ids
    assert all(r["score"] == 1.0 for r in got) and got
    # anchored semantics: "w0000" must NOT match the longer term w00001
    assert {r["doc_id"] for r in idx.search_regexp("w0000", 10000).collect()} == {
        d for d, toks in texts.items() if "w0000" in toks
    }
    # a quantifier right after the literal run shortens the pruning prefix
    # (pattern w00001? must also find docs with the bare w00001/w00001x forms)
    q = idx.search_regexp("w00001?", 10000).collect()
    rx2 = re.compile("w00001?")
    want2 = sorted(d for d, toks in texts.items() if any(rx2.fullmatch(t) for t in toks))
    assert [r["doc_id"] for r in q] == want2
    with pytest.raises(ValueError, match="literal prefix"):
        idx.search_regexp(".*w00")


def test_more_like_this(spark, built_index):
    """MLT term selection (tf·idf, term-asc ties, max_query_terms cap) and
    scoring must equal a pure-Python recompute; the source doc never
    appears in its own hits."""
    import math
    from collections import Counter

    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    rows = idx._docs_df().select("doc_id", "text").collect()
    toks = {r["doc_id"]: tokenize_text(r["text"]) for r in rows}
    n = len(toks)
    df = Counter()
    for ts in toks.values():
        for t in set(ts):
            df[t] += 1

    def idf(t):
        return math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))

    src = 3
    tf_src = Counter(toks[src])
    sel = [t for _, t in sorted((-c * idf(t), t) for t, c in tf_src.items())[:4]]
    # brute BM25 with the selected terms at weight 1, source excluded
    avgdl = sum(len(ts) for ts in toks.values()) / n
    scored = []
    for d, ts in toks.items():
        if d == src:
            continue
        c = Counter(ts)
        s = sum(
            idf(t) * c[t] / (c[t] + 1.2 * (1 - 0.75 + 0.75 * len(ts) / avgdl))
            for t in sel
            if c[t]
        )
        if s > 0:
            scored.append((d, s))
    scored.sort(key=lambda x: (-x[1], x[0]))
    want = [(d, round(s, 9)) for d, s in scored[:10]]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in idx.more_like_this(src, 10, max_query_terms=4).collect()
    ]
    assert got == want and got
    assert src not in {d for d, _ in got}
    # absent doc -> empty, stable schema
    assert idx.more_like_this(10**9, 10).count() == 0


def test_explain_score_sums_to_search_score(spark, built_index):
    """ES _explain parity: per-term contributions sum EXACTLY (same idf
    plan, same float ops) to the doc's search() score; absent docs and
    empty queries explain to nothing."""
    idx, _ = built_index
    q = "w00000 w00003 w00015"
    hits = idx.search(q, 5).collect()
    for r in hits:
        parts = idx.explain_score(q, r["doc_id"]).collect()
        assert parts
        assert abs(sum(p["contribution"] for p in parts) - r["score"]) < 1e-12
        for p in parts:
            assert p["idf"] > 0 and p["tf"] >= 1 and p["df"] >= 1
    assert idx.explain_score(q, 10**9).count() == 0
    assert idx.explain_score("", 0).count() == 0


def test_suggest_terms(spark, built_index):
    """Term suggester: corrections within max_edits ranked dist asc, df
    desc, term asc; suggest_mode=missing skips present tokens."""
    import pytest

    idx, _ = built_index
    present = "w00000"
    got = idx.suggest_terms(f"{present} w0000x", max_edits=1).collect()
    assert got and all(r["input"] == "w0000x" for r in got)  # present token skipped
    assert all(r["dist"] == 1 and r["freq"] > 0 for r in got)
    always = idx.suggest_terms(present, max_edits=1, suggest_mode="always").collect()
    assert always and all(r["suggestion"] != present for r in always)
    # ranked by freq desc within equal distance
    freqs = [r["freq"] for r in always]
    assert freqs == sorted(freqs, reverse=True)
    with pytest.raises(ValueError, match="prefix_length"):
        idx.suggest_terms("w0000x", prefix_length=0)
    with pytest.raises(ValueError, match="suggest_mode"):
        idx.suggest_terms("w0000x", suggest_mode="nope")


def test_suggest_terms_popular_mode(spark, built_index):
    """suggest_mode=popular: corrections must be STRICTLY more frequent
    than the input term — for a present input it's 'always' minus the
    less-frequent candidates; for an absent input the floor is 0, so it
    equals 'always' there."""
    idx, _ = built_index
    present = "w00000"
    own = {t: d for t, d, _b in idx._lookup_terms_arrow([present])}[present]
    always = idx.suggest_terms(present, max_edits=1, suggest_mode="always").collect()
    popular = idx.suggest_terms(present, max_edits=1, suggest_mode="popular").collect()
    want = sorted(
        [(r["suggestion"], r["dist"], r["freq"]) for r in always if r["freq"] > own],
        key=lambda x: (x[1], -x[2], x[0]),
    )[:3]
    assert sorted(
        [(r["suggestion"], r["dist"], r["freq"]) for r in popular],
        key=lambda x: (x[1], -x[2], x[0]),
    ) == want
    assert all(r["freq"] > own for r in popular)
    # absent input: floor 0 → popular == always
    pa = idx.suggest_terms("w0000x", max_edits=1, suggest_mode="popular").collect()
    aa = idx.suggest_terms("w0000x", max_edits=1, suggest_mode="always").collect()
    assert {tuple(r) for r in pa} == {tuple(r) for r in aa}


def test_search_after_pagination(spark, built_index):
    """search_after: page 2 equals rows k+1..2k of the full order, pages
    never overlap, and walking the cursor enumerates the whole result."""
    idx, _ = built_index
    q = "w00000 w00003"
    full = [(r["doc_id"], round(r["score"], 9)) for r in idx.search(q, 10_000).collect()]
    k = 7
    p1 = idx.search(q, k).collect()
    after = (p1[-1]["score"], p1[-1]["doc_id"])
    p2 = [(r["doc_id"], round(r["score"], 9)) for r in idx.search_after(q, after, k).collect()]
    assert p2 == full[k : 2 * k]
    # cursor walk terminates exactly at the end of the result set
    seen = [(r["doc_id"], round(r["score"], 9)) for r in p1]
    cursor = after
    while True:
        page = idx.search_after(q, cursor, k).collect()
        if not page:
            break
        seen += [(r["doc_id"], round(r["score"], 9)) for r in page]
        cursor = (page[-1]["score"], page[-1]["doc_id"])
    assert seen == full


def test_function_score_and_collapse(spark, built_index):
    """function_score(field_value_factor) rescoring and field collapsing
    must match a pure-Python recompute over the full score set."""
    import math

    import pytest

    idx, _ = built_index
    q = "w00000 w00003"
    base = {r["doc_id"]: r["score"] for r in idx.search_oracle(q, None).collect()}
    meta_rows = idx._docs_df().select("doc_id", "turn_idx", "role").collect()
    turn = {r["doc_id"]: r["turn_idx"] for r in meta_rows}
    role = {r["doc_id"]: r["role"] for r in meta_rows}

    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in idx.function_score(q, "turn_idx", 10, factor=0.5, modifier="log1p").collect()
    ]
    want = sorted(
        ((d, s * math.log1p(turn[d] * 0.5)) for d, s in base.items()),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert got == [(d, round(s, 9)) for d, s in want]

    # sum boost_mode and each remaining modifier keep the contract
    got_sum = [
        (r["doc_id"], round(r["score"], 9))
        for r in idx.function_score(
            q, "turn_idx", 5, factor=1.0, modifier="sqrt", boost_mode="sum"
        ).collect()
    ]
    want_sum = sorted(
        ((d, s + math.sqrt(turn[d])) for d, s in base.items()),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    assert got_sum == [(d, round(s, 9)) for d, s in want_sum]
    with pytest.raises(ValueError, match="modifier"):
        idx.function_score(q, "turn_idx", 5, modifier="nope")

    gotc = [
        (r["role"], r["doc_id"], round(r["score"], 9))
        for r in idx.search_collapse(q, "role", 10).collect()
    ]
    best: dict = {}
    for d, s in base.items():
        key = role[d]
        if key not in best or (-s, d) < best[key]:
            best[key] = (-s, d)
    wantc = sorted(
        ((rl, d, -ns) for rl, (ns, d) in best.items()), key=lambda x: (-x[2], x[1])
    )[:10]
    assert gotc == [(rl, d, round(s, 9)) for rl, d, s in wantc]
    assert len({rl for rl, _, _ in gotc}) == len(gotc)  # one hit per group


def test_suggest_complete(spark, built_index):
    """Completion suggester: prefix-expanded dictionary terms ranked by
    df desc, term asc; empty prefix-miss stays empty."""
    from collections import Counter

    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    df = Counter()
    for r in idx._docs_df().select("text").collect():
        for t in set(tokenize_text(r["text"])):
            df[t] += 1
    got = [(r["suggestion"], r["freq"]) for r in idx.suggest_complete("w000", 5).collect()]
    want = sorted(
        ((t, n) for t, n in df.items() if t.startswith("w000")),
        key=lambda tn: (-tn[1], tn[0]),
    )[:5]
    assert got == want and got
    assert idx.suggest_complete("zzz", 5).count() == 0


def test_search_sort_by_field(spark, built_index):
    """ES sort-by-field: matching docs ordered by the field (desc,
    doc_id-asc ties), no scoring — verified against a Python sort of the
    fetched match set."""
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    q = "w00000 w00003"
    got = [(r["doc_id"], r["sort_value"]) for r in idx.search_sort(q, "turn_idx", 7).collect()]
    terms = set(tokenize_text(q))
    rows = [
        (r["doc_id"], float(r["turn_idx"]))
        for r in idx._docs_df().collect()
        if terms & set(tokenize_text(r["text"]))
    ]
    want = sorted(rows, key=lambda x: (-x[1], x[0]))[:7]
    assert got == want and got
    # ascending flips the order
    got_asc = [(r["doc_id"], r["sort_value"]) for r in idx.search_sort(q, "turn_idx", 7, ascending=True).collect()]
    assert got_asc == sorted(rows, key=lambda x: (x[1], x[0]))[:7]


def test_search_sort_by_script_expression(spark, built_index):
    """ES 1.x _script sort: sort_by accepts a computed SQL expression —
    heavy key collisions exercise the doc_id-asc tiebreak — verified
    against a Python recomputation of the same expression."""
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    q = "w00000 w00003"
    got = [
        (r["doc_id"], r["sort_value"])
        for r in idx.search_sort(q, "turn_idx % 3", 7).collect()
    ]
    terms = set(tokenize_text(q))
    rows = [
        (r["doc_id"], float(r["turn_idx"] % 3))
        for r in idx._docs_df().collect()
        if terms & set(tokenize_text(r["text"]))
    ]
    want = sorted(rows, key=lambda x: (-x[1], x[0]))[:7]
    assert got == want and got
    # collisions are real: at most 3 distinct keys in the top-7
    assert len({v for _, v in got}) <= 3


def test_boosting_query_demotes_not_excludes(spark, built_index):
    """ES boosting query: positive scores ×negative_boost for docs
    matching the negative query; rank-checked against the score-all
    oracle + a Python demotion."""
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    pos, neg, nb = "w00000 w00003", "w00001", 0.25
    scored = {r["doc_id"]: r["score"] for r in idx.search_oracle(pos, None).collect()}
    neg_terms = set(tokenize_text(neg))
    neg_docs = {
        r["doc_id"]
        for r in idx._docs_df().collect()
        if neg_terms & set(tokenize_text(r["text"]))
    }
    want = sorted(
        ((d, s * nb if d in neg_docs else s) for d, s in scored.items()),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    got = [(r["doc_id"], r["score"]) for r in idx.search_boosting(pos, neg, nb, 10).collect()]
    assert [(d, round(s, 9)) for d, s in got] == [(d, round(s, 9)) for d, s in want]
    # demoted docs are still present somewhere in the full order (never excluded)
    full = idx.search_boosting(pos, neg, nb, len(scored)).collect()
    assert {r["doc_id"] for r in full} == set(scored)
    # empty negative == plain search
    plain = [(r["doc_id"], round(r["score"], 9)) for r in idx.search_oracle(pos, 10).collect()]
    got_empty = [(r["doc_id"], round(r["score"], 9)) for r in idx.search_boosting(pos, "", nb, 10).collect()]
    assert got_empty == plain


def test_min_score_filters_topk(spark, built_index):
    idx, _ = built_index
    q = "w00000 w00003"
    base = idx.search(q, 10).collect()
    cut = base[4]["score"]  # threshold between hit 5 and 6
    got = idx.search(q, 10, min_score=cut).collect()
    want = [r for r in base if r["score"] >= cut]
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    assert len(got) >= 5 and len(got) <= len(base)


def test_common_terms_query(spark, built_index):
    """common_terms: low-df terms select, high-df terms only score.
    Results must be exactly the full-query scores semi-joined to docs
    containing ≥1 low term; an all-high split falls back to plain BM25."""
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    n = idx.meta["n_docs"]
    dfs = {r["term"]: r["df"] for r in idx.term_stats.select("term", "df").collect()}
    # pick a genuinely rare and a genuinely hot term from this corpus
    rare = min(dfs, key=lambda t: (dfs[t], t))
    hot = max(dfs, key=lambda t: (dfs[t], t))
    assert dfs[rare] / n < 0.05 and dfs[hot] / n > 0.2
    q, cutoff = f"{rare} {hot}", 0.1

    got = [(r["doc_id"], round(r["score"], 9)) for r in idx.search_common_terms(q, 10, cutoff).collect()]
    scored = {r["doc_id"]: r["score"] for r in idx.search_oracle(q, None).collect()}
    rare_docs = {
        r["doc_id"] for r in idx._docs_df().collect()
        if rare in set(tokenize_text(r["text"]))
    }
    want = sorted(
        ((d, round(s, 9)) for d, s in scored.items() if d in rare_docs),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert got == want and got
    # every hit contains the rare (selecting) term
    assert {d for d, _ in got} <= rare_docs
    # cutoff above every df -> all terms "low" -> plain BM25 ranking
    plain = [(r["doc_id"], round(r["score"], 9)) for r in idx.search_oracle(q, 10).collect()]
    allow_all = [(r["doc_id"], round(r["score"], 9)) for r in idx.search_common_terms(q, 10, 1.0).collect()]
    assert allow_all == plain


def test_suggest_phrase_matches_python_lm(spark, built_index):
    """Phrase suggester vs a full pure-Python recomputation: per-slot
    dictionary candidates (DL≤1, dist/df/term ranking), Laplace bigram
    LM + edit channel, confidence gate. The engine's list must equal the
    Python argmax list exactly."""
    import math

    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text
    from kafka_elasticsearch_standalone_consumer_spark.query.engine import (
        _damerau_levenshtein,
    )

    idx, _ = built_index
    text, gen, size = "w00000 w0001", 5, 3

    # corpus model in Python
    docs = [r["text"] for r in idx._docs_df().select("text").collect()]
    uni: dict = {}
    big: dict = {}
    n_tokens = 0
    for d in docs:
        ws = tokenize_text(d)
        n_tokens += len(ws)
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    dfs: dict = {}
    for d in docs:
        for w in set(tokenize_text(d)):
            dfs[w] = dfs.get(w, 0) + 1
    vocab = float(len(uni))

    toks = tokenize_text(text)
    slots = []
    for tok in toks:
        near = [
            (t, _damerau_levenshtein(tok, t, 1))
            for t in sorted(uni)
            if t != tok and t[0] == tok[0] and abs(len(t) - len(tok)) <= 1
        ]
        near = [(t, d) for t, d in near if d <= 1]
        near.sort(key=lambda td: (td[1], -dfs.get(td[0], 0), td[0]))
        slots.append([(tok, 0)] + near[:gen])

    def score(seq):
        s = math.log((uni.get(seq[0], 0) + 0.5) / (n_tokens + 0.5 * vocab))
        for a, b in zip(seq, seq[1:]):
            s += math.log((big.get((a, b), 0) + 0.5) / (uni.get(a, 0) + 0.5 * vocab))
        for inp, w in zip(toks, seq):
            s += math.log(0.95) if w == inp else _damerau_levenshtein(inp, w, 1) * math.log(0.5)
        return s

    import itertools

    base = score(toks)
    want = sorted(
        (
            (" ".join(seq), score(list(seq)))
            for seq in itertools.product(*[[t for t, _ in s] for s in slots])
            if list(seq) != toks and score(list(seq)) > base
        ),
        key=lambda x: (-x[1], x[0]),
    )[:size]
    got = [
        (r["suggestion"], r["score"])
        for r in idx.suggest_phrase(text, size=size, gen_size=gen).collect()
    ]
    assert [(s, round(v, 9)) for s, v in got] == [(s, round(v, 9)) for s, v in want]
    assert got, "expected at least one correction for the misspelled slot"
    # the confidence gate: every suggestion beats the input's own score,
    # and the input sequence itself is never returned
    assert all(s != " ".join(toks) and v > base for s, v in got)
    # with real_word_error_likelihood=1 and err→0 no real-word phrase can
    # be "corrected": keeping every in-vocab token dominates
    kept = idx.suggest_phrase(
        "w00000 w00001", size=3, real_word_error_likelihood=1.0, error_likelihood=1e-9
    )
    assert kept.count() == 0


def test_search_after_bmw_matches_oracle_path(spark, built_index):
    """The pruned WAND search_after (doubling top-K) must be row- and
    score-identical to the score-all path on every page, including the
    final partial page and an exhausted cursor."""
    idx, _ = built_index
    q, k = "w00000 w00003", 7
    p1 = idx.search(q, k).collect()
    cursor = (p1[-1]["score"], p1[-1]["doc_id"])
    # pages 2 and 3: identical rows and scores on both paths
    for _ in range(2):
        a_rows = idx.search_after(q, cursor, k, mode="oracle").collect()
        b_rows = idx.search_after(q, cursor, k, mode="bmw").collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in a_rows] == [
            (r["doc_id"], round(r["score"], 9)) for r in b_rows
        ]
        assert len(a_rows) == k
        cursor = (a_rows[-1]["score"], a_rows[-1]["doc_id"])  # raw, never rounded
    # deep cursor near the end: the final PARTIAL page must match too
    full = idx.search(q, 10_000).collect()
    deep = (full[-3]["score"], full[-3]["doc_id"])
    a = [
        (r["doc_id"], round(r["score"], 9))
        for r in idx.search_after(q, deep, k, mode="oracle").collect()
    ]
    b = [(r["doc_id"], round(r["score"], 9)) for r in idx.search_after(q, deep, k, mode="bmw").collect()]
    assert a == b and len(a) == 2
    # exhausted cursor: both paths return empty
    end = (full[-1]["score"], full[-1]["doc_id"])
    assert idx.search_after(q, end, k, mode="oracle").count() == 0
    assert idx.search_after(q, end, k, mode="bmw").count() == 0


def test_terms_query_and_scan(spark, built_index):
    """terms query: constant-score docs containing any listed term;
    scan_all: every matching doc row, unscored, equal to the Python match
    set — and its plan has no TakeOrdered/Sort (export never sorts)."""
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    vals = ["w00000", "w00005"]
    got = idx.search_terms(vals, 10_000).collect()
    texts = {r["doc_id"]: set(tokenize_text(r["text"])) for r in idx._docs_df().collect()}
    want = sorted(d for d, toks in texts.items() if toks & set(vals))
    assert [r["doc_id"] for r in got] == want
    assert all(r["score"] == 1.0 for r in got)
    # k truncates by doc_id asc
    assert [r["doc_id"] for r in idx.search_terms(vals, 5).collect()] == want[:5]

    q = "w00000 w00003"
    rows = idx.scan_all(q, min_should_match=2).collect()
    terms = set(tokenize_text(q))
    want_scan = {d for d, toks in texts.items() if len(toks & terms) >= 2}
    assert {r["doc_id"] for r in rows} == want_scan and want_scan
    plan = idx.scan_all(q)._sc._jvm.PythonSQLUtils.explainString(
        idx.scan_all(q)._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" not in plan and "Sort " not in plan


def test_ids_query_and_constant_score(spark, built_index):
    """ids query: live docs among the literal id set at constant boost;
    constant_score: query+filter wrap where every match scores exactly
    the boost, rank-set-identical to the scored path's match set."""
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    rows = idx.search_ids([5, 9, 14, 10**9], k=10, boost=1.5).collect()
    assert [r["doc_id"] for r in rows] == [5, 9, 14]
    assert all(r["score"] == 1.5 for r in rows)
    assert idx.search_ids([], k=10).count() == 0
    # k truncates by doc_id asc
    assert [r["doc_id"] for r in idx.search_ids([14, 5, 9], k=2).collect()] == [5, 9]

    q = "w00000 w00003"
    texts = {r["doc_id"]: r for r in idx._docs_df().collect()}
    terms = set(tokenize_text(q))
    want = sorted(
        d
        for d, r in texts.items()
        if set(tokenize_text(r["text"])) & terms and r["turn_idx"] >= 3
    )
    got = idx.constant_score(q, where="turn_idx >= 3", boost=2.5, k=10_000).collect()
    assert [r["doc_id"] for r in got] == want
    assert all(r["score"] == 2.5 for r in got)
    # pure filter form (match_all + filter)
    got_f = idx.constant_score(where="turn_idx = 0", boost=1.0, k=10_000).collect()
    want_f = sorted(d for d, r in texts.items() if r["turn_idx"] == 0)
    assert [r["doc_id"] for r in got_f] == want_f


def test_match_all_exists_missing(spark, built_index):
    """match_all: every live doc at the boost; exists/missing: NULL-field
    filter-context queries (ES 1.x surface)."""
    from kafka_elasticsearch_standalone_consumer_spark.query.engine import Index

    idx, _ = built_index
    live = sorted(r["doc_id"] for r in idx._docs_df().select("doc_id").collect())
    rows = idx.match_all(k=5, boost=0.5).collect()
    assert [r["doc_id"] for r in rows] == live[:5]
    assert all(r["score"] == 0.5 for r in rows)

    docs = spark.createDataFrame(
        [(i, f"tok{i}", None if i % 3 == 0 else "s") for i in range(12)],
        "doc_id long, text string, tag string",
    )
    nidx = Index.ephemeral(docs, docs_per_shard=8, n_buckets=4)
    assert [r["doc_id"] for r in nidx.search_exists("tag", 100).collect()] == [
        i for i in range(12) if i % 3 != 0
    ]
    assert [r["doc_id"] for r in nidx.search_missing("tag", 100).collect()] == [
        i for i in range(12) if i % 3 == 0
    ]


def test_count_termvectors_analyze(spark, built_index):
    """_count equals the match-set size; _termvectors carries per-doc tf
    with GLOBAL df; _analyze shows exactly the indexed token stream."""
    from collections import Counter

    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    q = "w00000 w00003"
    terms = set(tokenize_text(q))
    rows = idx._docs_df().select("doc_id", "text").collect()
    want_n = sum(1 for r in rows if len(terms & set(tokenize_text(r["text"]))) >= 2)
    assert idx.count_matches(q, min_should_match=2).collect()[0]["n"] == want_n

    target = rows[3]
    tv = idx.term_vectors(target["doc_id"]).collect()
    tf_want = Counter(tokenize_text(target["text"]))
    assert {r["term"]: r["tf"] for r in tv} == dict(tf_want)
    dfs = Counter()
    for r in rows:
        for t in set(tokenize_text(r["text"])):
            dfs[t] += 1
    assert all(r["df"] == dfs[r["term"]] for r in tv)

    an = idx.analyze("The Quick  BROWN-fox; 42 jumps!").collect()
    assert [(r["position"], r["token"]) for r in an] == [
        (0, "the"), (1, "quick"), (2, "brown"), (3, "fox"), (4, "42"), (5, "jumps")
    ]


def test_decay_and_random_score(spark, built_index):
    """Decay functions hit ES's exact formulas (value at distance=scale
    is decay, at origin is 1); random_score is deterministic in the seed
    and score-independent."""
    import math

    idx, _ = built_index
    q = "w00000 w00003"
    scored = {r["doc_id"]: r["score"] for r in idx.search_oracle(q, None).collect()}
    fields = {r["doc_id"]: float(r["turn_idx"]) for r in idx._docs_df().collect()}
    origin, scale, decay = 5.0, 4.0, 0.5

    def mult(fn, v):
        d = max(0.0, abs(v - origin))
        if fn == "gauss":
            s2 = -(scale**2) / (2.0 * math.log(decay))
            return math.exp(-(d * d) / (2.0 * s2))
        if fn == "exp":
            return math.exp(math.log(decay) / scale * d)
        s = scale / (1.0 - decay)
        return max(0.0, (s - d) / s)

    for fn in ("gauss", "exp", "linear"):
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in idx.decay_score(q, "turn_idx", origin, scale, 10, decay, fn=fn).collect()
        ]
        want = sorted(
            ((d, round(s * mult(fn, fields[d]), 9)) for d, s in scored.items()),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        assert got == want and got, fn
        # the ES contract: multiplier is exactly `decay` at distance=scale
        assert abs(mult(fn, origin + scale) - decay) < 1e-12, fn

    r1 = [(r["doc_id"], r["score"]) for r in idx.random_score(q, seed=7, k=20).collect()]
    r2 = [(r["doc_id"], r["score"]) for r in idx.random_score(q, seed=7, k=20).collect()]
    r3 = [(r["doc_id"], r["score"]) for r in idx.random_score(q, seed=8, k=20).collect()]
    assert r1 == r2 and r1 != r3
    assert all(0.0 <= s < 1.0 for _, s in r1)
    assert {d for d, _ in r1} <= set(scored)


def test_script_score_and_mget(spark, built_index):
    """script_score: arbitrary SQL over _score and doc fields, checked
    against a Python recomputation; _mget returns exactly the requested
    live docs."""
    import math

    idx, _ = built_index
    q = "w00000 w00003"
    scored = {r["doc_id"]: r["score"] for r in idx.search_oracle(q, None).collect()}
    fields = {r["doc_id"]: r["turn_idx"] for r in idx._docs_df().collect()}
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in idx.script_score(q, "_score * log1p(turn_idx) + 0.01 * turn_idx", 10).collect()
    ]
    want = sorted(
        (
            (d, round(s * math.log1p(fields[d]) + 0.01 * fields[d], 9))
            for d, s in scored.items()
        ),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert got == want and got

    rows = idx.get_docs([2, 5, 10**12]).collect()
    assert [r["doc_id"] for r in rows] == [2, 5]
    assert all("text" in r.asDict() for r in rows)


def test_expand_prefix_length_band_and_cap(spark, built_index):
    """Verdict r2 #1: multi-term expansions must be boundable — term_len is
    written into term_stats and a (lo, hi) length band is pushed into the
    pyarrow dictionary read next to the prefix range; a cap on materialized
    candidates errors loudly instead of pulling the dictionary driver-side."""
    import pyarrow.dataset as pads
    import pytest

    idx, path = built_index
    data = pads.dataset(idx._seg_whs[0].path("term_stats"), format="parquet")
    assert "term_len" in data.schema.names
    # the transcripts vocab is all 6-char wNNNNN terms: an off-band read
    # returns nothing, the exact band returns everything the prefix covers
    assert idx._expand_prefix("w0", 1 << 20, length_band=(7, 8)) == []
    in_band = idx._expand_prefix("w0", 1 << 20, length_band=(6, 6))
    assert in_band and all(len(t) == 6 for t in in_band)
    assert in_band == idx._expand_prefix("w0", 1 << 20)
    with pytest.raises(ValueError, match="exceeds"):
        idx._expand_prefix("w", 1 << 20, max_scan=5)
    # the fuzzy surface rides the band transparently
    got = idx.search_fuzzy("w0000", 5, fuzziness=1, prefix_length=1)
    assert got.count() >= 0


def test_suggest_phrase_materialized_lm_identical(spark, built_index):
    """Verdict r2 #2: with lm_unigrams/lm_bigrams materialized, the phrase
    suggester must serve from pyarrow point reads (no corpus pass) and
    produce bit-identical suggestions/scores to the on-demand path."""
    from kafka_elasticsearch_standalone_consumer_spark.index.lm import (
        build_lm_tables,
        lookup_counts,
    )

    idx, path = built_index
    q = "w00000 w0001x w00003"
    before = [(r["suggestion"], r["score"]) for r in idx.suggest_phrase(q, size=3).collect()]
    meta = build_lm_tables(spark, path)
    assert meta["n_tokens"] > 0 and meta["vocab"] > 0
    assert lookup_counts(idx.wh, ["w00000"], []) is not None
    # poison the fallback: if the on-demand corpus pass were taken the
    # suggester would raise
    orig = idx._tokens_full_df
    idx._tokens_full_df = lambda: (_ for _ in ()).throw(AssertionError("fallback taken"))
    try:
        after = [(r["suggestion"], r["score"]) for r in idx.suggest_phrase(q, size=3).collect()]
    finally:
        idx._tokens_full_df = orig
    assert after == before and after


def test_has_child_matches_python_recompute(spark, built_index):
    """has_child over the real conv_id parent key: every score_mode must
    agree with a Python recomputation over the full score set, and
    min_children must drop small parents."""
    idx, _ = built_index
    q = "w00000 w00003"
    scores = {r["doc_id"]: r["score"] for r in idx.search_oracle(q, None).collect()}
    conv = {r["doc_id"]: r["conv_id"] for r in idx._docs_df().select("doc_id", "conv_id").collect()}
    by_conv: dict[str, list[float]] = {}
    for d, s in scores.items():
        by_conv.setdefault(conv[d], []).append(s)

    def py_top(mode, min_children=1, max_children=None, k=10):
        rows = []
        for c, ss in by_conv.items():
            if len(ss) < min_children:
                continue
            if max_children is not None and len(ss) > max_children:
                continue
            v = {"max": max, "min": min, "sum": sum, "avg": lambda x: sum(x) / len(x)}[mode](ss)
            rows.append((c, v, len(ss)))
        rows.sort(key=lambda t: (-t[1], t[0]))
        return [(c, round(v, 9), n) for c, v, n in rows[:k]]

    for mode in ("max", "sum", "avg", "min"):
        got = [
            (r["conv_id"], round(r["score"], 9), r["n_hits"])
            for r in idx.search_has_child(q, 10, score_mode=mode).collect()
        ]
        assert got == py_top(mode), mode
    got2 = [
        (r["conv_id"], round(r["score"], 9), r["n_hits"])
        for r in idx.search_has_child(q, 10, score_mode="sum", min_children=3).collect()
    ]
    assert got2 == py_top("sum", min_children=3)
    assert all(n >= 3 for _, _, n in got2)
    # ES 1.3's max_children: the band [2, 3] keeps mid-sized parents only
    got3 = [
        (r["conv_id"], round(r["score"], 9), r["n_hits"])
        for r in idx.search_has_child(
            q, 10, score_mode="avg", min_children=2, max_children=3
        ).collect()
    ]
    assert got3 == py_top("avg", min_children=2, max_children=3)
    assert all(2 <= n <= 3 for _, _, n in got3)


def test_has_parent_returns_whole_conversations(spark, built_index):
    """has_parent: returned turns' conversations must each contain >=1
    matching turn, and every turn of a returned conversation is eligible
    (first-k by doc_id)."""
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    q = "w00007"
    rows = idx.search_has_parent(q, 25).collect()
    assert rows and [r["doc_id"] for r in rows] == sorted(r["doc_id"] for r in rows)
    docs = idx._docs_df().collect()
    match_convs = {r["conv_id"] for r in docs if "w00007" in tokenize_text(r["text"])}
    eligible = sorted(r["doc_id"] for r in docs if r["conv_id"] in match_convs)
    assert [r["doc_id"] for r in rows] == eligible[:25]
    assert all(r["score"] == 1.0 and r["conv_id"] in match_convs for r in rows)


def test_children_agg_matches_python_recompute(spark, built_index):
    """children agg: parent-field buckets over matching child turns must
    agree with a Python recomputation (counts + avg metric, ES terms-agg
    ordering), and an unknown-terms query returns the empty frame."""
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    q = "w00000 w00003"
    import pyspark.sql.functions as F

    docs = idx._docs_df().select("doc_id", "text", "conv_id").collect()
    parents = (
        idx._docs_df().select("conv_id").distinct()
        .select("conv_id", F.substring("conv_id", 1, 6).alias("grp"))
    )
    grp = {r["conv_id"]: r["conv_id"][:6] for r in docs}
    want: dict[str, list[int]] = {}
    qt = set(q.split())
    for r in docs:
        if qt & set(tokenize_text(r["text"])):
            want.setdefault(grp[r["conv_id"]], []).append(len(r["text"]))
    exp = sorted(
        ((g, len(v), round(sum(v) / len(v), 6)) for g, v in want.items()),
        key=lambda t: (-t[1], t[0]),
    )
    got = [
        (r["bucket"], r["n_children"], r["avg_v"])
        for r in idx.children_agg(q, parents, "grp", metric="length(text)").collect()
    ]
    assert got == exp and got
    empty = idx.children_agg("zzqqnotaterm", parents, "grp", metric="length(text)")
    assert empty.count() == 0 and empty.columns == ["bucket", "n_children", "avg_v"]


def test_suggest_complete_context(spark, built_index):
    """Context suggester: freq is the doc count WITHIN the (col, op,
    value) context — a brute Python recount over the filtered docs must
    match exactly; empty context list degrades to a live-doc recount of
    the plain completion ranking; prefix miss stays empty."""
    from collections import Counter

    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index

    def brute(pred):
        df = Counter()
        for r in idx._docs_df().select("text", "role").collect():
            if pred(r["role"]):
                for t in set(tokenize_text(r["text"])):
                    df[t] += 1
        return df

    df_user = brute(lambda role: role == "user")
    got = [
        (r["suggestion"], r["freq"])
        for r in idx.suggest_complete_context(
            "w000", [("role", "=", "user")], 5
        ).collect()
    ]
    want = sorted(
        ((t, n) for t, n in df_user.items() if t.startswith("w000")),
        key=lambda tn: (-tn[1], tn[0]),
    )[:5]
    assert got == want and got
    # no context = plain live-doc counts, same ranking rule
    df_all = brute(lambda role: True)
    got_all = [
        (r["suggestion"], r["freq"])
        for r in idx.suggest_complete_context("w000", [], 5).collect()
    ]
    want_all = sorted(
        ((t, n) for t, n in df_all.items() if t.startswith("w000")),
        key=lambda tn: (-tn[1], tn[0]),
    )[:5]
    assert got_all == want_all
    assert idx.suggest_complete_context("zzz", [("role", "=", "user")], 5).count() == 0


def test_suggest_phrase_collate_prunes_unmatched(spark, built_index):
    """ES collate: a collated suggestion list is exactly the uncollated
    ranking filtered to suggestions whose terms co-occur in some live
    doc, in the same order — and every survivor really matches."""
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    text = idx._docs_df().select("text").first()["text"]
    toks = tokenize_text(text)
    q = f"{toks[0]} {toks[1][:-1]}x"  # second slot misspelled
    # fetch the raw ranking DEEP so collate's walk-until-k-survivors
    # promotion (a pruned candidate admits the next-ranked one) is
    # reproduced exactly
    plain = [(r["suggestion"], r["score"]) for r in
             idx.suggest_phrase(q, size=50, gen_size=8).collect()]
    coll = [(r["suggestion"], r["score"]) for r in
            idx.suggest_phrase(q, size=5, gen_size=8, collate=True).collect()]
    assert plain, "need at least one raw suggestion for the collate test"

    def matches(phrase):
        ts = phrase.split()
        d = idx._local_match_set(ts, len(set(ts)))
        return len(d) > 0

    want = [(s, v) for s, v in plain if matches(s)][:5]
    assert coll == want
    assert all(matches(s) for s, _ in coll)


def test_suggest_complete_fuzzy(spark, built_index):
    """ES 1.4 fuzzy completion: j-window damerau acceptance vs a pure-
    Python recompute over the corpus dictionary; short inputs stay
    exact (min_length), prefix_length guard raises."""
    from collections import Counter

    import pytest

    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text
    from kafka_elasticsearch_standalone_consumer_spark.query.engine import (
        _damerau_levenshtein,
    )

    idx, _ = built_index
    df = Counter()
    for r in idx._docs_df().select("text").collect():
        for t in set(tokenize_text(r["text"])):
            df[t] += 1

    prefix, f = "w0q01", 1
    lp = len(prefix)

    def accepts(t):
        if t[0] != prefix[0] or len(t) < lp - f:
            return False
        return any(
            _damerau_levenshtein(prefix, t[: j], f) <= f
            for j in range(max(lp - f, 1), lp + f + 1)
        )

    want = sorted(
        ((t, n) for t, n in df.items() if accepts(t)),
        key=lambda tn: (-tn[1], tn[0]),
    )[:5]
    got = [
        (r["suggestion"], r["freq"])
        for r in idx.suggest_complete(prefix, 5, fuzziness=1).collect()
    ]
    assert got == want and got  # the typo'd prefix must still complete

    # below min_length the input stays exact: no fuzzy matches for "zz"
    assert idx.suggest_complete("zz", 5, fuzziness=1).count() == 0
    with pytest.raises(ValueError, match="prefix_length"):
        idx.suggest_complete("w0q01", 5, fuzziness=1, prefix_length=0)


def test_terminate_after_per_shard_collection(spark, built_index):
    """terminate_after: eligible set = first N matching doc_ids per shard
    (python recount), scores stay global, flag true iff some shard hit
    the cap; a cap above every shard's match count reproduces plain
    search with flag false."""
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx, _ = built_index
    q = "w00000 w00003"
    dps = int(idx.meta["docs_per_shard"])
    full = {r["doc_id"]: r["score"] for r in idx.search(q, 10**6).collect()}
    by_shard = {}
    for d in sorted(full):
        by_shard.setdefault(d // dps, []).append(d)
    n = 2
    eligible = {d for ds in by_shard.values() for d in ds[:n]}
    want = sorted(
        ((d, round(full[d], 9)) for d in eligible),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    got = idx.search_terminate_after(q, 10, terminate_after=n).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == want
    assert all(r["terminated_early"] for r in got)
    assert any(len(ds) > n for ds in by_shard.values())

    big = idx.search_terminate_after(q, 10, terminate_after=10**6).collect()
    plain = idx.search(q, 10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in big] == [
        (r["doc_id"], round(r["score"], 9)) for r in plain
    ]
    assert not any(r["terminated_early"] for r in big)

    import pytest as _pt

    with _pt.raises(ValueError, match="terminate_after"):
        idx.search_terminate_after(q, 10, terminate_after=0)
