"""Driver-side serving path (search_local): must be rank- AND
score-identical to the distributed search() on every mode, honor delete
tombstones and multi-segment baked-avgdl bounds, and serve ephemeral
indexes (a temporary warehouse) like any other."""

from __future__ import annotations

import gc

import pytest

from kafka_elasticsearch_standalone_consumer_spark.corpus import generate_transcripts
from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index
from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
    append_segment,
    delete_docs,
)
from kafka_elasticsearch_standalone_consumer_spark.query.engine import Index, _filters_to_sql

Q = "w00000 w00003 w00015"


def _dist(idx, q, mode):
    return [(r["doc_id"], round(r["score"], 10)) for r in idx.search(q, 10, mode=mode).collect()]


def _loc(idx, q, mode):
    return [(d, round(s, 10)) for d, s in idx.search_local(q, 10, mode=mode)]


def test_local_identical_to_distributed(spark, built_index, placements):
    idx, _ = built_index
    for placement in placements():
        for mode in ("bmw", "exact", "intersect"):
            dist = _dist(idx, Q, mode)
            assert _loc(idx, Q, mode) == dist, (placement, mode)
            assert dist, mode  # all three modes must actually match docs
    assert idx.search_local("zzabsent", 10) == []
    assert idx.search_local("", 10) == []


def test_local_intersect_plans_once(spark, built_index, monkeypatch):
    """search_local(mode='intersect') reads the term dictionary once: the
    plan its conjunction check made is the plan the kernel scores."""
    idx, _ = built_index
    calls = []
    orig = Index._plan_terms

    def counted(self, *a, **kw):
        calls.append(a)
        return orig(self, *a, **kw)

    monkeypatch.setattr(Index, "_plan_terms", counted)
    assert idx.search_local(Q, 10, mode="intersect")
    assert len(calls) == 1


def test_local_with_segments_and_deletes(spark, transcripts, tmp_path, placements):
    wh = str(tmp_path / "idx")
    build_index(spark, transcripts, wh, docs_per_shard=256, n_buckets=8)
    append_segment(
        spark, generate_transcripts(spark, n_convs=30, seed=7), wh, idempotency_key="s1"
    )
    idx = Index(spark, wh)
    top = idx.search_local(Q, 10)
    for placement in placements():
        assert _loc(idx, Q, "bmw") == _dist(idx, Q, "bmw"), placement
    # tombstone the current best hit: both paths must drop it, scores frozen
    delete_docs(spark, wh, f"doc_id = {top[0][0]}")
    idx = Index(spark, wh)
    for placement in placements():
        loc, dist = _loc(idx, Q, "bmw"), _dist(idx, Q, "bmw")
        assert loc == dist, placement
        assert top[0][0] not in {d for d, _ in loc}


def test_local_serves_ephemeral(spark, transcripts, placements):
    idx = Index.ephemeral(
        transcripts.selectExpr("row_number() OVER (ORDER BY conv_id, turn_idx) AS doc_id", "text"),
        docs_per_shard=256,
        n_buckets=8,
    )
    for placement in placements():
        for mode in ("bmw", "exact", "intersect"):
            dist = _dist(idx, Q, mode)
            assert _loc(idx, Q, mode) == dist and dist, (placement, mode)


# -- round-3 serving surfaces: filters, phrase, mget ----------------------


def test_local_filtered_identical(spark, built_index):
    """search_local(where=) must equal search(where=) — same allowed-set
    semantics (scores unchanged for survivors, idf global) on every mode."""
    idx, _ = built_index
    for mode in ("bmw", "exact", "intersect"):
        dist = [
            (r["doc_id"], round(r["score"], 10))
            for r in idx.search(Q, 10, mode=mode, where="role = 'user'").collect()
        ]
        loc = [
            (d, round(s, 10))
            for d, s in idx.search_local(Q, 10, mode=mode, where=[("role", "=", "user")])
        ]
        assert loc == dist, mode
        assert dist, mode
    # conjunction + IN, against the equivalent SQL
    dist = [
        (r["doc_id"], round(r["score"], 10))
        for r in idx.search(
            Q, 10, where="role IN ('user','assistant') AND turn_idx >= 1"
        ).collect()
    ]
    loc = [
        (d, round(s, 10))
        for d, s in idx.search_local(
            Q, 10, where=[("role", "in", ("user", "assistant")), ("turn_idx", ">=", 1)]
        )
    ]
    assert loc == dist
    assert idx.search_local(Q, 10, where=[("role", "=", "nosuchrole")]) == []
    with pytest.raises(ValueError, match="unsupported local filter op"):
        idx.search_local(Q, 10, where=[("role", "like", "u%")])


@pytest.fixture(scope="module")
def local_pos_wh(spark, transcripts, tmp_path_factory):
    """Positions index + an appended segment + one tombstone, for the
    local phrase/mget surfaces (multi-segment: baked-avgdl + pruned reads
    must span segments)."""
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index

    wh = str(tmp_path_factory.mktemp("locpos") / "idx")
    build_index(spark, transcripts, wh, docs_per_shard=256, n_buckets=8, positions=True)
    append_segment(
        spark, generate_transcripts(spark, n_convs=30, seed=7), wh, idempotency_key="s1"
    )
    return wh


def _phrase_from(idx):
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    row = idx._docs_df().orderBy("doc_id").select("text").first()
    toks = tokenize_text(row["text"])
    return " ".join(toks[1:3])


def test_local_phrase_identical(spark, local_pos_wh):
    idx = Index(spark, local_pos_wh)
    phrase = _phrase_from(idx)
    for slop in (0, 1):
        dist = [
            (r["doc_id"], r["score"])
            for r in idx.search_phrase(phrase, 10, slop=slop).collect()
        ]
        loc = idx.search_phrase_local(phrase, 10, slop=slop)
        assert loc == dist, slop
        assert dist, slop
    assert idx.search_phrase_local("zzabsent w00000", 10) == []


def test_local_phrase_filter_and_deletes(spark, local_pos_wh):
    idx = Index(spark, local_pos_wh)
    phrase = _phrase_from(idx)
    dist = [
        (r["doc_id"], r["score"])
        for r in idx.search_phrase(phrase, 10, where="role IN ('user','assistant')").collect()
    ]
    loc = idx.search_phrase_local(phrase, 10, where=[("role", "in", ("user", "assistant"))])
    assert loc == dist
    # tombstone the best hit: both paths drop it, scores stay frozen
    # (phrase df is counted over unmasked matches)
    top = idx.search_phrase_local(phrase, 10)
    delete_docs(spark, idx.wh.root, f"doc_id = {top[0][0]}")
    idx = Index(spark, local_pos_wh)
    loc = idx.search_phrase_local(phrase, 10)
    dist = [
        (r["doc_id"], r["score"]) for r in idx.search_phrase(phrase, 10).collect()
    ]
    assert loc == dist
    assert top[0][0] not in {d for d, _ in loc}


def test_local_mget(spark, local_pos_wh):
    idx = Index(spark, local_pos_wh)
    ids = [1, 3, 5, 10**9]  # last one missing → silently absent
    dist = idx.get_docs(ids).collect()
    loc = idx.get_docs_local(ids)
    assert [r["doc_id"] for r in loc] == [r["doc_id"] for r in dist]
    assert [r["text"] for r in loc] == [r["text"] for r in dist]
    assert loc and 10**9 not in [r["doc_id"] for r in loc]
    delete_docs(spark, idx.wh.root, "doc_id = 3")
    idx = Index(spark, local_pos_wh)
    loc = idx.get_docs_local(ids)
    assert [r["doc_id"] for r in loc] == [r["doc_id"] for r in idx.get_docs(ids).collect()]
    assert 3 not in [r["doc_id"] for r in loc]
    assert idx.get_docs_local([]) == []


def test_local_terms_and_constant_score_identical(spark, built_index):
    """Serving-path constant-score family: search_terms_local ≡
    search_terms, constant_score_local covers ids/exists/filter forms —
    same ids, same boost, doc_id ascending, tombstone-aware."""
    idx, _ = built_index
    vals = ["w00000", "w00005"]
    dist = [(r["doc_id"], r["score"]) for r in idx.search_terms(vals, 10_000).collect()]
    loc = idx.search_terms_local(vals, 10_000)
    assert loc == dist and loc
    # values are lowercased on both sides, like the analyzed index terms
    upper = [v.upper() for v in vals]
    assert idx.search_terms_local(upper, 10_000) == dist
    assert [(r["doc_id"], r["score"]) for r in idx.search_terms(upper, 10_000).collect()] == dist
    # k truncation + boost + absent terms
    assert idx.search_terms_local(vals, 3) == dist[:3]
    assert idx.search_terms_local(["zzabsent"], 10) == []
    assert [s for _, s in idx.search_terms_local(vals, 5, boost=2.5)] == [2.5] * 5
    # where= tuples restrict like the distributed where=
    locw = idx.search_terms_local(vals, 10_000, where=[("turn_idx", ">=", 3)])
    distw = [
        (r["doc_id"], r["score"])
        for r in idx._constant_score_multi_term(vals, 10_000, "turn_idx >= 3").collect()
    ]
    assert locw == distw and locw

    # ids form
    want = [(r["doc_id"], r["score"]) for r in idx.search_ids([5, 9, 14, 10**9], 10).collect()]
    got = idx.constant_score_local([("doc_id", "in", [5, 9, 14, 10**9])], 10)
    assert got == want and got
    # filtered match_all form
    want_f = [
        (r["doc_id"], r["score"])
        for r in idx.constant_score(where="turn_idx = 0", k=7, boost=3.0).collect()
    ]
    assert idx.constant_score_local([("turn_idx", "=", 0)], 7, boost=3.0) == want_f
    # exists/missing ops exist on the tuple surface (no NULLs in fixture:
    # notnull keeps everything, isnull keeps nothing)
    n_live = idx._docs_df().count()
    assert len(idx.constant_score_local([("role", "notnull", None)], 10**9)) == n_live
    assert idx.constant_score_local([("role", "isnull", None)], 10) == []


def test_local_terms_honors_tombstones(spark, transcripts, tmp_path):
    wh = str(tmp_path / "idx")
    build_index(spark, transcripts, wh, docs_per_shard=256, n_buckets=8)
    idx = Index(spark, wh)
    vals = ["w00000"]
    first = idx.search_terms_local(vals, 5)[0][0]
    delete_docs(spark, wh, f"doc_id = {first}")
    idx = Index(spark, wh)
    assert first not in {d for d, _ in idx.search_terms_local(vals, 10_000)}
    assert first not in {
        d for d, _ in idx.constant_score_local([("doc_id", "in", [first])], 10)
    }


def test_local_bool_identical(spark, local_pos_wh):
    """search_bool_local must match search_bool on every clause shape:
    ranked ids exact, scores approx (clause sums associate differently)."""
    import pytest as _pytest

    idx = Index(spark, local_pos_wh)
    phrase = _phrase_from(idx)

    def dist(**kw):
        return [(r["doc_id"], r["score"]) for r in idx.search_bool(k=10, **kw).collect()]

    def check(loc, want):
        assert [d for d, _ in loc] == [d for d, _ in want] and loc
        for (_, s), (_, w) in zip(loc, want):
            assert s == _pytest.approx(w)

    # should-only terms (pure kernel path both sides: exact equality)
    assert idx.search_bool_local(should=[Q], k=10) == dist(should=[Q])
    # must restricts AND scores; must_not excludes; field filter
    check(
        idx.search_bool_local(
            should=["w00000"], must=["w00003"], must_not=["w00015"],
            where=[("role", "=", "user")], k=10,
        ),
        dist(
            should=["w00000"], must=["w00003"], must_not=["w00015"],
            filters=[("role", "user")],
        ),
    )
    # mixed terms + phrase clause (bool-should sum of full score sets)
    check(
        idx.search_bool_local(should=["w00000"], phrases=[(phrase, 0)], k=10),
        dist(should=["w00000"], phrases=[(phrase, 0)]),
    )
    # pure phrase through the bool surface == the phrase serving path
    assert idx.search_bool_local(phrases=[(phrase, 1)], k=10) == [
        (d, _pytest.approx(s)) for d, s in idx.search_phrase_local(phrase, 10, slop=1)
    ]
    # empty / absent shapes
    assert idx.search_bool_local(k=10) == []
    assert idx.search_bool_local(should=["zzabsent"], k=10) == []
    assert idx.search_bool_local(should=[Q], must=["zzabsent"], k=10) == []


def test_local_bool_tombstones_and_ephemeral(spark, transcripts, tmp_path):
    wh = str(tmp_path / "idx")
    build_index(spark, transcripts, wh, docs_per_shard=256, n_buckets=8)
    idx = Index(spark, wh)
    top = idx.search_bool_local(should=[Q], k=1)[0][0]
    delete_docs(spark, wh, f"doc_id = {top}")
    idx = Index(spark, wh)
    survivors = idx.search_bool_local(should=[Q], k=10_000)
    assert top not in {d for d, _ in survivors} and survivors
    eph = Index.ephemeral(
        transcripts.selectExpr(
            "row_number() OVER (ORDER BY conv_id, turn_idx) AS doc_id", "text"
        ),
        docs_per_shard=256,
        n_buckets=8,
    )
    want = [(r["doc_id"], r["score"]) for r in eph.search_bool(should=[Q], k=10).collect()]
    assert eph.search_bool_local(should=[Q], k=10) == want and want


def test_simple_query_string_local_identical(spark, local_pos_wh):
    """simple_query_string_local == simple_query_string (distributed) on
    every clause shape: OR, AND, negation, phrase+slop, prefix, and the
    conjunctive+prefix restriction — rank AND score identical (multi-
    segment positions index, so baked-avgdl and pruned reads are live)."""
    idx = Index(spark, local_pos_wh)
    queries = [
        "w00000 | w00003 | w00015",                 # pure OR
        "w00000 + w00003",                          # conjunctive
        "w00000 w00003 -w00015",                    # negation
        '"w00000 w00003"~2 w00015',                 # phrase + term mix
        "w00000 w0001*",                            # prefix constant clause
        "w00000 + w0001*",                          # prefix restricts under AND
        "w0001*",                                   # prefix alone
        "-w00000 w00003",                           # leading negation
    ]
    for q in queries:
        dist = [
            (r["doc_id"], round(r["score"], 10))
            for r in idx.simple_query_string(q, 10).collect()
        ]
        loc = [(d, round(s, 10)) for d, s in idx.simple_query_string_local(q, 10)]
        assert loc == dist, q
        assert dist, q  # every probe must actually match docs
    # default_operator threads through identically
    dist = [
        (r["doc_id"], round(r["score"], 10))
        for r in idx.simple_query_string("w00000 w00003", 10, default_operator="and").collect()
    ]
    loc = [
        (d, round(s, 10))
        for d, s in idx.simple_query_string_local("w00000 w00003", 10, default_operator="and")
    ]
    assert loc == dist and dist
    # absent terms / empty query -> empty, no crash
    assert idx.simple_query_string_local("zzabsent", 10) == []
    assert idx.simple_query_string_local("", 10) == []


def test_prefix_wildcard_local_identical(spark, local_pos_wh):
    """search_prefix_local / search_wildcard_local == their distributed
    twins: same expansions, same constant score, same doc_id-asc first-k."""
    idx = Index(spark, local_pos_wh)
    dist_p = [
        (r["doc_id"], r["score"])
        for r in idx.search_prefix("w0001", 15).collect()
    ]
    loc_p = idx.search_prefix_local("w0001", 15)
    assert loc_p == dist_p and loc_p
    dist_w = [
        (r["doc_id"], r["score"])
        for r in idx.search_wildcard("w0?00*", 15).collect()
    ]
    loc_w = idx.search_wildcard_local("w0?00*", 15)
    assert loc_w == dist_w and loc_w
    with pytest.raises(ValueError):
        idx.search_wildcard_local("*w00", 5)
    assert idx.search_prefix_local("zzqq", 5) == []


def test_fuzzy_regexp_local_identical(spark, local_pos_wh):
    """search_fuzzy_local / search_regexp_local == their distributed
    twins: same pruned expansions (incl. the length-band pigeonhole and
    the quantifier-trimmed literal prefix), same constant score."""
    idx = Index(spark, local_pos_wh)
    dist_f = [
        (r["doc_id"], r["score"])
        for r in idx.search_fuzzy("w0000x", 15, fuzziness=1).collect()
    ]
    loc_f = idx.search_fuzzy_local("w0000x", 15, fuzziness=1)
    assert loc_f == dist_f and loc_f
    dist_r = [
        (r["doc_id"], r["score"])
        for r in idx.search_regexp("w00*1[05]", 15).collect()
    ]
    loc_r = idx.search_regexp_local("w00*1[05]", 15)
    assert loc_r == dist_r and loc_r
    with pytest.raises(ValueError):
        idx.search_fuzzy_local("w00001", 5, prefix_length=0)
    with pytest.raises(ValueError):
        idx.search_regexp_local(".*w00", 5)
    assert idx.search_fuzzy_local("x", 5, prefix_length=3) == []


def test_highlight_local_identical(spark, local_pos_wh):
    """highlight_local == highlight on the same hits: same snippet string
    (window arithmetic, ** marks, no-match head fallback), doc_id order."""
    idx = Index(spark, local_pos_wh)
    q = "w00000 w00003"
    hits = idx.search_local(q, 5)
    dist = {
        r["doc_id"]: r["snippet"]
        for r in idx.highlight(
            spark.createDataFrame(hits, "doc_id long, score double"), q
        ).collect()
    }
    loc = {r["doc_id"]: r["snippet"] for r in idx.highlight_local(hits, q)}
    assert loc == dist and loc
    assert all("**" in s for s in loc.values())
    # no-match terms: head-of-text fallback, None only for empty queries
    loc2 = idx.highlight_local(hits, "zzabsent")
    assert all(r["snippet"] == (r["text"] or "")[:80] for r in loc2)
    assert all(r["snippet"] is None for r in idx.highlight_local(hits, ""))


def test_bit_identity_across_all_paths_on_documents_corpus(spark, tmp_path, placements):
    """Regression (round 4): BM25 float sums are not associative, and the
    distributed/local/batch kernels used to consume posting runs in
    different orders — off by one ULP on THIS corpus shape (the
    documents.parquet vocabulary at docs_per_shard=128/n_buckets=16, where
    the built_index transcripts fixture happened to agree). All paths now
    accumulate per-term contributions in sorted-term order; equality here
    is EXACT, not isclose."""
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(
            "text",
            F.format_string("c%010d", F.col("doc_id")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
        )
    )
    wh = str(tmp_path / "idx")
    build_index(spark, docs, wh, docs_per_shard=128, n_buckets=16)
    idx = Index(spark, wh)
    q = "join hash filter"
    loc = idx.search_local(q, 10)
    oracle = [(r["doc_id"], r["score"]) for r in idx.search_oracle(q, 10).collect()]
    for placement in placements():
        dist = [(r["doc_id"], r["score"]) for r in idx.search(q, 10, mode="bmw").collect()]
        many = [
            (r["doc_id"], r["score"])
            for r in idx.search_many([q], 10).filter("qid = '0'").orderBy("rank").collect()
        ]
        assert dist == loc == many == oracle and dist, placement


def test_geo_distance_local_identical_to_distributed(spark, tmp_path):
    """search_geo_distance_local ≡ search_geo_distance: same allowed set
    (numpy vs codegen haversine off the boundary), same kernels, exact
    score equality."""
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(
            "text",
            F.expr("((doc_id * 937) % 17000) / 100.0 - 85.0").alias("lat"),
            F.expr("((doc_id * 1409) % 36000) / 100.0 - 180.0").alias("lon"),
            F.format_string("c%010d", F.col("doc_id")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
        )
    )
    wh = str(tmp_path / "geoidx")
    build_index(spark, docs, wh, docs_per_shard=128, n_buckets=16)
    idx = Index(spark, wh)
    q, origin, r = "join hash filter", (37.77, -122.42), 8000.0
    dist = [
        (row["doc_id"], row["score"])
        for row in idx.search_geo_distance(q, 10, origin=origin, radius_km=r).collect()
    ]
    loc = idx.search_geo_distance_local(q, 10, origin=origin, radius_km=r)
    assert loc == dist and dist
    # an ephemeral index serves the twin like any warehouse
    eph = Index.ephemeral(
        docs.select("text", "lat", "lon").withColumn(
            "doc_id", F.monotonically_increasing_id()
        ),
        docs_per_shard=128,
        n_buckets=8,
    )
    want = [
        (row["doc_id"], row["score"])
        for row in eph.search_geo_distance(q, 5, origin=origin, radius_km=r).collect()
    ]
    assert eph.search_geo_distance_local(q, 5, origin=origin, radius_km=r) == want and want


def test_local_terms_lookup_identical_and_zero_job(spark, built_index):
    """search_terms_lookup_local ≡ search_terms_lookup (ids AND scores),
    and the whole lookup query launches ZERO Spark jobs."""
    idx, _ = built_index
    lk = idx.get_docs_local([3])[0]["doc_id"]
    dist = [
        (r["doc_id"], r["score"])
        for r in idx.search_terms_lookup(lk, 10_000, max_terms=4).collect()
    ]
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    loc = idx.search_terms_lookup_local(lk, 10_000, max_terms=4)
    after = tracker.getJobIdsForGroup(None)
    assert before == after  # zero Spark jobs end to end
    assert loc == dist and loc
    assert idx.search_terms_lookup_local(10**9, 10) == []


def test_span_local_twins_identical(spark, local_pos_wh):
    """Every span-family *_local twin must be rank/score-identical to its
    distributed counterpart on the multi-segment positions warehouse
    (same kernels, same global-df policy, per-segment baked stats)."""
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    idx = Index(spark, local_pos_wh)
    toks = tokenize_text(
        idx._docs_df().orderBy("doc_id").select("text").first()["text"]
    )
    a = toks[1]
    b = next(t for t in toks[2:] if t != a)
    c = next(t for t in ("w00005", "w00007", "w00011") if t not in (a, b))

    def dist(df):
        return [(r["doc_id"], r["score"]) for r in df.collect()]

    def loc(pairs):
        return pairs

    # span_first
    for end in (2, 6):
        got = loc(idx.search_span_first_local(a, end, 10))
        assert got == dist(idx.search_span_first(a, end, k=10)), end
    # span_near unordered + ordered, with a span_or clause
    for terms, slop, in_order in (
        ([a, b], 2, False),
        ([b, a], 3, True),
        ([[a, b], c], 4, False),
    ):
        got = loc(idx.search_span_near_local(terms, slop=slop, in_order=in_order, k=10))
        want = dist(idx.search_span_near(terms, slop=slop, in_order=in_order, k=10))
        assert got == want, (terms, slop, in_order)
    # span_or
    got = loc(idx.search_span_or_local([a, b], 10))
    assert got == dist(idx.search_span_or([a, b], k=10)) and got
    # span_not
    got = loc(idx.search_span_not_local(a, b, pre=1, post=1, k=10))
    assert got == dist(idx.search_span_not(a, b, pre=1, post=1, k=10))
    # span_containing / span_within
    for slop, in_order in ((2, False), (3, True)):
        gc = loc(idx.search_span_containing_local(a, [b, c], slop=slop, in_order=in_order, k=10))
        wc = dist(idx.search_span_containing(a, [b, c], slop=slop, in_order=in_order, k=10))
        assert gc == wc, ("containing", slop, in_order)
        gw = loc(idx.search_span_within_local(a, [b, c], slop=slop, in_order=in_order, k=10))
        ww = dist(idx.search_span_within(a, [b, c], slop=slop, in_order=in_order, k=10))
        assert gw == ww, ("within", slop, in_order)
    # filter surface: tuple where= == SQL where=
    got = loc(idx.search_span_near_local([a, b], slop=3, k=10, where=[("role", "=", "user")]))
    want = dist(idx.search_span_near([a, b], slop=3, k=10, where="role = 'user'"))
    assert got == want
    # absent terms / ephemeral guardrails
    assert idx.search_span_near_local(["zzabsent", a], slop=2, k=10) == []
    with pytest.raises(ValueError, match="repeated terms"):
        idx.search_span_near_local([a, a], slop=2, in_order=False)


def test_geo_shape_local_identical_to_distributed(spark, tmp_path):
    """search_geo_shape_local ≡ search_geo_shape for every shape type and
    relation: the NumPy masks mirror the compiled SQL predicates
    expression-for-expression (the polygon parity terms bit-for-bit),
    same kernels, exact score equality."""
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(
            "text",
            F.expr("((doc_id * 937) % 17000) / 100.0 - 85.0").alias("lat"),
            F.expr("((doc_id * 1409) % 36000) / 100.0 - 180.0").alias("lon"),
            F.format_string("c%010d", F.col("doc_id")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
        )
    )
    wh = str(tmp_path / "geoshapeidx")
    build_index(spark, docs, wh, docs_per_shard=128, n_buckets=16)
    idx = Index(spark, wh)
    q = "join hash filter"
    ring = [(70.0, -170.0), (75.0, -40.0), (0.0, -30.0), (-60.0, -70.0), (-20.0, -160.0)]
    shapes = [
        {"type": "envelope", "coordinates": [[-130.0, 60.0], [-60.0, 0.0]]},
        {"type": "circle", "coordinates": [-122.42, 37.77], "radius": "8000km"},
        {"type": "polygon",
         "coordinates": [[[lo, la] for la, lo in ring] + [[ring[0][1], ring[0][0]]]]},
    ]
    n_nonempty = 0
    for shape in shapes:
        for rel in ("intersects", "disjoint"):
            dist = [
                (row["doc_id"], row["score"])
                for row in idx.search_geo_shape(
                    q, 10, shape=shape, relation=rel
                ).collect()
            ]
            loc = idx.search_geo_shape_local(q, 10, shape=shape, relation=rel)
            assert loc == dist, (shape["type"], rel)
            n_nonempty += bool(dist)
    assert n_nonempty >= 5  # the probes genuinely exercise both relations


def test_terminate_after_local_identical_to_distributed(spark, built_index):
    """search_terminate_after_local ≡ search_terminate_after: same
    eligible sets (first-N-matching per shard), identical scores, same
    terminated_early flag — for a biting cap and a non-binding one."""
    idx, _ = built_index
    q = "w00000 w00003"
    for cap in (2, 10**6):
        dist = idx.search_terminate_after(q, 10, terminate_after=cap).collect()
        d_hits = [(r["doc_id"], r["score"]) for r in dist]
        d_flag = bool(dist[0]["terminated_early"]) if dist else False
        l_hits, l_flag = idx.search_terminate_after_local(q, 10, terminate_after=cap)
        assert l_hits == d_hits and l_flag == d_flag, cap
    assert idx.search_terminate_after_local(q, 10, terminate_after=2)[1] is True
    assert idx.search_terminate_after_local("zzznope", 10, terminate_after=2) == ([], False)


def _rows(out):
    """(doc_id, score) pairs of a distributed frame or a local twin's list."""
    if isinstance(out, list):
        return out
    return [(r["doc_id"], r["score"]) for r in out.collect()]


def test_multi_term_twins_identical(spark, transcripts, tmp_path):
    """Each multi-term twin (terms, prefix, wildcard, fuzzy, regexp,
    terms lookup) returns exactly its distributed surface's rows — no
    rounding — with and without a where filter, before and after a
    tombstone."""
    from kafka_elasticsearch_standalone_consumer_spark.query.engine import _filters_to_sql

    wh = str(tmp_path / "idx")
    build_index(spark, transcripts, wh, docs_per_shard=256, n_buckets=8)
    surfaces = [
        ("search_terms", (["w00000", "W00005"], 10_000)),
        ("search_prefix", ("w0001", 10_000)),
        ("search_wildcard", ("w0?00*", 10_000)),
        ("search_fuzzy", ("w0000x", 10_000)),
        ("search_regexp", ("w00*1[05]", 10_000)),
        ("search_terms_lookup", (3, 10_000)),
    ]
    user = [("role", "=", "user")]
    for deleted in (False, True):
        idx = Index(spark, wh)
        for name, args in surfaces:
            for where in (None, user):
                sql = None if where is None else _filters_to_sql(where)
                want = _rows(getattr(idx, name)(*args, where=sql))
                got = getattr(idx, name + "_local")(*args, where=where)
                assert got == want and got, (name, where, deleted)
        if not deleted:
            first = idx.search_prefix_local("w0001", 1)[0][0]
            delete_docs(spark, wh, f"doc_id = {first}")
    assert first not in {d for d, _ in idx.search_prefix_local("w0001", 10_000)}


# (surface, args from two clause inputs a, b); the twin is surface + "_local"
_POSITIONAL = [
    ("search_phrase", lambda a, b: (f"{a} {b}",)),
    ("search_phrase_prefix", lambda a, b: (f"{a} {b}",)),  # no twin
    ("search_span_first", lambda a, b: (a, 4)),
    ("search_span_near", lambda a, b: ([a, b], 2)),
    ("search_span_or", lambda a, b: ([a, b],)),
    ("search_span_not", lambda a, b: (a, b, 1, 1)),
    ("search_span_containing", lambda a, b: (a, [b, "w00005"], 3)),
    ("search_span_within", lambda a, b: (a, [b, "w00005"], 3)),
]


@pytest.mark.parametrize("surface,make", _POSITIONAL, ids=[s for s, _ in _POSITIONAL])
def test_positional_twin_guards(spark, built_index, local_pos_wh, surface, make):
    """Every positional surface and its twin give the same outcome on the
    guard cases: a query that analyzes to nothing is empty (on an
    unpositioned index too — it is empty before the positions check), an
    absent term is empty, and a present term on an unpositioned index
    raises."""
    pos = Index(spark, local_pos_wh)
    unpos, _ = built_index
    cases = [
        (pos, "", "", "empty"),
        (pos, "zzabsent", "zzmissing", "empty"),
        (unpos, "w00000", "w00003", "raises"),
        (unpos, "", "", "empty"),
    ]
    for idx, a, b, want in cases:
        for name in (surface, surface + "_local"):
            fn = getattr(idx, name, None)
            if fn is None:
                continue
            if want == "raises":
                with pytest.raises(ValueError, match="positions"):
                    fn(*make(a, b))
            else:
                assert _rows(fn(*make(a, b))) == [], (name, a, b)
    if surface in ("search_span_near", "search_span_containing", "search_span_within"):
        for name in (surface, surface + "_local"):
            with pytest.raises(ValueError, match="repeated terms"):
                getattr(pos, name)(*make("w00005", "w00005"))


@pytest.fixture(scope="module")
def eph_pos(spark, transcripts):
    """An ephemeral positions index with a nested ``calls`` column."""
    docs = transcripts.selectExpr(
        "row_number() OVER (ORDER BY conv_id, turn_idx) AS doc_id", "text", "role",
        "array(named_struct('name', role, 'ms', CAST(turn_idx AS DOUBLE))) AS calls",
    )
    return Index.ephemeral(docs, docs_per_shard=256, n_buckets=8, positions=True)


def test_ephemeral_twins_equal_their_spark_forms(eph_pos, placements):
    """Every driver twin serves an ephemeral index and equals its Spark
    surface there, with and without ``where`` tuples."""
    idx = eph_pos
    phrase = _phrase_from(idx)

    def rows(df):
        return [(r["doc_id"], r["score"]) for r in df.collect()]

    for where in (None, [("role", "=", "user")]):
        sql = None if where is None else _filters_to_sql(where)
        for placement in placements():
            want = rows(idx.search(Q, 10, where=sql))
            assert idx.search_local(Q, 10, where=where) == want and want, (placement, where)
        filters = None if where is None else [("role", "user")]
        want = rows(idx.search_bool(should=[Q], filters=filters, k=10))
        assert idx.search_bool_local(should=[Q], where=where, k=10) == want and want, where
        want = rows(idx.constant_score(where=sql, k=10))
        assert idx.constant_score_local(where or [], k=10) == want and want, where
        want = idx.count(Q, where=sql).collect()[0]["total"]
        assert idx.count_local(Q, where=where) == want and want, where
        want = rows(idx.search_phrase(phrase, 10, where=sql))
        assert idx.search_phrase_local(phrase, 10, where=where) == want and want, where
    for inner in ([("name", "=", "user")], [("ms", ">=", 2.0)]):
        want = rows(idx.search_nested(
            Q, 10, nested_col="calls", inner_where="x." + _filters_to_sql(inner)
        ))
        got = idx.search_nested_local(Q, 10, nested_col="calls", inner=inner)
        assert got == want and want, inner
    ids = [1, 3, 5, 10**9]
    want = [(r["doc_id"], r["text"]) for r in idx.get_docs(ids).collect()]
    assert [(r["doc_id"], r["text"]) for r in idx.get_docs_local(ids)] == want and want


def test_ephemeral_frame_outlives_its_index(spark, transcripts):
    """A lazy executor-path frame still collects after its ephemeral
    Index is collected: the temporary warehouse lives until exit."""
    idx = Index.ephemeral(
        transcripts.selectExpr("row_number() OVER (ORDER BY conv_id, turn_idx) AS doc_id",
                               "text", "role"),
        docs_per_shard=256,
        n_buckets=8,
    )
    frame = idx.search(Q, 10, where="role = 'user'")
    want = frame.collect()
    del idx
    gc.collect()
    assert frame.collect() == want and want


@pytest.mark.parametrize(
    "analyzer, texts", [("whitespace", ["Foo bar", "foo Baz"]), ("keyword", ["Foo", "foo"])]
)
def test_terms_values_follow_the_index_case_rule(spark, analyzer, texts):
    """On an analyzer that keeps case, a terms query matches its values
    verbatim: the doc search('Foo') finds, on both surfaces."""
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    idx = Index.ephemeral(docs, docs_per_shard=4, n_buckets=2, analyzer=analyzer)
    want = [r["doc_id"] for r in idx.search("Foo", 10).collect()]
    dist = [(r["doc_id"], r["score"]) for r in idx.search_terms(["Foo"], 10).collect()]
    assert idx.search_terms_local(["Foo"], 10) == dist
    assert [d for d, _ in dist] == want == [0]
