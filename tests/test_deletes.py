"""Delete tombstones (Lucene live-docs semantics): deleted docs vanish from
every query surface immediately, surviving docs keep their PRE-delete
scores (stats frozen), and compaction purges tombstones and re-bakes stats
exactly like a fresh build over the survivors."""

from __future__ import annotations

import pytest

from kafka_elasticsearch_standalone_consumer_spark.corpus import generate_transcripts
from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index
from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
    compact,
    delete_docs,
)
from kafka_elasticsearch_standalone_consumer_spark.query.engine import Index

K = 10
Q = "w00000 w00003"


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


@pytest.fixture(scope="module")
def deleted_wh(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("del") / "idx")
    tr = generate_transcripts(spark, n_convs=80, seed=21, partitions=4)
    build_index(spark, tr, path, docs_per_shard=256, n_buckets=8, positions=True)
    before = {
        "bmw": _rows(Index(spark, path).search(Q, 50)),
        "oracle": _rows(Index(spark, path).search_oracle(Q, 50)),
    }
    n = delete_docs(spark, path, "role = 'tool'")
    assert n > 0
    return path, before, n


def test_deleted_docs_gone_scores_frozen(spark, deleted_wh):
    path, before, _n = deleted_wh
    idx = Index(spark, path)
    tool_ids = {r["doc_id"] for r in idx._docs_df().filter("role = 'tool'").collect()}
    survivors = [(d, s) for d, s in before["bmw"] if d not in tool_ids][:K]
    for mode in ("bmw", "exact"):
        got = _rows(idx.search(Q, K, mode=mode))
        assert got == survivors, mode  # same docs, same (frozen) scores
    assert _rows(idx.search_oracle(Q, K)) == survivors
    assert idx.stats()["n_deleted"] > 0


def test_deletes_compose_with_filters_and_batch(spark, deleted_wh):
    path, _before, _n = deleted_wh
    idx = Index(spark, path)
    got = idx.fetch(idx.search(Q, K, where="role <> 'user'")).collect()
    assert got and all(r["role"] == "assistant" for r in got)  # tool deleted
    batch = idx.search_many({"a": Q}, K).collect()
    single = _rows(idx.search(Q, K))
    assert sorted((r["doc_id"], round(r["score"], 9)) for r in batch) == sorted(single)
    # facets and phrase surfaces exclude tombstones too
    roles = {r["role"] for r in idx.facets(Q, by="role").collect()}
    assert "tool" not in roles


def test_dis_max_one_clause_equals_search_under_tombstones(spark, deleted_wh, placements):
    """dis_max always runs on the executors, through the blocked mask
    (tombstones only) or the allowed mask (a filter); one clause scores
    exactly like search in either placement."""
    path, before, _n = deleted_wh
    idx = Index(spark, path)
    tool_ids = {r["doc_id"] for r in idx._docs_df().filter("role = 'tool'").collect()}
    assert {d for d, _ in before["bmw"]} & tool_ids  # the mask has work to do
    for placement in placements():
        for where in (None, "role <> 'user'"):
            got = _rows(idx.search_dis_max([Q], k=50, where=where))
            assert got and not {d for d, _ in got} & tool_ids, (placement, where)
            assert got == _rows(idx.search(Q, 50, where=where)), (placement, where)


def _mixed_phrase(rows) -> str:
    """A bigram that occurs in tool turns (all deleted) AND in live turns."""
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    roles_by_bigram: dict[str, set] = {}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        toks = tokenize_text(r["text"])
        for a, b in zip(toks, toks[1:]):
            roles_by_bigram.setdefault(f"{a} {b}", set()).add(r["role"] == "tool")
    return next(p for p, kinds in roles_by_bigram.items() if kinds == {True, False})


def test_phrase_excludes_tombstones(spark, deleted_wh):
    """A phrase that occurs in deleted tool turns AND in live turns: the
    position kernel drops the tombstoned matches (df stays frozen), equal
    to the oracle and to the serving twin."""
    path, _before, _n = deleted_wh
    idx = Index(spark, path)
    rows = idx._docs_df().select("doc_id", "text", "role").collect()
    tool_ids = {r["doc_id"] for r in rows if r["role"] == "tool"}
    phrase = _mixed_phrase(rows)
    got = _rows(idx.search_phrase(phrase, K))
    assert got and not {d for d, _ in got} & tool_ids
    assert got == _rows(idx.search_phrase_oracle(phrase, K))
    assert got == [(d, round(s, 9)) for d, s in idx.search_phrase_local(phrase, K)]


def test_every_spark_surface_drops_tombstones_and_honours_where(spark, deleted_wh):
    """Sweep of the doc-returning Spark surfaces: none returns a tombstoned
    doc, and each ``where``-taking one, called again with ``where``,
    returns only docs that pass it. The surfaces with no ``where`` run
    unfiltered; search_bool takes its filter as a (column, value) clause.
    search_has_parent's ``where`` scopes the matching parents, not the
    returned turns, so only its tombstones are checked; search_nested
    needs a nested column this corpus lacks and is left to test_nested."""
    from kafka_elasticsearch_standalone_consumer_spark.query.multisearch import MultiIndex

    path, _before, _n = deleted_wh
    idx = Index(spark, path)
    rows = idx._docs_df().select("doc_id", "text", "role").collect()
    role = {r["doc_id"]: r["role"] for r in rows}
    tool_ids = {d for d, ro in role.items() if ro == "tool"}
    every = sorted(role)
    phrase = _mixed_phrase(rows)
    n = len(every)
    alias = MultiIndex([idx, idx])
    where_surfaces = {
        "search": lambda w: idx.search(Q, n, where=w),
        "search_oracle": lambda w: idx.search_oracle(Q, n, where=w),
        "search_phrase": lambda w: idx.search_phrase(phrase, n, where=w),
        "search_phrase_oracle": lambda w: idx.search_phrase_oracle(phrase, n, where=w),
        "search_named": lambda w: idx.search_named({"a": "w00000", "b": "w00003"}, n, where=w),
        "search_post_filter": lambda w: idx.search_post_filter(Q, "turn_idx >= 0", n, where=w),
        "search_prefix": lambda w: idx.search_prefix("w0000", n, where=w),
        "search_terms": lambda w: idx.search_terms(["w00000", "w00003"], n, where=w),
        "constant_score": lambda w: idx.constant_score(where=w, k=n),
        "constant_score_query": lambda w: idx.constant_score(Q, where=w, k=n),
        "msearch_qtf": lambda w: alias.search(Q, n, where=w),
        "msearch_dfs": lambda w: alias.search(Q, n, mode="dfs_query_then_fetch", where=w),
        "indices_query": lambda w: alias.indices_query([0], Q, "all", 2 * n, where=w),
        "search_bool": lambda w: idx.search_bool(
            should=[Q], phrases=[(phrase, 0)],
            filters=None if w is None else [("role", "assistant")], k=n,
        ),
    }
    plain_surfaces = {
        "search_has_parent": lambda: idx.search_has_parent(Q, n, where="role <> 'user'"),
        "search_params": lambda: idx.search_params(Q, n, k1=1.6, b=0.25),
        "search_ids": lambda: idx.search_ids(every, n),
        "get_docs": lambda: idx.get_docs(every),
        "match_all": lambda: idx.match_all(n),
        "search_exists": lambda: idx.search_exists("tool", n),
        "search_missing": lambda: idx.search_missing("tool", n),
        "percolate": lambda: idx.percolate([(1, "w00000"), (2, "w00003")]),
    } | {
        f"search_similarity[{sim}]": (lambda sim=sim: idx.search_similarity(Q, n, similarity=sim))
        for sim in ("classic", "lm_dirichlet", "lm_jm", "dfr_inl2", "ib_ll")
    }
    calls = [(name, None, f) for name, f in plain_surfaces.items()]
    for name, f in where_surfaces.items():
        calls += [(name, None, lambda f=f: f(None)), (name, "role <> 'user'", lambda f=f: f("role <> 'user'"))]
    bad, returned = [], 0
    for name, where, call in calls:
        got = [r["doc_id"] for r in call().collect()]
        returned += len(got)
        dead = sorted(set(got) & tool_ids)
        if dead:
            bad.append((name, where, f"{len(dead)} tombstoned"))
        if where is not None and any(role[d] == "user" for d in got):
            bad.append((name, where, "fails the filter"))
    assert returned and not bad, bad


def test_compact_purges_tombstones(spark, deleted_wh, tmp_path):
    path, _before, _n = deleted_wh
    idx0 = Index(spark, path)
    keys_before = {
        (r["conv_id"], r["turn_idx"])
        for r in idx0.search(Q, K).join(idx0.doc_keys(), "doc_id").collect()
    }
    compact(spark, path)
    idx = Index(spark, path)
    assert idx.stats()["n_deleted"] == 0
    assert idx._docs_df().filter("role = 'tool'").count() == 0
    # equal to a one-shot build over the survivors (stats re-baked)
    ref = str(tmp_path / "ref")
    survivors = generate_transcripts(spark, n_convs=80, seed=21, partitions=4).filter(
        "role <> 'tool'"
    )
    build_index(spark, survivors, ref, docs_per_shard=256, n_buckets=8, positions=True)
    ridx = Index(spark, ref)
    want = {
        (r["conv_id"], r["turn_idx"], round(r["score"], 6))
        for r in ridx.search(Q, K).join(ridx.doc_keys(), "doc_id").collect()
    }
    got = {
        (r["conv_id"], r["turn_idx"], round(r["score"], 6))
        for r in idx.search(Q, K).join(idx.doc_keys(), "doc_id").collect()
    }
    assert got == want
    assert {(c, t) for c, t, _ in got} <= keys_before | {(c, t) for c, t, _ in want}


def test_delete_by_query_matches_count_and_replays_noop(spark, tmp_path):
    """ES 1.x DELETE /_query: the tombstoned set is exactly the live
    match set (msm respected, where= respected), a replay is a no-op,
    and survivors keep frozen scores until compact purges."""
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
        delete_by_query,
    )

    path = str(tmp_path / "dbq")
    tr = generate_transcripts(spark, n_convs=20, seed=31, partitions=2)
    build_index(spark, tr, path, docs_per_shard=256, n_buckets=8)
    idx = Index(spark, path)
    q = "w00000 w00003"
    n_scope = idx.count_matches(q, where="role = 'tool'", min_should_match=2).collect()[0]["n"]
    assert n_scope > 0
    probe_before = _rows(Index(spark, path).search("w00001 w00002", 50))
    assert delete_by_query(spark, path, q, where="role = 'tool'", min_should_match=2) == n_scope
    idx2 = Index(spark, path)
    assert idx2.count_matches(q, where="role = 'tool'", min_should_match=2).collect()[0]["n"] == 0
    # survivors of an unrelated query keep their exact pre-delete scores
    # (docs promoted into the post-delete top-k are new entries, not drift)
    before_map = dict(probe_before)
    for d, s in _rows(idx2.search("w00001 w00002", 50)):
        assert d not in before_map or before_map[d] == s
    # replay and empty-query are no-ops
    assert delete_by_query(spark, path, q, where="role = 'tool'", min_should_match=2) == 0
    assert delete_by_query(spark, path, "...") == 0
    compact(spark, path)
    idx3 = Index(spark, path)
    assert idx3.stats()["n_deleted"] == 0
    assert idx3.count_matches(q, where="role = 'tool'", min_should_match=2).collect()[0]["n"] == 0


def test_delete_docs_returns_delta(spark, tmp_path):
    """ADVICE r01: a second overlapping delete reports only the NEW
    tombstones, not the cumulative table size."""
    path = str(tmp_path / "ddelta")
    tr = generate_transcripts(spark, n_convs=20, seed=31, partitions=2)
    build_index(spark, tr, path, docs_per_shard=256, n_buckets=8)
    n_tool = Index(spark, path)._docs_df().filter("role = 'tool'").count()
    n_all = Index(spark, path)._docs_df().count()
    assert delete_docs(spark, path, "role = 'tool'") == n_tool
    # overlapping predicate: tool docs are already tombstoned
    assert delete_docs(spark, path, "role IN ('tool', 'user')") == (
        Index(spark, path)._docs_df().filter("role = 'user'").count()
    )
    assert delete_docs(spark, path, "role = 'tool'") == 0
    assert Index(spark, path).stats()["n_deleted"] < n_all
