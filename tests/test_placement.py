"""Cost-based placement of search() / search_many(): small queries whose
mask compiles on the driver (none, or a SQL where Spark's own pushdown
translation expresses whole) run on the driver and return an Arrow
LocalRelation (zero Spark jobs to collect), everything else runs on the
executors, and both placements return bit-identical rows. Also: empty
results are zero-job frames with unchanged schemas, and an open Index is a
snapshot even though its Spark views are built lazily."""

from __future__ import annotations

import pytest

from kafka_elasticsearch_standalone_consumer_spark.corpus import (
    generate_transcripts,
    reference_queries,
)
from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index
from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
    append_segment,
    delete_docs,
)
from kafka_elasticsearch_standalone_consumer_spark.query.engine import (
    MANY_SCHEMA,
    TOPK_SCHEMA,
    Index,
)

Q = "w00000 w00003 w00015"


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_driver_placement_launches_zero_jobs(spark, built_index, default_query_placement):
    idx, _ = built_index
    idx.search(Q, 10).collect()  # warm the term-dictionary reads
    before = _jobs(spark)
    hits = idx.search(Q, 10).collect()
    many = idx.search_many([Q, "w00001 w00002", "zzabsent"], 10).collect()
    absent = idx.search("zzabsent", 10).collect()
    assert _jobs(spark) == before
    assert hits and many and absent == []
    assert {r["qid"] for r in many} == {"0", "1"}


def test_ineligible_queries_stay_on_executors(spark, built_index, default_query_placement):
    """A SQL where that compiles runs on the driver: zero Spark jobs
    counted from a freshly opened Index (the open, the where's compile
    and the doc mask included). A where Spark cannot translate whole and
    min_should_match > 1 keep the Spark job path (their masks are
    DataFrames)."""
    _, wh = built_index
    before = _jobs(spark)
    idx = Index(spark, wh)
    assert idx.search(Q, 10, where="role = 'user'").collect()
    assert _jobs(spark) == before
    for kw in ({"where": "turn_idx % 2 = 0"}, {"min_should_match": 2}):
        before = _jobs(spark)
        assert idx.search(Q, 10, **kw).collect()
        assert _jobs(spark) > before, kw


@pytest.fixture(scope="module")
def deleted_wh(spark, transcripts, tmp_path_factory):
    """Two segments plus tombstones on both: two of the best hits of the
    base and the best hit of the appended segment."""
    wh = str(tmp_path_factory.mktemp("placement") / "idx")
    build_index(spark, transcripts, wh, docs_per_shard=256, n_buckets=8)
    base = set(Index(spark, wh)._local_mask([])[0].tolist())
    append_segment(
        spark, generate_transcripts(spark, n_convs=30, seed=7), wh, idempotency_key="s1"
    )
    top = [d for d, _ in Index(spark, wh).search_local(Q, 100, mode="exact")]
    dead = [d for d in top if d in base][:2] + [d for d in top if d not in base][:1]
    assert len(dead) == 3
    delete_docs(spark, wh, f"doc_id IN ({', '.join(map(str, dead))})")
    return wh


# SQL wheres that compile to a driver mask, with their tuple twins
WHERES = {
    "role = 'user'": [("role", "=", "user")],
    "role <> 'user' AND turn_idx >= 1": [("role", "!=", "user"), ("turn_idx", ">=", 1)],
}


def test_placements_bit_identical(spark, deleted_wh, placements):
    """Exact equality (no rounding) of (doc_id, score) across placements,
    for every mode, with tombstones on both segments and with min_score
    set; filtered queries also equal search_local with the tuple twins,
    and on the driver they run no Spark job."""
    idx = Index(spark, deleted_wh)
    assert idx._local_blocked() is not None
    queries = [Q] + [q["query"] for q in reference_queries(8)]
    floor = idx.search_local(Q, 10, mode="exact")[4][1]
    runs = {}
    for placement in placements():
        out = {}
        for q in queries:
            for mode in ("bmw", "exact", "intersect"):
                for min_score in (None, floor):
                    out[q, mode, min_score] = [
                        (r["doc_id"], r["score"])
                        for r in idx.search(q, 10, mode=mode, min_score=min_score).collect()
                    ]
                before = _jobs(spark)
                for where, tuples in WHERES.items():
                    got = [
                        (r["doc_id"], r["score"])
                        for r in idx.search(q, 10, mode=mode, where=where).collect()
                    ]
                    assert got == idx.search_local(q, 10, mode=mode, where=tuples), (q, where)
                    out[q, mode, where] = got
                if placement == "driver":
                    assert _jobs(spark) == before, (q, mode)
        many = idx.search_many(queries, 10).collect()
        out["many"] = sorted((r["qid"], r["rank"], r["doc_id"], r["score"]) for r in many)
        for i, q in enumerate(queries):
            # search is the batch of one: no rounding between the two
            got = sorted((r["rank"], r["doc_id"], r["score"]) for r in many if r["qid"] == str(i))
            assert [(d, s) for _, d, s in got] == out[q, "bmw", None], (placement, q)
        runs[placement] = out
    assert runs["driver"] == runs["executor"]
    assert runs["driver"][Q, "bmw", floor] and len(runs["driver"][Q, "bmw", floor]) < 10
    assert runs["driver"]["many"]
    assert all(runs["driver"][Q, "bmw", where] for where in WHERES)


def test_empty_results_are_zero_job_frames_with_unchanged_schemas(spark, built_index):
    from kafka_elasticsearch_standalone_consumer_spark.query import multifield
    from kafka_elasticsearch_standalone_consumer_spark.query.multisearch import (
        MULTI_SCHEMA,
        MultiIndex,
    )

    idx, _ = built_index
    alias, docs = MultiIndex([idx, idx]), idx._docs_df()
    cases = [
        (alias.search("zzabsent", 10, mode="dfs_query_then_fetch"), MULTI_SCHEMA),
        (alias.indices_query([], Q, None), MULTI_SCHEMA),
        (idx.percolate([]), "doc_id long, query_id long, n_matched long"),
        (idx.search_oracle("", 10), TOPK_SCHEMA),  # bm25.bm25_scores_oracle
        (multifield.multi_field_bm25(docs, "", {"text": 1.0}), TOPK_SCHEMA),
        (multifield.fuzzy_like_this_field(docs, "", "text"), TOPK_SCHEMA),
        (multifield.more_like_this_field(docs, -1, "text"), TOPK_SCHEMA),
        (idx.search("zzabsent", 10), TOPK_SCHEMA),
        (idx.search("", 10, mode="intersect"), TOPK_SCHEMA),
        (idx.search_many(["zzabsent"], 10), MANY_SCHEMA),
        (idx.simple_query_string("zzq*"), TOPK_SCHEMA),  # prefix expands to nothing
        (idx.simple_query_string("w00000 + zzq*"), TOPK_SCHEMA),  # ... conjunctively
        (idx.query_string("zzabsent^2"), TOPK_SCHEMA),  # boosted, no term planned
        (idx.facets("", by="role"), "role string, n long"),
        (idx.stats_agg("", by="turn_idx"),
         "n long, min_v double, max_v double, sum_v double, avg_v double"),
    ]
    before = _jobs(spark)
    for df, ddl in cases:
        assert df.collect() == []
        assert df.schema == spark.createDataFrame([], ddl).schema, ddl
    assert _jobs(spark) == before


def test_driver_held_results_are_zero_job_frames(spark, built_index):
    """Surfaces that compute their rows on the driver return them as one
    Arrow LocalRelation: collecting each runs no Spark job, and each
    schema is the DDL it always had."""
    idx, _ = built_index
    top = idx.search(Q, 3).collect()
    doc, cursor = top[0]["doc_id"], (top[0]["score"], top[0]["doc_id"])
    vec = "term string, tf long, df long"
    cases = [
        (idx.count_matches(""), "n long"),
        (idx.mterm_vectors([doc, top[1]["doc_id"]]), "doc_id long, " + vec),
        (idx.mterm_vectors([doc], positions=True),
         "doc_id long, " + vec + ", positions array<long>"),
        (idx.term_vectors(doc), vec),
        (idx.term_vectors(doc, positions=True), vec + ", positions array<long>"),
        (idx.analyze("The quick w00000"), "position long, token string"),
        (idx.validate_query("w00000 +w00003"), "valid boolean, explanation string"),
        (idx.explain_score(Q, doc),
         "term string, w double, tf double, df double, idf double, contribution double"),
        (idx.suggest_terms("w00000 w0000x"),
         "input string, suggestion string, dist int, freq long"),
        (idx.suggest_complete("w000"), "suggestion string, freq long"),
        (idx.suggest_phrase("w00000 w0001"), "suggestion string, score double"),
        (idx.suggest_phrase("w00000 w0001", collate=True), "suggestion string, score double"),
        (idx.search_after(Q, cursor, 5, mode="bmw"), TOPK_SCHEMA),
    ]
    before = _jobs(spark)
    for df, ddl in cases:
        assert df.collect(), ddl
        assert df.schema == spark.createDataFrame([], ddl).schema, ddl
    assert _jobs(spark) == before


def test_tombstone_mask_builds_without_a_job(spark, deleted_wh):
    """The tombstones reach Spark from the driver's pyarrow read of the
    tombstone table, so building a per-shard mask runs no Spark job."""
    idx = Index(spark, deleted_wh)
    dps = idx.meta["docs_per_shard"]
    before = _jobs(spark)
    mask_df, kind = idx._mask_plan(None, dps)
    assert _jobs(spark) == before
    assert kind == "blocked"
    got = sorted(r["doc_id"] for r in mask_df.collect())
    assert got == idx._local_blocked().tolist() and len(got) == 3
    assert _jobs(spark) == before


def test_docs_frame_is_read_once_per_index(spark, deleted_wh):
    """An Index reads its doc store frame once: a second SQL ``where``
    mask plan on the same Index builds without a Spark job."""
    idx = Index(spark, deleted_wh)
    dps = idx.meta["docs_per_shard"]
    first = idx._mask_plan("role = 'user'", dps)
    before = _jobs(spark)
    mask_df, kind = idx._mask_plan("role = 'user'", dps)
    assert _jobs(spark) == before and kind == "allowed"
    assert sorted(mask_df.collect()) == sorted(first[0].collect())


def test_segment_tables_are_read_once_per_index(spark, deleted_wh):
    """fetch, doc_keys, the token streams and the oracle read each segment
    table once per Index: a second call builds without a Spark job."""
    idx = Index(spark, deleted_wh)
    hits = idx._frame(TOPK_SCHEMA, [(1, 1.0)])
    calls = {
        "fetch": lambda: idx.fetch(hits),
        "doc_keys": idx.doc_keys,
        "_tokens_df": idx._tokens_df,
        "_tokens_full_df": idx._tokens_full_df,
        "_oracle_tokens": idx._oracle_tokens,
        "search_oracle": lambda: idx.search_oracle(Q, 10),
    }
    for name, call in calls.items():
        call()
        before = _jobs(spark)
        call()
        assert _jobs(spark) == before, name


def test_context_suggestions_are_a_zero_job_frame(spark, built_index):
    """The context suggester ranks on the driver; building and collecting
    its rows launches no Spark job."""
    idx, _ = built_index
    ctx = [("role", "=", "user")]
    want = idx.suggest_complete_context("w000", ctx, 5).collect()  # warm the reads
    before = _jobs(spark)
    assert idx.suggest_complete_context("w000", ctx, 5).collect() == want
    assert want and _jobs(spark) == before


def test_index_open_is_a_snapshot(spark, transcripts, tmp_path, placements):
    """postings / term_stats are built on first use, yet an Index opened
    before an append_segment keeps answering with the pre-append corpus."""
    wh = str(tmp_path / "idx")
    build_index(spark, transcripts, wh, docs_per_shard=256, n_buckets=8)
    old = Index(spark, wh)
    want = old.search_local(Q, 10)
    append_segment(
        spark, generate_transcripts(spark, n_convs=30, seed=7), wh, idempotency_key="s1"
    )
    assert "postings" not in vars(old)  # nothing built yet
    for placement in placements():
        got = [(r["doc_id"], r["score"]) for r in old.search(Q, 10).collect()]
        assert got == want, placement
    new = Index(spark, wh)
    assert new.meta["n_docs"] > old.meta["n_docs"]
    assert new.search_local(Q, 10) != want


def test_postings_stays_assignable(spark, built_index):
    _, wh = built_index
    idx = Index(spark, wh)
    idx.postings = idx.postings.persist()
    assert idx.postings.is_cached
    idx.postings.unpersist()

