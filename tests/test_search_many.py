"""Batched multi-query execution: one Spark job for the whole query set
must return exactly the per-query search results (same docs, same scores,
same ranks)."""

from __future__ import annotations

from kafka_elasticsearch_standalone_consumer_spark.corpus import reference_queries

K = 10


def test_search_many_matches_single_query_path(spark, built_index, placements):
    idx, _ = built_index
    qs = {str(q["qid"]): q["query"] for q in reference_queries(12)}
    for placement in placements():
        batched = idx.search_many(qs, K).collect()
        got = {}
        for r in batched:
            got.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], round(r["score"], 9)))
        for qid, q in qs.items():
            want = [
                (i + 1, r["doc_id"], round(r["score"], 9))
                for i, r in enumerate(idx.search(q, K, mode="bmw").collect())
            ]
            assert sorted(got.get(qid, [])) == want, (placement, qid, q)


def test_search_many_fetch_roundtrip(spark, built_index):
    idx, _ = built_index
    hits = idx.search_many(["w00000 w00002"], 5)
    docs = idx.fetch(hits.select("doc_id", "score")).collect()
    assert len(docs) == 5
    assert all(r["text"] is not None and r["conv_id"].startswith("conv") for r in docs)
    st = idx.stats()
    assert st["meta"]["n_docs"] > 0 and "steps" in st and st["n_segments"] == 1


def test_highlight_snippets(spark, built_index):
    idx, _ = built_index
    q = "w00000 w00002"
    out = idx.highlight(idx.search(q, 5), q, n_chars=60).collect()
    assert len(out) == 5
    for r in out:
        assert r["snippet"] is not None and len(r["snippet"]) <= 60 + 8 * 4
        assert "**" in r["snippet"]  # a query term is marked in-window
        assert r["snippet"].replace("**", "") in r["text"]


def test_fetch_narrow_schema_index(spark, tmp_path):
    """An index built over a narrower-than-transcript docs schema (no
    role/tool/ts, like the documents-table fixtures) must still fetch and
    highlight: SOURCE_COLS is intersected with the stored columns."""
    from pyspark.sql import functions as F

    from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index
    from kafka_elasticsearch_standalone_consumer_spark.query.engine import Index

    docs = spark.createDataFrame(
        [(f"c{i:04d}", 0, f"alpha beta w{i:05d} gamma") for i in range(30)],
        "conv_id string, turn_idx int, text string",
    )
    wh = str(tmp_path / "narrow")
    build_index(spark, docs, wh, docs_per_shard=16, n_buckets=4)
    idx = Index(spark, wh)
    hits = idx.search("alpha w00007", 3, mode="bmw")
    fetched = idx.fetch(hits).collect()
    assert len(fetched) == 3
    assert {"doc_id", "score", "conv_id", "turn_idx", "text"} <= set(fetched[0].asDict())
    out = idx.highlight(hits, "alpha w00007", n_chars=40).collect()
    assert all("**alpha**" in r["snippet"] or "**w00007**" in r["snippet"] for r in out)
