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


def test_batched_term_shard_decodes_each_block_once(built_index, monkeypatch):
    """Two plans sharing a dominant term in one term_shard call: every
    (run, block) is decoded at most once, the batch decodes less than the
    two single-plan calls together, and each plan's rows equal its
    single-plan rows."""
    from kafka_elasticsearch_standalone_consumer_spark.index import codec
    from kafka_elasticsearch_standalone_consumer_spark.query import kernels

    idx, _ = built_index
    plans = [idx._plan_terms(q) for q in ("w00000 w00003", "w00000 w00015")]
    idfws = [idfw for idfw, _ in plans]
    pdf = idx._local_postings(
        sorted({bk for _, bs in plans for bk in bs}), sorted(set(idfws[0]) | set(idfws[1]))
    )
    dps, avgdl, k1, b = idx._bm25()
    calls: list[tuple[int, int]] = []
    decode = codec.decode_doc_blocks

    def counting(buf, offs, block_idx):
        calls.extend((id(buf), int(i)) for i in block_idx)
        return decode(buf, offs, block_idx)

    monkeypatch.setattr(codec, "decode_doc_blocks", counting)

    def run(pdf, batch):
        calls.clear()
        out = kernels.term_shard(pdf, batch, "bmw", K, avgdl, k1, b, dps, None, None)
        return out, list(calls)

    batched = singles = 0
    for _shard, g in pdf.groupby("shard", sort=False):
        both, seen = run(g, idfws)
        assert len(seen) == len(set(seen))
        batched += len(seen)
        for idfw, (d, s) in zip(idfws, both):
            [(want_d, want_s)], alone = run(g, [idfw])
            singles += len(alone)
            assert d.tolist() == want_d.tolist() and s.tolist() == want_s.tolist()
    assert 0 < batched < singles


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
