"""Incremental segments + compaction (SURVEY §2.4 E8) and the streaming
ingest path: results over (base + appended segments) must match a one-shot
build over the full corpus — same (conv_id, turn_idx) hits, same scores —
and replayed appends must be no-ops.
"""

from __future__ import annotations

import pytest

from kafka_elasticsearch_standalone_consumer_spark.corpus import generate_transcripts
from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index
from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
    append_segment,
    compact,
    list_segments,
)
from kafka_elasticsearch_standalone_consumer_spark.query.engine import Index
from kafka_elasticsearch_standalone_consumer_spark.tables import Warehouse

K = 10
QUERIES = ["w00000 w00003", "w00250", "w00001 w01500 w00007", "zzabsent w00002"]


def _hits(spark, idx: Index, query: str, mode: str = "bmw"):
    """search → {(conv_id, turn_idx): score} via the identity table."""
    res = idx.search(query, K, mode=mode)
    rows = res.join(idx.doc_keys(), "doc_id").collect()
    return {(r["conv_id"], r["turn_idx"]): round(r["score"], 6) for r in rows}


@pytest.fixture(scope="module")
def corpora(spark):
    full = generate_transcripts(spark, n_convs=90, seed=11, partitions=4).persist()
    full.count()
    part_a = full.filter("conv_id < 'conv0000000050'")
    part_b = full.filter("conv_id >= 'conv0000000050' and conv_id < 'conv0000000070'")
    part_c = full.filter("conv_id >= 'conv0000000070'")
    return full, part_a, part_b, part_c


@pytest.fixture(scope="module")
def segmented(spark, corpora, tmp_path_factory):
    full, a, b, c = corpora
    root = tmp_path_factory.mktemp("inc")
    full_path = str(root / "full")
    seg_path = str(root / "seg")
    build_index(spark, full, full_path, docs_per_shard=256, n_buckets=8)
    build_index(spark, a, seg_path, docs_per_shard=256, n_buckets=8)
    s1 = append_segment(spark, b, seg_path, idempotency_key="b1")
    s2 = append_segment(spark, c, seg_path, idempotency_key="b2")
    assert (s1, s2) == (1, 2)
    return full_path, seg_path


def test_segmented_matches_full_build(spark, segmented):
    full_path, seg_path = segmented
    full_idx = Index(spark, full_path)
    seg_idx = Index(spark, seg_path)
    assert len(list_segments(Warehouse(seg_path))) == 3
    for q in QUERIES:
        want = _hits(spark, full_idx, q)
        for mode in ("bmw", "exact"):
            got = _hits(spark, seg_idx, q, mode=mode)
            assert got == want, (q, mode)


def test_segmented_oracle_agrees(spark, segmented):
    _, seg_path = segmented
    idx = Index(spark, seg_path)
    q = QUERIES[0]
    fast = _hits(spark, idx, q, mode="bmw")
    res = idx.search_oracle(q, K).join(idx.doc_keys(), "doc_id").collect()
    oracle = {(r["conv_id"], r["turn_idx"]): round(r["score"], 6) for r in res}
    assert fast == oracle


def test_append_replay_is_noop(spark, corpora, segmented):
    _, _, b, _ = corpora
    _, seg_path = segmented
    n_before = len(list_segments(Warehouse(seg_path)))
    assert append_segment(spark, b, seg_path, idempotency_key="b1") is None
    assert len(list_segments(Warehouse(seg_path))) == n_before


def test_global_stats_updated(spark, segmented):
    full_path, seg_path = segmented
    m_full = Warehouse(full_path).read_meta("sys_meta")
    m_seg = Warehouse(seg_path).read_meta("sys_meta")
    assert m_seg["n_docs"] == m_full["n_docs"]
    assert abs(m_seg["avgdl"] - m_full["avgdl"]) < 1e-9


def test_compact_preserves_results_and_retires_segments(spark, corpora, segmented):
    full, _, _, _ = corpora
    _, seg_path = segmented
    before = {q: _hits(spark, Index(spark, seg_path), q) for q in QUERIES}
    retired = compact(spark, seg_path)
    assert retired == 2
    assert list_segments(Warehouse(seg_path)) == []
    idx = Index(spark, seg_path)
    for q in QUERIES:
        assert _hits(spark, idx, q) == before[q], q
    # compacted warehouse keeps accepting appends
    extra = generate_transcripts(spark, n_convs=5, seed=99, partitions=2)
    extra = extra.withColumn("conv_id", extra["conv_id"].substr(1, 4))  # distinct ids
    assert append_segment(spark, extra, seg_path, idempotency_key="post-compact") == 1


def test_streaming_ingest_availablenow(spark, corpora, tmp_path_factory):
    from kafka_elasticsearch_standalone_consumer_spark.corpus import TRANSCRIPTS_SCHEMA
    from kafka_elasticsearch_standalone_consumer_spark.streaming.ingest import (
        index_stream_writer,
    )

    full, a, b, c = corpora
    root = tmp_path_factory.mktemp("stream")
    src = str(root / "src")
    wh_path = str(root / "wh")
    ckpt = str(root / "ckpt")
    # base index over part a; parts b, c arrive as files on the stream
    build_index(spark, a, wh_path, docs_per_shard=256, n_buckets=8)
    b.coalesce(1).write.parquet(src)
    c.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        index_stream_writer(spark, stream, wh_path, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(list_segments(Warehouse(wh_path))) >= 2  # base + ≥1 micro-batch

    full_path = str(root / "full")
    build_index(spark, full, full_path, docs_per_shard=256, n_buckets=8)
    for query in QUERIES[:2]:
        assert _hits(spark, Index(spark, wh_path), query) == _hits(
            spark, Index(spark, full_path), query
        ), query


def test_replay_after_compact_is_noop(spark, corpora, tmp_path):
    """A micro-batch replayed AFTER compaction must not duplicate docs."""
    full, a, b, _ = corpora
    wh = str(tmp_path / "rc")
    build_index(spark, a, wh, docs_per_shard=256, n_buckets=8)
    append_segment(spark, b, wh, idempotency_key="b1")
    n_before = Index(spark, wh).meta["n_docs"]
    compact(spark, wh)
    assert append_segment(spark, b, wh, idempotency_key="b1") is None
    assert Index(spark, wh).meta["n_docs"] == n_before


def test_streaming_auto_compact(spark, corpora, tmp_path):
    from kafka_elasticsearch_standalone_consumer_spark.corpus import TRANSCRIPTS_SCHEMA
    from kafka_elasticsearch_standalone_consumer_spark.streaming.ingest import (
        index_stream_writer,
    )

    full, a, b, c = corpora
    src, wh, ckpt = str(tmp_path / "src"), str(tmp_path / "wh"), str(tmp_path / "ck")
    build_index(spark, a, wh, docs_per_shard=256, n_buckets=8)
    b.coalesce(1).write.parquet(src)
    c.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        index_stream_writer(spark, stream, wh, ckpt, compact_every=1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert list_segments(Warehouse(wh)) == []  # compacted away
    full_path = str(tmp_path / "full")
    build_index(spark, full, full_path, docs_per_shard=256, n_buckets=8)
    for query in QUERIES[:2]:
        assert _hits(spark, Index(spark, wh), query) == _hits(
            spark, Index(spark, full_path), query
        ), query


def test_append_and_compact_preserve_positions(spark, corpora, tmp_path):
    """ADVICE r01: appending to / compacting a positions index must keep it
    phrase-queryable — segment postings carry the pos columns and compact
    re-builds with positions=True (parity with the base build knobs)."""
    full, a, b, _c = corpora
    ab = a.unionByName(b)
    wh = str(tmp_path / "poswh")
    ref = str(tmp_path / "posref")
    build_index(spark, a, wh, docs_per_shard=256, n_buckets=8, positions=True)
    build_index(spark, ab, ref, docs_per_shard=256, n_buckets=8, positions=True)
    assert append_segment(spark, b, wh, idempotency_key="p1") == 1

    def phrase_hits(path, phrase):
        idx = Index(spark, path)
        res = idx.search_phrase(phrase, K).join(idx.doc_keys(), "doc_id").collect()
        return {(r["conv_id"], r["turn_idx"]): round(r["score"], 6) for r in res}

    # pick a real adjacent-token phrase from part b so the segment matters
    row = b.selectExpr("lower(text) t").filter("length(t) > 40").first()
    toks = [w for w in __import__("re").findall(r"[a-z0-9]+", row["t"])][:2]
    phrase = " ".join(toks)
    assert phrase_hits(wh, phrase) == phrase_hits(ref, phrase)
    # BM25 surfaces still agree with the one-shot build too
    assert _hits(spark, Index(spark, wh), QUERIES[0]) == _hits(
        spark, Index(spark, ref), QUERIES[0]
    )
    # compaction keeps the positions feature (meta + phrase querying)
    assert compact(spark, wh) == 1
    assert Index(spark, wh).meta["positions"] is True
    assert phrase_hits(wh, phrase) == phrase_hits(ref, phrase)


def test_index_meta_derives_from_registry(spark, corpora, tmp_path):
    """ADVICE r01: crash window between segment-registry commit and the
    sys_meta refresh — Index must score from registry totals, and a replayed
    append must repair sys_meta."""
    _full, a, b, _c = corpora
    wh_path = str(tmp_path / "crash")
    build_index(spark, a, wh_path, docs_per_shard=256, n_buckets=8)
    wh = Warehouse(wh_path)
    meta_before = dict(wh.read_meta("sys_meta"))
    assert append_segment(spark, b, wh_path, idempotency_key="b1") == 1
    meta_after = dict(wh.read_meta("sys_meta"))
    # simulate the crash: registry row committed, sys_meta refresh lost
    wh.write_meta("sys_meta", meta_before)
    idx = Index(spark, wh_path)
    assert idx.meta["n_docs"] == meta_after["n_docs"]
    assert abs(idx.meta["avgdl"] - meta_after["avgdl"]) < 1e-12
    # the replay (at-least-once retry) repairs the persisted meta
    assert append_segment(spark, b, wh_path, idempotency_key="b1") is None
    repaired = wh.read_meta("sys_meta")
    assert repaired["n_docs"] == meta_after["n_docs"]
    assert abs(repaired["avgdl"] - meta_after["avgdl"]) < 1e-12


def test_streaming_dedup_ingest(spark, corpora, tmp_path):
    """Watermarked streaming dedup: duplicates arriving in a LATER
    micro-batch (within the horizon) are suppressed by the state store;
    the indexed corpus equals the distinct-text corpus."""
    from kafka_elasticsearch_standalone_consumer_spark.corpus import TRANSCRIPTS_SCHEMA
    from kafka_elasticsearch_standalone_consumer_spark.streaming.dedup import (
        dedup_index_stream_writer,
    )

    _full, a, b, _c = corpora
    src, wh, ckpt = str(tmp_path / "src"), str(tmp_path / "wh"), str(tmp_path / "ck")
    build_index(spark, a, wh, docs_per_shard=256, n_buckets=8)
    # batch 1: part b; batch 2: part b AGAIN under different conv ids
    # (exact duplicate texts, same timestamps -> inside the horizon)
    b.coalesce(1).write.parquet(src)
    import pyspark.sql.functions as F

    b.withColumn("conv_id", F.concat(F.lit("dup"), "conv_id")).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        dedup_index_stream_writer(spark, stream, wh, ckpt, horizon="365 days")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    idx = Index(spark, wh)
    n_indexed = idx._docs_df().count()
    # batch 1 collapses within-batch duplicate texts (empty turns); the
    # replayed-content batch 2 is suppressed entirely by the state store
    assert n_indexed == a.count() + b.select("text").distinct().count()
    texts = idx._docs_df().select("text").collect()
    assert len({r["text"] for r in texts}) == len(
        {r["text"] for r in a.unionByName(b).collect()}
    )


def test_reindex_filters_and_remaps(spark, transcripts, tmp_path):
    """ES _reindex: the destination holds exactly the filtered live docs
    with densely reassigned ids, optionally re-analyzed — and querying it
    equals querying a one-shot build over the same filtered corpus."""
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
        delete_docs,
        reindex,
    )
    from kafka_elasticsearch_standalone_consumer_spark.query.engine import Index

    src = str(tmp_path / "src")
    build_index(spark, transcripts.limit(300), src, docs_per_shard=128, n_buckets=8)
    # tombstone a few docs — reindex must purge them
    delete_docs(spark, src, "doc_id < 5")

    dst = str(tmp_path / "dst")
    n = reindex(spark, src, dst, where="role = 'user'", analyzer="stop")
    idx = Index(spark, dst)
    assert idx.meta["analyzer"] == "stop" and idx.meta["n_docs"] == n

    src_docs = Index(spark, src)._docs_df().collect()
    survivors = [r for r in src_docs if r["role"] == "user" and r["doc_id"] >= 5]
    assert n == len(survivors)

    # equivalence with a one-shot build over the same filtered corpus
    ref = str(tmp_path / "ref")
    keep = spark.createDataFrame(survivors, Index(spark, src)._docs_df().schema)
    build_index(
        spark, keep.drop("doc_id"), ref,
        docs_per_shard=int(idx.meta["docs_per_shard"]),
        n_buckets=int(idx.meta["n_buckets"]), analyzer="stop",
    )
    q = "the w00000 w00003"
    a = [(r["doc_id"], round(r["score"], 9)) for r in idx.search(q, 10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in Index(spark, ref).search(q, 10).collect()]
    assert a == b and a


def test_update_docs_replace_upsert_replay(spark, tmp_path):
    """ES update-by-key = Lucene delete+add: new version searchable, old
    invisible, upsert inserts, replay is a no-op, compact preserves the
    live set and purges tombstones."""
    from pyspark.sql import functions as F

    from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import update_docs

    wh = str(tmp_path / "updwh")
    tr = generate_transcripts(spark, n_convs=20, seed=5, partitions=2).persist()
    n0 = tr.count()
    build_index(spark, tr, wh, docs_per_shard=128, n_buckets=8)

    upd = (
        tr.filter("role = 'user'").limit(3)
        .withColumn("text", F.concat(F.lit("zzupdated "), F.col("text")))
    )
    ins = tr.limit(1).select(
        F.lit("conv_zz").alias("conv_id"), F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"), F.lit("zzinserted fresh").alias("text"),
        F.col("tool"), F.col("ts"),
    )
    batch = upd.unionByName(ins).persist()
    upd_keys = {(r["conv_id"], r["turn_idx"]) for r in upd.collect()}

    n_replaced, seg = update_docs(spark, batch, wh, idempotency_key="u1")
    assert n_replaced == 3 and seg == 1
    idx = Index(spark, wh)
    # new versions live and searchable by the sentinel token
    assert idx.count_matches("zzupdated").collect()[0]["n"] == 3
    assert idx.count_matches("zzinserted").collect()[0]["n"] == 1
    # old versions invisible: fetching by key returns the sentinel text
    live = idx.doc_keys()
    deletes = idx._deletes_df()
    if deletes is not None:
        live = live.join(deletes, "doc_id", "left_anti")
    assert live.count() == n0 + 1
    assert live.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
    got = {
        (r["conv_id"], r["turn_idx"])
        for r in live.join(idx._docs_df().filter(F.col("text").startswith("zzupdated")), "doc_id").collect()
    }
    assert got == upd_keys

    # replay: same idempotency key -> no tombstones, no segment
    assert update_docs(spark, batch, wh, idempotency_key="u1") == (0, None)
    assert idx.count_matches("zzupdated").collect()[0]["n"] == 3

    compact(spark, wh)
    idx2 = Index(spark, wh)
    assert idx2.stats()["n_deleted"] == 0
    assert idx2._docs_df().count() == n0 + 1
    assert idx2.count_matches("zzupdated").collect()[0]["n"] == 3


def test_optimize_partial_merge_preserves_results(spark, corpora, tmp_path):
    """ES _optimize(max_num_segments=N): the newest segments merge into
    one with doc_ids preserved and global stats bit-identical — every
    probe query (both modes) scores identically before and after; merged
    batches' replays stay no-ops; appends keep working; tombstones
    survive a partial optimize and purge only at compact."""
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
        delete_docs,
        optimize,
    )

    full, a, b, c = corpora
    wh = str(tmp_path / "opt")
    build_index(spark, a, wh, docs_per_shard=256, n_buckets=8)
    append_segment(spark, b, wh, idempotency_key="b1")
    append_segment(spark, c, wh, idempotency_key="b2")
    before = {q: _hits(spark, Index(spark, wh), q) for q in QUERIES}
    m_before = dict(Warehouse(wh).read_meta("sys_meta"))

    # noop when already at or under the target
    assert optimize(spark, wh, max_num_segments=3) == 0
    # merge the two appended segments into one: 3 -> 2 segments
    assert optimize(spark, wh, max_num_segments=2) == 1
    segs = list_segments(Warehouse(wh))
    assert [s["seg_id"] for s in segs] == [0, 3]
    idx = Index(spark, wh)
    for q in QUERIES:
        for mode in ("bmw", "exact"):
            assert _hits(spark, idx, q, mode=mode) == before[q], (q, mode)
    m_after = Warehouse(wh).read_meta("sys_meta")
    assert m_after["n_docs"] == m_before["n_docs"]
    assert m_after["avgdl"] == m_before["avgdl"]

    # merged batches' idempotency keys are retired: replays are no-ops
    assert append_segment(spark, b, wh, idempotency_key="b1") is None
    assert append_segment(spark, c, wh, idempotency_key="b2") is None

    # appends keep working after an optimize
    extra = generate_transcripts(spark, n_convs=5, seed=99, partitions=2)
    extra = extra.withColumn("conv_id", extra["conv_id"].substr(1, 4))
    assert append_segment(spark, extra, wh, idempotency_key="post-opt") == 4

    # tombstones survive a partial optimize (stats frozen), purge at compact
    n_del = delete_docs(spark, wh, "conv_id = 'conv0000000000'")
    assert n_del > 0
    masked = {q: _hits(spark, Index(spark, wh), q) for q in QUERIES}
    assert optimize(spark, wh, max_num_segments=2) == 1
    idx2 = Index(spark, wh)
    for q in QUERIES:
        assert _hits(spark, idx2, q) == masked[q], q
    assert Warehouse(wh).count_rows("sys_deletes") == n_del
    assert optimize(spark, wh, max_num_segments=1) > 0  # delegates to compact
    assert not Warehouse(wh).exists("sys_deletes")
    # compact PURGES tombstones and re-derives stats over survivors, so
    # scores legitimately shift — hit IDENTITY must still match the
    # masked result set (deleted docs stay gone)
    idx3 = Index(spark, wh)
    for q in QUERIES:
        assert set(_hits(spark, idx3, q)) == set(masked[q]), q


def test_streaming_tiered_optimize(spark, corpora, tmp_path):
    """optimize_to=2 keeps the stream's segment count bounded by tiered
    PARTIAL merges (the base build is never re-read) and query results
    equal a one-shot build over everything ingested."""
    from kafka_elasticsearch_standalone_consumer_spark.corpus import TRANSCRIPTS_SCHEMA
    from kafka_elasticsearch_standalone_consumer_spark.streaming.ingest import (
        index_stream_writer,
    )

    full, a, b, c = corpora
    src, wh, ckpt = str(tmp_path / "src"), str(tmp_path / "wh"), str(tmp_path / "ck")
    build_index(spark, a, wh, docs_per_shard=256, n_buckets=8)
    b.filter("conv_id < 'conv0000000060'").coalesce(1).write.parquet(src)
    b.filter("conv_id >= 'conv0000000060'").coalesce(1).write.mode("append").parquet(src)
    c.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        index_stream_writer(spark, stream, wh, ckpt, optimize_to=2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    segs = list_segments(Warehouse(wh))
    assert len(segs) == 2 and segs[0]["seg_id"] == 0  # base untouched
    full_path = str(tmp_path / "full")
    build_index(spark, full, full_path, docs_per_shard=256, n_buckets=8)
    for query in QUERIES[:2]:
        assert _hits(spark, Index(spark, wh), query) == _hits(
            spark, Index(spark, full_path), query
        ), query


def test_optimize_crash_debris_is_harmless(spark, corpora, tmp_path):
    """Crash-window debris must never corrupt reads or block a retry:
    a stale _optimize_tmp from a crashed build is wiped on the next run,
    and an unreferenced segment dir (crash after registry swap, before
    dir deletion) is invisible — Index loads segments from the REGISTRY,
    never by globbing dirs."""
    import os
    import shutil

    from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
        optimize,
    )

    full, a, b, c = corpora
    wh = str(tmp_path / "crash")
    build_index(spark, a, wh, docs_per_shard=256, n_buckets=8)
    append_segment(spark, b, wh, idempotency_key="b1")
    append_segment(spark, c, wh, idempotency_key="b2")
    before = {q: _hits(spark, Index(spark, wh), q) for q in QUERIES[:2]}

    # simulate a crash mid-build: partial junk in the temp dir
    os.makedirs(os.path.join(wh, "_optimize_tmp", "docs"), exist_ok=True)
    with open(os.path.join(wh, "_optimize_tmp", "docs", "junk"), "w") as f:
        f.write("partial")
    assert optimize(spark, wh, max_num_segments=2) == 1
    idx = Index(spark, wh)
    for q in QUERIES[:2]:
        assert _hits(spark, idx, q) == before[q], q
    assert not os.path.exists(os.path.join(wh, "_optimize_tmp"))

    # simulate a crash after the registry swap: an unreferenced segment dir
    stale = os.path.join(wh, "segments", "99")
    shutil.copytree(os.path.join(wh, "segments", "3"), stale)
    idx2 = Index(spark, wh)
    for q in QUERIES[:2]:
        assert _hits(spark, idx2, q) == before[q], q
    assert len(list_segments(Warehouse(wh))) == 2  # registry is the truth


def test_streaming_quarantine_routes_bad_rows(spark, corpora, tmp_path):
    """quarantine_dir: rows that cannot become documents (NULL/empty
    text, NULL keys) land in the batch_id-partitioned side channel and
    never reach the index; results equal a build over the good rows."""
    from pyspark.sql import functions as F

    from kafka_elasticsearch_standalone_consumer_spark.corpus import TRANSCRIPTS_SCHEMA
    from kafka_elasticsearch_standalone_consumer_spark.streaming.ingest import (
        index_stream_writer,
    )

    full, a, b, _c = corpora
    src, wh, ckpt = str(tmp_path / "src"), str(tmp_path / "wh"), str(tmp_path / "ck")
    qdir = str(tmp_path / "quarantine")
    build_index(spark, a, wh, docs_per_shard=256, n_buckets=8)
    bad = spark.createDataFrame(
        [
            ("convBAD0000001", 0, "user", None, None, None),
            ("convBAD0000002", 0, "user", "   ", None, None),
            (None, 0, "user", "orphan text row", None, None),
        ],
        # all-nullable twin of TRANSCRIPTS_SCHEMA (the point is the nulls)
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    b.unionByName(bad).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        index_stream_writer(spark, stream, wh, ckpt, quarantine_dir=qdir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    bad_cond = (
        "text IS NULL OR length(trim(text)) = 0 "
        "OR conv_id IS NULL OR turn_idx IS NULL"
    )
    n_gen_bad = b.filter(bad_cond).count()  # the corpus plants empty-text rows
    quarantined = spark.read.parquet(qdir)
    assert quarantined.count() == 3 + n_gen_bad
    assert {"convBAD0000001", "convBAD0000002", None} <= {
        r["conv_id"] for r in quarantined.collect()
    }
    # index == build over (a + good rows of b) only; nothing leaked in
    want_path = str(tmp_path / "want")
    good_b = b.filter(f"NOT ({bad_cond})")
    build_index(spark, a.unionByName(good_b), want_path, docs_per_shard=256, n_buckets=8)
    for query in QUERIES[:2]:
        assert _hits(spark, Index(spark, wh), query) == _hits(
            spark, Index(spark, want_path), query
        ), query
    assert Index(spark, wh).meta["n_docs"] == Index(spark, want_path).meta["n_docs"]


def test_ingest_keeps_callers_cache(spark, corpora, tmp_path, monkeypatch):
    """build_index and a forced-executor append_segment release only the
    range sort they persisted: a frame the caller cached — the build's
    own input included — stays cached."""
    from kafka_elasticsearch_standalone_consumer_spark.pipeline import incremental

    full, a, b, _ = corpora
    mine = full.filter("conv_id < 'conv0000000010'").persist()
    other = spark.range(50).persist()
    assert mine.count() and other.count() == 50

    def cached(df):
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    wh = str(tmp_path / "cache")
    build_index(spark, mine, wh, docs_per_shard=256, n_buckets=8)
    assert cached(mine) and cached(other) and cached(full)
    monkeypatch.setattr(incremental, "DRIVER_MAX_SEGMENT_BYTES", -1)
    assert append_segment(spark, b, wh, idempotency_key="b1") == 1
    assert cached(mine) and cached(other) and cached(full)
    mine.unpersist()
    other.unpersist()
