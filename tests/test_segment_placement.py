"""Placement of append_segment's segment build: a batch whose plan size
estimate is small builds its tables on the driver (one collect, then
pyarrow + the shared kernels), anything else runs the Spark steps. Both
placements must write the same segment — every table equal as a row set
with an equal Spark schema — and answer every query identically."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from kafka_elasticsearch_standalone_consumer_spark.corpus import generate_transcripts
from kafka_elasticsearch_standalone_consumer_spark.pipeline import incremental
from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index
from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
    append_segment,
    list_segments,
    seg_warehouse,
)
from kafka_elasticsearch_standalone_consumer_spark.query.engine import Index
from kafka_elasticsearch_standalone_consumer_spark.tables import Warehouse

K = 10
QUERIES = ["w00000 w00003", "w00250", "w00001 w01500 w00007", "zzabsent w00002", "quick fox"]
TABLES = ("docs", "tokens", "doc_stats", "term_stats", "postings")


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.fixture(scope="module")
def batches(spark, tmp_path_factory):
    """A base corpus, a batch on disk, and a batch of empty / stop-only
    / punctuation texts (dl = 0 under some analyzers)."""
    full = generate_transcripts(spark, n_convs=30, seed=5, partitions=2)
    base = full.filter("conv_id < 'conv0000000020'")
    src = str(tmp_path_factory.mktemp("batch") / "b")
    full.filter("conv_id >= 'conv0000000020'").write.parquet(src)
    odd = spark.createDataFrame(
        [("zz1", 0, "user", "", None), ("zz1", 1, "user", "the of and", None),
         ("zz1", 2, "user", "?!", None), ("zz0", 0, "tool", "quick brown fox, the fox", "t")],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.lit("2024-01-02 03:04:05").cast("timestamp"))
    return base, spark.read.parquet(src), odd


def _build(spark, base, path, **kw):
    build_index(spark, base, path, docs_per_shard=64, n_buckets=8, **kw)
    return path


def _append_each(spark, base_wh, root, batch, segment_placements, key="b1"):
    """Append ``batch`` to a copy of ``base_wh`` under each forced
    placement: {placement: (warehouse, seg_id)}."""
    out = {}
    for placement in segment_placements():
        wh = str(root / placement)
        shutil.copytree(base_wh, wh)
        out[placement] = (wh, append_segment(spark, batch, wh, idempotency_key=key))
    return out


def _table(spark, wh, seg, name):
    df = spark.read.parquet(seg_warehouse(Warehouse(wh), seg).path(name))
    return df.schema, sorted(df.collect(), key=repr)


def _assert_same_segment(spark, out, queries=QUERIES):
    (dwh, dseg), (ewh, eseg) = out["driver"], out["executor"]
    assert dseg == eseg and dseg is not None
    for name in TABLES:
        d, e = _table(spark, dwh, dseg, name), _table(spark, ewh, eseg, name)
        assert d[0] == e[0], name
        assert d[1] == e[1], name
    dmeta = seg_warehouse(Warehouse(dwh), dseg).read_meta("seg_meta")
    assert dmeta == seg_warehouse(Warehouse(ewh), eseg).read_meta("seg_meta")
    strip = [{k: v for k, v in s.items() if k != "ts"} for s in list_segments(Warehouse(dwh))]
    assert strip == [
        {k: v for k, v in s.items() if k != "ts"} for s in list_segments(Warehouse(ewh))
    ]
    assert Warehouse(dwh).read_meta("sys_meta") == Warehouse(ewh).read_meta("sys_meta")
    idx = {p: Index(spark, wh) for p, (wh, _) in out.items()}
    for q in queries:
        want = idx["driver"].search_local(q, K)
        for p, ix in idx.items():
            assert ix.search_local(q, K) == want, (q, p)
            assert [(r["doc_id"], r["score"]) for r in ix.search(q, K).collect()] == want, (q, p)
            oracle = [(r["doc_id"], r["score"]) for r in ix.search_oracle(q, K).collect()]
            assert [d for d, _ in oracle] == [d for d, _ in want], (q, p)
            assert [s for _, s in oracle] == pytest.approx([s for _, s in want], rel=1e-12)


@pytest.mark.parametrize(
    "knobs",
    [{}, {"positions": True}, {"analyzer": "stop"}, {"analyzer": "porter"}],
    ids=["standard", "positions", "stop", "porter"],
)
def test_placements_write_identical_segments(spark, batches, tmp_path, segment_placements, knobs):
    base, batch, odd = batches
    base_wh = _build(spark, base, str(tmp_path / "base"), **knobs)
    out = _append_each(spark, base_wh, tmp_path, batch.unionByName(odd), segment_placements)
    _assert_same_segment(spark, out)
    if knobs.get("positions"):
        for p, (wh, _) in out.items():
            assert Index(spark, wh).search_phrase_local("quick brown fox", K), p


def test_empty_batch_and_replay(spark, batches, tmp_path, segment_placements):
    base, batch, _ = batches
    base_wh = _build(spark, base, str(tmp_path / "base"))
    out = _append_each(spark, base_wh, tmp_path / "empty", batch.limit(0), segment_placements)
    _assert_same_segment(spark, out, queries=QUERIES[:2])
    for p, (wh, seg) in out.items():
        assert list_segments(Warehouse(wh))[-1]["n_docs"] == 0, p
    root = tmp_path / "replay"
    root.mkdir()
    out = _append_each(spark, base_wh, root, batch, segment_placements)
    for placement in segment_placements():
        wh, _ = out[placement]
        n = len(list_segments(Warehouse(wh)))
        assert append_segment(spark, batch, wh, idempotency_key="b1") is None, placement
        assert len(list_segments(Warehouse(wh))) == n
    _assert_same_segment(spark, out, queries=QUERIES[:2])


def test_timestamp_ntz_column_keeps_its_type(spark, batches, tmp_path, segment_placements):
    """Spark writes TIMESTAMP as INT96 and TIMESTAMP_NTZ as INT64; the
    driver's writer must too, or an NTZ column reads back as TIMESTAMP."""
    base, batch, _ = batches

    def ntz(df):
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    base_wh = _build(spark, ntz(base), str(tmp_path / "base"))
    out = _append_each(spark, base_wh, tmp_path, ntz(batch), segment_placements)
    _assert_same_segment(spark, out, queries=QUERIES[:1])


def test_driver_append_runs_at_most_two_jobs(spark, batches, tmp_path):
    base, batch, _ = batches
    wh = _build(spark, base, str(tmp_path / "wh"))
    assert incremental._on_driver(batch)
    before = _jobs(spark)
    assert append_segment(spark, batch, wh, idempotency_key="b1") == 1
    assert _jobs(spark) - before <= 2
    assert Index(spark, wh).search_local(QUERIES[0], K)


def test_unknown_size_batch_takes_the_executor_path(spark, batches, tmp_path):
    base, batch, _ = batches
    unknown = spark.createDataFrame(batch.rdd, batch.schema)  # no plan statistics
    assert not incremental._on_driver(unknown)
    wh = _build(spark, base, str(tmp_path / "wh"))
    before = _jobs(spark)
    assert append_segment(spark, unknown, wh, idempotency_key="b1") == 1
    assert _jobs(spark) - before > 2


def test_row_multiplying_plans_take_the_executor_path(spark, batches):
    """Spark's size-only estimate gives mapInPandas / explode their
    child's size: generate_transcripts (``spark.range(n).mapInPandas``)
    reads 8 bytes a conversation though each emits ~11 turns. Such a plan
    counts as unknown-size, however small its estimate, and so does a
    cached one until the cache is filled. The check runs no job; a file
    scan and a filled cache keep their estimates."""
    _, batch, _ = batches
    big = generate_transcripts(spark, n_convs=500_000)
    cached = generate_transcripts(spark, n_convs=5).persist()  # not filled yet
    try:
        before = _jobs(spark)
        size = big._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        assert int(size) <= incremental.DRIVER_MAX_SEGMENT_BYTES
        assert not incremental._on_driver(big)
        assert not incremental._on_driver(big.filter("role = 'user'").select("conv_id", "text"))
        assert not incremental._on_driver(
            batch.withColumn("text", F.explode(F.split("text", " ")))
        )
        assert not incremental._on_driver(cached)
        assert not incremental._on_driver(cached.filter("turn_idx > 0"))
        assert incremental._on_driver(batch)
        assert _jobs(spark) == before
        cached.count()
        assert incremental._on_driver(cached.filter("turn_idx > 0"))
    finally:
        cached.unpersist()


def test_file_stream_micro_batches_take_the_driver_path(spark, batches, tmp_path, monkeypatch):
    """index_stream_writer hands append_segment its foreachBatch frame;
    over a file source that frame keeps the file scan's statistics, so a
    small micro-batch is built on the driver."""
    from kafka_elasticsearch_standalone_consumer_spark.streaming.ingest import (
        index_stream_writer,
    )

    base, batch, _ = batches
    wh = _build(spark, base, str(tmp_path / "wh"))
    src = str(tmp_path / "src")
    batch.coalesce(1).write.parquet(src)
    seen = []
    on_driver = incremental._on_driver
    monkeypatch.setattr(
        incremental, "_on_driver", lambda df: seen.append(on_driver(df)) or seen[-1]
    )
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = index_stream_writer(spark, stream, wh, str(tmp_path / "ckpt"))
    q.trigger(availableNow=True).start().awaitTermination(300)
    assert seen == [True]
    assert len(list_segments(Warehouse(wh))) == 2
