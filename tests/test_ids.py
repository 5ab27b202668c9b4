"""Dense doc_id assignment: dense, stable, order-correct, partition-proof."""

import pytest
from pyspark.sql import functions as F

from kafka_elasticsearch_standalone_consumer_spark.ids import assign_dense_ids


def test_dense_ids_match_row_number(spark):
    data = [(f"c{i % 37:03d}", i % 11) for i in range(500)]
    data = list(dict.fromkeys(data))
    df = spark.createDataFrame(data, "conv_id string, turn_idx int").repartition(7)
    got = assign_dense_ids(df, num_partitions=5).collect()
    expect = {
        (c, t): r for r, (c, t) in enumerate(sorted({(c, t) for c, t in data}))
    }
    assert len(got) == len(expect)
    for row in got:
        assert row["doc_id"] == expect[(row["conv_id"], row["turn_idx"])]
    spark.catalog.clearCache()


def test_dense_ids_stable_across_partitionings(spark, transcripts):
    a = assign_dense_ids(transcripts.repartition(3), num_partitions=4)
    b = assign_dense_ids(transcripts.repartition(9), num_partitions=2)
    am = {(r["conv_id"], r["turn_idx"]): r["doc_id"] for r in a.select("conv_id", "turn_idx", "doc_id").collect()}
    bm = {(r["conv_id"], r["turn_idx"]): r["doc_id"] for r in b.select("conv_id", "turn_idx", "doc_id").collect()}
    assert am == bm
    n = len(am)
    assert sorted(am.values()) == list(range(n))  # dense 0..n-1
    spark.catalog.clearCache()


def test_invariant_per_turn_text_equality(spark, transcripts):
    """BASELINE invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering — rebuild text via doc_id join."""
    with_ids = assign_dense_ids(transcripts, num_partitions=4)
    doc_map = with_ids.select("conv_id", "turn_idx", "doc_id")
    rejoined = (
        transcripts.join(doc_map, ["conv_id", "turn_idx"])
        .join(with_ids.select("doc_id", F.col("text").alias("text2")), "doc_id")
    )
    assert rejoined.filter(F.col("text") != F.col("text2")).count() == 0
    assert rejoined.count() == transcripts.count()
    spark.catalog.clearCache()


def test_partition_at_the_row_field_limit_raises(spark, monkeypatch):
    """A range partition of MAX_PARTITION_ROWS rows or more would wrap
    monotonically_increasing_id's 33-bit row field into the partition
    id; the assignment refuses instead of returning colliding ids."""
    from kafka_elasticsearch_standalone_consumer_spark import ids

    df = spark.range(40).selectExpr("format_string('c%03d', id) AS conv_id", "0 AS turn_idx")
    monkeypatch.setattr(ids, "MAX_PARTITION_ROWS", 40)
    with pytest.raises(ValueError, match="wrap"):
        ids.assign_dense_ids(df, num_partitions=1)
    monkeypatch.setattr(ids, "MAX_PARTITION_ROWS", 41)
    got = ids.assign_dense_ids(df, num_partitions=1).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in got) == list(range(40))
