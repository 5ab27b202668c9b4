"""Placement of the full build: build_index writes its tables through the
one segment step chain, so an input of known small size is built on the
driver and anything else as Spark jobs. Both placements must write the
same index — every table equal as a row set with an equal Spark schema,
sys_meta with a bit-identical avgdl — answer every query identically,
and resume from a crash after any step to the tables of a clean run."""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kafka_elasticsearch_standalone_consumer_spark.corpus import generate_transcripts
from kafka_elasticsearch_standalone_consumer_spark.index.build import (
    term_bucket_col,
    term_buckets,
    xxhash64_utf8,
)
from kafka_elasticsearch_standalone_consumer_spark.pipeline import incremental
from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index
from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
    UNKNOWN_BYTES,
    append_segment,
    build_placement,
    compact,
    delete_docs,
    reindex,
)
from kafka_elasticsearch_standalone_consumer_spark.query.engine import Index
from kafka_elasticsearch_standalone_consumer_spark.tables import Warehouse

K = 10
QUERIES = ["w00000 w00003", "w00250", "w00001 w01500 w00007", "zzabsent w00002", "quick fox"]
TABLES = ("docs", "tokens", "doc_stats", "term_stats", "doc_map", "postings")
STEPS = ["docs", "tokens", "doc_stats", "term_stats", "meta", "doc_map", "postings"]
KW = dict(docs_per_shard=64, n_buckets=8)


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """A corpus on disk, so its plan has a size estimate, holding a few
    empty / stop-only / punctuation texts (dl = 0 under some analyzers)."""
    odd = spark.createDataFrame(
        [("zz1", 0, "user", "", None), ("zz1", 1, "user", "the of and", None),
         ("zz1", 2, "user", "?!", None), ("zz0", 0, "tool", "quick brown fox, the fox", "t")],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.lit("2024-01-02 03:04:05").cast("timestamp"))
    src = str(tmp_path_factory.mktemp("corpus") / "c")
    generate_transcripts(spark, n_convs=20, seed=5, partitions=2).unionByName(odd).write.parquet(src)
    return spark.read.parquet(src)


def _table(spark, wh, name):
    df = spark.read.parquet(Warehouse(wh).path(name))
    return df.schema, sorted(df.collect(), key=repr)


def _assert_same_tables(spark, a, b, tables=TABLES):
    for name in tables:
        ta, tb = _table(spark, a, name), _table(spark, b, name)
        assert ta[0] == tb[0], name
        assert ta[1] == tb[1], name
    ma, mb = Warehouse(a).read_meta("sys_meta"), Warehouse(b).read_meta("sys_meta")
    assert ma == mb
    assert float(ma["avgdl"]).hex() == float(mb["avgdl"]).hex()


def _assert_same_index(spark, out, queries=QUERIES):
    """``out`` = {placement: warehouse}; the driver one was built on the
    driver, the executor one as Spark jobs, and both hold the same index."""
    assert build_placement(Warehouse(out["driver"]))["on_driver"] is True
    assert build_placement(Warehouse(out["executor"]))["on_driver"] is False
    _assert_same_tables(spark, out["driver"], out["executor"])
    idx = {p: Index(spark, wh) for p, wh in out.items()}
    for q in queries:
        want = idx["driver"].search_local(q, K)
        for p, ix in idx.items():
            assert ix.search_local(q, K) == want, (q, p)
            assert [(r["doc_id"], r["score"]) for r in ix.search(q, K).collect()] == want, (q, p)
            oracle = [(r["doc_id"], r["score"]) for r in ix.search_oracle(q, K).collect()]
            assert [d for d, _ in oracle] == [d for d, _ in want], (q, p)
            assert [s for _, s in oracle] == pytest.approx([s for _, s in want], rel=1e-12)


def _build_each(spark, df, root, segment_placements, **kw):
    out = {}
    for placement in segment_placements():
        out[placement] = str(root / placement)
        build_index(spark, df, out[placement], **KW, **kw)
    return out


@pytest.mark.parametrize(
    "knobs",
    [{}, {"positions": True}, {"analyzer": "stop"}, {"analyzer": "porter"}],
    ids=["standard", "positions", "stop", "porter"],
)
def test_placements_build_identical_indexes(spark, corpus, tmp_path, segment_placements, knobs):
    out = _build_each(spark, corpus, tmp_path, segment_placements, **knobs)
    _assert_same_index(spark, out)
    if knobs.get("positions"):
        for p, wh in out.items():
            assert Index(spark, wh).search_phrase_local("quick brown fox", K), p


def test_empty_input(spark, corpus, tmp_path, segment_placements):
    out = _build_each(spark, corpus.limit(0), tmp_path, segment_placements)
    _assert_same_index(spark, out, queries=QUERIES[:2])
    assert Warehouse(out["driver"]).read_meta("sys_meta")["n_docs"] == 0


def test_compact_and_reindex_identical_across_placements(
    spark, corpus, tmp_path, segment_placements
):
    base = str(tmp_path / "base")
    build_index(spark, corpus.filter("conv_id < 'conv0000000012'"), base, **KW)
    append_segment(spark, corpus.filter("conv_id >= 'conv0000000012'"), base, idempotency_key="b1")
    assert delete_docs(spark, base, "turn_idx = 1") > 0
    compacted, reindexed = {}, {}
    for placement in segment_placements():
        compacted[placement] = str(tmp_path / f"compact-{placement}")
        shutil.copytree(base, compacted[placement])
        assert compact(spark, compacted[placement]) == 1
        reindexed[placement] = str(tmp_path / f"reindex-{placement}")
        reindex(spark, base, reindexed[placement], where="role = 'user'", analyzer="porter")
    _assert_same_index(spark, compacted)
    _assert_same_index(spark, reindexed)


def test_resume_after_a_crash_at_every_step(spark, corpus, tmp_path, segment_placements):
    """Crash after each of the 7 steps, then resume: the resumed
    warehouse equals a clean build, and the resume runs exactly the
    steps the crash left, in order."""
    for placement in segment_placements():
        clean = str(tmp_path / placement / "clean")
        build_index(spark, corpus, clean, **KW)
        for i, step in enumerate(STEPS):
            wh = str(tmp_path / placement / step)
            with pytest.raises(RuntimeError, match="simulated failure"):
                build_index(spark, corpus, wh, fail_after=step, **KW)
            r = build_index(spark, corpus, wh, **KW)
            assert r.skipped == STEPS[: i + 1], (placement, step)
            assert r.ran == STEPS[i + 1:], (placement, step)
            assert build_placement(Warehouse(wh))["on_driver"] is (placement == "driver")
            _assert_same_tables(spark, clean, wh)


def test_placement_is_recorded(spark, corpus, tmp_path):
    """build_index and append_segment record the placement and the plan
    size estimate behind it as two sys_metrics rows of the docs phase;
    Index.stats() shows them per segment. A file input of known small
    size is built on the driver in at most two Spark jobs; a
    generate_transcripts input (mapInPandas, row-multiplying) has no
    size bound and takes the Spark steps."""
    gen = generate_transcripts(spark, n_convs=8, seed=3, partitions=2)
    size = incremental._plan_bytes(corpus)
    assert 0 < size <= incremental.DRIVER_MAX_SEGMENT_BYTES
    assert incremental._plan_bytes(gen) == UNKNOWN_BYTES
    driver = {"on_driver": True, "plan_bytes": size}
    executor = {"on_driver": False, "plan_bytes": UNKNOWN_BYTES}

    def recorded(wh):
        return sorted(
            (r["key"], r["value"]) for r in wh.read_rows("sys_metrics")
            if r["phase"] == "docs" and r["key"] in ("on_driver", "plan_bytes")
        )

    a = str(tmp_path / "file")
    before = _jobs(spark)
    build_index(spark, corpus, a, **KW)
    assert _jobs(spark) - before <= 2
    assert recorded(Warehouse(a)) == [("on_driver", 1.0), ("plan_bytes", float(size))]
    assert append_segment(spark, gen, a, idempotency_key="g") == 1
    seg = incremental.seg_warehouse(Warehouse(a), 1)
    assert recorded(seg) == [("on_driver", 0.0), ("plan_bytes", float(UNKNOWN_BYTES))]
    assert Index(spark, a).stats()["placement"] == {0: driver, 1: executor}

    b = str(tmp_path / "gen")
    build_index(spark, gen, b, **KW)
    assert recorded(Warehouse(b)) == [("on_driver", 0.0), ("plan_bytes", float(UNKNOWN_BYTES))]
    assert append_segment(spark, corpus, b, idempotency_key="f") == 1
    assert Index(spark, b).stats()["placement"] == {0: executor, 1: driver}


def test_spark_only_options_keep_the_spark_steps(spark, corpus, tmp_path):
    """Another tokenizer (its tokens carry no dl, so postings join it from
    doc_stats) and an unmaterialized forward index run as Spark jobs even
    for a small input, and build the same index as the driver."""
    ref = str(tmp_path / "ref")
    build_index(spark, corpus, ref, **KW)
    sql = str(tmp_path / "sql")
    build_index(spark, corpus, sql, tokenizer="sql", **KW)
    lazy = str(tmp_path / "lazy")
    build_index(spark, corpus, lazy, materialize_tokens=False, **KW)
    assert not os.path.isdir(os.path.join(lazy, "tokens"))
    assert "dl" not in spark.read.parquet(os.path.join(sql, "tokens")).columns
    for wh in (sql, lazy):
        assert build_placement(Warehouse(wh))["on_driver"] is False
        for name in ("docs", "doc_stats", "term_stats", "doc_map", "postings"):
            assert _table(spark, wh, name) == _table(spark, ref, name), (wh, name)
    for q in QUERIES:
        want = Index(spark, ref).search_local(q, K)
        assert Index(spark, sql).search_local(q, K) == want
        assert Index(spark, lazy).search_local(q, K) == want


@pytest.mark.parametrize(
    "knobs", [{}, {"tokenizer": "sql"}, {"positions": True}], ids=["fused", "sql", "positions"]
)
def test_ephemeral_avgdl_equals_the_build(spark, corpus, tmp_path, knobs):
    """Index.ephemeral tokenizes like the build and takes its avgdl the
    same way (the exact long sum of dl over n): for the same texts its
    meta equals build_index's sys_meta to the bit."""
    wh = str(tmp_path / "idx")
    build_index(spark, corpus, wh, **KW, **knobs)
    built = Warehouse(wh).read_meta("sys_meta")
    eph = Index.ephemeral(Index(spark, wh)._docs_df().select("doc_id", "text"), **KW, **knobs)
    assert eph.meta["n_docs"] == built["n_docs"] > 0
    assert float(eph.meta["avgdl"]).hex() == float(built["avgdl"]).hex()


def test_driver_tables_carry_no_blob_statistics(spark, corpus, tmp_path):
    """Warehouse.write_arrow writes min/max statistics for every column
    but the binary ones: the posting blobs would otherwise be copied whole
    into the footers. term and shard keep theirs (term row-group pruning
    reads them)."""
    wh = str(tmp_path / "wh")
    build_index(spark, corpus, wh, positions=True, **KW)
    assert build_placement(Warehouse(wh))["on_driver"] is True
    files = [
        os.path.join(d, f) for d, _, fs in os.walk(Warehouse(wh).path("postings"))
        for f in fs if f.endswith(".parquet")
    ]
    assert files
    for path in files:
        md = pq.ParquetFile(path).metadata
        for g in range(md.num_row_groups):
            cols = {md.row_group(g).column(c).path_in_schema: md.row_group(g).column(c)
                    for c in range(md.num_columns)}
            for blob in ("docs", "tfs", "dls", "pos"):
                assert not cols[blob].is_stats_set, (path, blob)
            for kept in ("term", "shard", "block_max_doc.list.element"):
                st = cols[kept].statistics
                assert st is not None and st.has_min_max, (path, kept)


def test_term_buckets_match_spark(spark):
    """The NumPy xxhash64 / pmod equals Spark's F.xxhash64, term_bucket_col
    and, with pc.utf8_length, F.length: byte lengths 0..≥150 reach the
    32-byte stripes and the 8-, 4- and 1-byte tails; multi-byte UTF-8,
    emoji and the empty string; a power-of-two and an odd bucket count."""
    import pyarrow.compute as pc

    rng = random.Random(7)
    alphabet = "abcxyz019_é中😀"
    terms = ["", "a", "é", "😀"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 120))) for _ in range(10_500)
    ]
    arr = pa.array(terms)
    lengths = [len(t.encode()) for t in terms]
    assert min(lengths) == 0 and max(lengths) >= 150
    rows = spark.createDataFrame(pa.table({"term": arr})).select(
        F.xxhash64("term").alias("h"),
        term_bucket_col("term", 64).alias("b64"),
        term_bucket_col("term", 37).alias("b37"),
        F.length("term").alias("n"),
    ).collect()
    assert xxhash64_utf8(arr).tolist() == [r["h"] for r in rows]
    assert term_buckets(arr, 64).tolist() == [r["b64"] for r in rows]
    assert term_buckets(arr, 37).tolist() == [r["b37"] for r in rows]
    assert term_buckets(arr.slice(5), 37).tolist() == [r["b37"] for r in rows[5:]]
    assert pc.utf8_length(arr).to_pylist() == [r["n"] for r in rows]
    assert term_buckets(pa.array([], pa.string()), 64).dtype == np.int32
