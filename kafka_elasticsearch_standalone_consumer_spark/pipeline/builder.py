"""Index build orchestration: transcripts table → index warehouse.

The Spark-native replacement for the reference's whole daemon
(``KafkaIndexerDriver.main`` → ``IndexerJobManager.startAll`` → per-
partition ``IndexerJob.processBatch``; reference
``jobs/IndexerJobManager.java:39-58``, ``jobs/IndexerJob.java:284-426``).
Each step is a declarative DataFrame job whose output is an idempotent
table overwrite; a checkpoint row is appended only after the write
succeeds (at-least-once ordering, see checkpoint.py).

Steps (each resumable):
  docs       transcripts + dense doc_id (one range-shuffle; the document
             store — what ES kept as _source)
  tokens     tokenize → (doc_id, term, tf)   [forward index]
  doc_stats  per-doc length (+shard)         [norms]
  term_stats per-term df, max_tf             [term dictionary stats]
  meta       corpus scalars + index params   [segment metadata]
  doc_map    (conv_id, turn_idx) → doc_id, dl  [identity/invariant table]
  postings   sharded compressed posting runs [the inverted index]
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_elasticsearch_standalone_consumer_spark import B, BLOCK_SIZE, K1
from kafka_elasticsearch_standalone_consumer_spark.analysis import doc_term_freqs, tokens_from
from kafka_elasticsearch_standalone_consumer_spark.ids import dense_ids
from kafka_elasticsearch_standalone_consumer_spark.index.build import (
    DEFAULT_DOCS_PER_SHARD,
    DEFAULT_TERM_BUCKETS,
    build_postings,
    with_shard,
)
from kafka_elasticsearch_standalone_consumer_spark.pipeline.checkpoint import (
    CheckpointLog,
    StepRunner,
)
from kafka_elasticsearch_standalone_consumer_spark.stats import (
    build_corpus_stats,
    build_doc_stats,
    build_term_stats,
)
from kafka_elasticsearch_standalone_consumer_spark.tables import Warehouse


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    warehouse_path: str,
    docs_per_shard: int = DEFAULT_DOCS_PER_SHARD,
    n_buckets: int = DEFAULT_TERM_BUCKETS,
    tokenizer: str = "fused",
    num_partitions: int | None = None,
    run_id: str | None = None,
    fail_after: str | None = None,
    dry_run: bool = False,
    materialize_tokens: bool = True,
    positions: bool = False,
    max_retries: int = 0,
    analyzer: str = "standard",
) -> "StepRunner":
    """Build (or resume building) the full index under ``warehouse_path``.

    ``dry_run=True`` mirrors the reference's isDryRun flag
    (``jobs/IndexerJob.java:371-374``): execute the transform plan and
    count rows, but write neither tables nor checkpoints.

    ``materialize_tokens=False`` skips persisting the forward index: the
    fused tokenizer is a zero-shuffle narrow pass, so downstream steps
    recompute it from ``docs`` instead of reading a ``tokens`` table. At
    10^12 turns the tokens table is LARGER than the input — this knob
    trades ~2× tokenize CPU (embarrassingly parallel) for not writing,
    storing, or re-reading that intermediate. The oracle query path
    recomputes tokens on the fly too.

    ``positions=True`` packs the per-posting position stream into the
    postings table (Lucene positions — enables phrase queries).
    """
    wh = Warehouse(warehouse_path)
    log = CheckpointLog(spark, wh, run_id)
    runner = StepRunner(log, fail_after=fail_after, max_retries=max_retries)

    if dry_run:
        with dense_ids(transcripts, num_partitions=num_partitions) as docs:
            runner.dry_run_rows = tokens_from(docs, method=tokenizer, analyzer=analyzer).count()
        return runner

    def step_docs():
        # The id assignment's range partitioner SAMPLES its input before
        # the shuffle consumes it, so an unmaterialized source (here: the
        # generator; on a cluster: a view over decoded Kafka batches) is
        # computed twice. Persist for the step's duration — on a real
        # deployment the input is a table scan and this is a cheap no-op
        # class of cache; it never outlives the step. An input the caller
        # already cached is used as is and stays cached.
        lvl = transcripts.storageLevel
        owned = not (lvl.useMemory or lvl.useDisk)
        tr = transcripts.persist() if owned else transcripts
        try:
            with dense_ids(tr, num_partitions=num_partitions) as docs:
                wh.write(docs, "docs")
        finally:
            if owned:
                tr.unpersist()
        return wh.count_rows("docs")

    def _tokens_df():
        if wh.exists("tokens"):
            return wh.read(spark, "tokens")
        docs = wh.read(spark, "docs")
        if tokenizer == "fused" or positions:
            # zero-shuffle
            return doc_term_freqs(docs, positions=positions, analyzer=analyzer)
        return tokens_from(docs, method=tokenizer, analyzer=analyzer)

    def step_tokens():
        wh.write(_tokens_df(), "tokens")
        return wh.count_rows("tokens")

    def step_doc_stats():
        docs = wh.read(spark, "docs")
        toks = _tokens_df()
        ds = with_shard(build_doc_stats(docs, toks), docs_per_shard)
        wh.write(ds, "doc_stats")
        return wh.count_rows("doc_stats")

    def step_term_stats():
        ts = build_term_stats(_tokens_df(), n_buckets=n_buckets)
        wh.write(ts, "term_stats")
        return wh.count_rows("term_stats")

    def step_meta():
        ds = wh.read(spark, "doc_stats")
        row = build_corpus_stats(ds).collect()[0]
        meta = {
            "n_docs": row["n_docs"],
            "avgdl": row["avgdl"] or 0.0,
            "docs_per_shard": docs_per_shard,
            "n_buckets": n_buckets,
            "block_size": BLOCK_SIZE,
            "k1": K1,
            "b": B,
            "tokenizer": tokenizer,
            "positions": positions,
            "analyzer": analyzer,
        }
        wh.write_meta("sys_meta", meta)
        return 1

    def step_doc_map():
        docs = wh.read(spark, "docs").select("conv_id", "turn_idx", "doc_id")
        ds = wh.read(spark, "doc_stats").select("doc_id", "dl")
        wh.write(docs.join(ds, "doc_id"), "doc_map")
        return wh.count_rows("doc_map")

    def step_postings():
        import shutil

        meta = read_meta(spark, wh)
        toks = _tokens_df()
        if "dl" in toks.columns:
            tokens_with_dl = toks  # dl packed at tokenize time — no join
        else:
            ds = wh.read(spark, "doc_stats").select("doc_id", "dl")
            tokens_with_dl = toks.join(ds, "doc_id")
        # materialize-then-pack scratch (leading "_" = hadoop-hidden, so a
        # crashed build's leftover never reads as a table); deleted after
        # the postings table commits
        scratch = wh.path("_postings_sort_scratch")
        try:
            postings = build_postings(
                tokens_with_dl,
                avgdl=meta["avgdl"],
                docs_per_shard=docs_per_shard,
                n_buckets=n_buckets,
                num_partitions=num_partitions,
                positions=positions,
                scratch_dir=scratch,
            )
            wh.write(postings, "postings", partition_by=("term_bucket",))
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        return wh.count_rows("postings")

    runner.step("docs", step_docs)
    if materialize_tokens:
        runner.step("tokens", step_tokens)
    runner.step("doc_stats", step_doc_stats)
    runner.step("term_stats", step_term_stats)
    runner.step("meta", step_meta)
    runner.step("doc_map", step_doc_map)
    runner.step("postings", step_postings)
    log.mark("ALL", "ok", 0, 0)
    return runner


def read_meta(spark: SparkSession, wh: Warehouse) -> dict:
    return wh.read_meta("sys_meta")
