"""Index build orchestration: transcripts table → index warehouse.

The Spark-native replacement for the reference's whole daemon
(``KafkaIndexerDriver.main`` → ``IndexerJobManager.startAll`` → per-
partition ``IndexerJob.processBatch``; reference
``jobs/IndexerJobManager.java:39-58``, ``jobs/IndexerJob.java:284-426``).
Each step's output is an idempotent table overwrite; a checkpoint row is
appended only after the write succeeds (at-least-once ordering, see
checkpoint.py).

The full build is segment 0 of the one step chain every index fragment
is built by (``incremental._build_segment``); this module adds only the
index-level ``meta`` and ``doc_map`` steps. The chain is placed by input
size — a small input is built on the driver with pyarrow, anything else
as Spark jobs — for ``build_index``, ``compact``, ``reindex`` and
``optimize`` alike.

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

from kafka_elasticsearch_standalone_consumer_spark import B, BLOCK_SIZE, K1
from kafka_elasticsearch_standalone_consumer_spark.analysis import tokens_from
from kafka_elasticsearch_standalone_consumer_spark.ids import dense_ids
from kafka_elasticsearch_standalone_consumer_spark.index.build import (
    DEFAULT_DOCS_PER_SHARD,
    DEFAULT_TERM_BUCKETS,
)
from kafka_elasticsearch_standalone_consumer_spark.pipeline import incremental
from kafka_elasticsearch_standalone_consumer_spark.pipeline.checkpoint import (
    CheckpointLog,
    StepRunner,
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
    recomputes tokens on the fly too. It keeps the build on Spark, as
    does a ``tokenizer`` other than ``"fused"`` without ``positions``.

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

    _build_tables(
        spark, transcripts, wh, runner, 0, docs_per_shard, n_buckets, tokenizer, positions,
        analyzer, num_partitions=num_partitions, materialize_tokens=materialize_tokens,
    )
    log.mark("ALL", "ok", 0, 0)
    return runner


def _build_tables(
    spark: SparkSession,
    src: DataFrame,
    wh: Warehouse,
    runner: StepRunner,
    base: int | None,
    docs_per_shard: int,
    n_buckets: int,
    tokenizer: str,
    positions: bool,
    analyzer: str,
    num_partitions: int | None = None,
    materialize_tokens: bool = True,
) -> None:
    """Write an index's tables under ``wh``: the segment step chain
    (``incremental._build_segment``) with the index-level ``meta`` step
    in its stats slot, plus ``doc_map`` when ``base`` assigns the ids
    from the transcript keys. ``base=None`` keeps ``src``'s doc_ids and
    writes no doc_map (``Index.ephemeral``)."""
    knobs = {
        "docs_per_shard": docs_per_shard,
        "n_buckets": n_buckets,
        "block_size": BLOCK_SIZE,
        "k1": K1,
        "b": B,
        "tokenizer": tokenizer,
        "positions": positions,
        "analyzer": analyzer,
    }

    def index_steps(on_driver: bool):
        def step_meta():
            # one exact long sum, one division: the value F.avg gives below
            # 2^53 tokens, and the same in both placements
            n, sum_dl = incremental._dl_totals(spark, wh, on_driver)
            wh.write_meta("sys_meta", {"n_docs": n, "avgdl": sum_dl / n if n else 0.0, **knobs})
            return 1

        def step_doc_map():
            if on_driver:
                import pyarrow.parquet as pq

                docs = pq.read_table(wh.path("docs"), columns=["conv_id", "turn_idx", "doc_id"])
                dl = pq.read_table(wh.path("doc_stats"), columns=["doc_id", "dl"])
                dm = docs.join(dl, "doc_id").select(["doc_id", "conv_id", "turn_idx", "dl"])
                wh.write_arrow(dm, "doc_map")
                return dm.num_rows
            docs = wh.read(spark, "docs").select("conv_id", "turn_idx", "doc_id")
            ds = wh.read(spark, "doc_stats").select("doc_id", "dl")
            wh.write(docs.join(ds, "doc_id"), "doc_map")
            return wh.count_rows("doc_map")

        return [("meta", step_meta)] + ([("doc_map", step_doc_map)] if base is not None else [])

    incremental._build_segment(
        spark, src, wh, runner, knobs, base=base,
        num_partitions=num_partitions,
        tokenizer=tokenizer,
        materialize_tokens=materialize_tokens,
        stats_steps=index_steps,
        avgdl=lambda: read_meta(spark, wh)["avgdl"],
    )


def read_meta(spark: SparkSession, wh: Warehouse) -> dict:
    return wh.read_meta("sys_meta")
