"""Incremental index segments + compaction (SURVEY §2.4 E8).

The reference's pipeline is incremental by construction: every Kafka batch
is another bulk-index round, and Elasticsearch/Lucene absorbs it as a new
segment that queries see after a refresh, with background segment merges
(implied behind ``MessageHandler.java:65-107``; segment semantics are
public Lucene behavior). This module owns those semantics Spark-side:

* ``append_segment(spark, new_transcripts, warehouse)`` — builds a
  self-contained index fragment (docs/tokens/doc_stats/term_stats/
  postings) for a NEW batch of turns under ``warehouse/segments/<seg>/``,
  assigning dense doc_ids that continue after the current corpus max, and
  registers it in ``sys_segments``. Registration is the LAST write (the
  at-least-once commit ordering of the reference: ES post before offset
  commit, ``jobs/IndexerJob.java:377-415``), and an ``idempotency_key``
  makes replays no-ops (the streaming ``foreachBatch`` caller passes the
  batch id — same contract as committing a Kafka offset).

  One step chain builds every index fragment (:func:`_build_segment`):
  the full build (``build_index``, and through it ``compact()`` and
  ``reindex()``), an appended segment and ``optimize()``'s merge. It is
  placed like ``search()``: a batch whose optimized plan size estimate
  is at most ``DRIVER_MAX_SEGMENT_BYTES`` is collected once
  (``toArrow()``) and every table is built on the driver with pyarrow
  and the same kernels — the analyzer body of ``doc_term_freqs``,
  Spark's term-bucket hash in NumPy and the postings pack — so the
  refresh of a micro-batch, or a small full build, runs one Spark job
  instead of ~27. Larger or unknown-size batches (no statistics, or a
  plan that can multiply rows) and the build options only Spark serves
  (another ``tokenizer``, ``materialize_tokens=False``) run the same
  steps as Spark jobs. Both placements write equal rows and Spark
  schemas under the same checkpointed steps.
* ``Index`` (query/engine.py) unions base + segment postings; global stats
  (N, avgdl, df) are re-aggregated at plan time so scores stay EXACT after
  appends — only the baked block-max bounds are per-segment, and the
  query kernel substitutes a provably-safe bound when the global avgdl
  has drifted above a segment's baked avgdl (see kernels._Run).
* ``compact(spark, warehouse)`` — the Lucene merge: rebuilds base tables
  from the union of all forward indexes (tokens), re-baking postings and
  block-max bounds against the true global avgdl, then retires segments.

Doc-range disjointness makes all of this cheap: segment k's doc_ids all
exceed segment k-1's, so same-(term, shard) runs from different segments
are doc-disjoint and the query kernels' existing multi-run handling needs
no merge work at read time.
"""

from __future__ import annotations

import functools
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_elasticsearch_standalone_consumer_spark.analysis import (
    doc_term_freqs,
    term_freqs,
    term_freqs_schema,
    tokens_from,
)
from kafka_elasticsearch_standalone_consumer_spark.ids import dense_ids
from kafka_elasticsearch_standalone_consumer_spark.index.build import (
    build_postings,
    pack_postings_arrow,
    term_buckets,
    with_shard,
)
from kafka_elasticsearch_standalone_consumer_spark.pipeline.checkpoint import (
    CHECKPOINT_TABLE,
    METRICS_TABLE,
    CheckpointLog,
    StepRunner,
)
from kafka_elasticsearch_standalone_consumer_spark.stats import (
    build_doc_stats,
    build_term_stats,
)
from kafka_elasticsearch_standalone_consumer_spark.tables import Warehouse

SEGMENTS_TABLE = "sys_segments"
RETIRED_KEYS_TABLE = "sys_retired_keys"

# Largest batch (optimized-plan size estimate, bytes) whose segment is
# built on the driver; larger or unknown-size batches run as Spark jobs.
# Set below the measured wall crossover of the two placements.
DRIVER_MAX_SEGMENT_BYTES = 8 << 20


def _retired_schema():
    import pyarrow as pa

    return pa.schema([("idempotency_key", pa.string()), ("ts", pa.float64())])


def _retired_keys(wh: Warehouse) -> set[str]:
    if not wh.exists(RETIRED_KEYS_TABLE):
        return set()
    return {r["idempotency_key"] for r in wh.read_rows(RETIRED_KEYS_TABLE)}


def _segments_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("seg_id", pa.int64()),
            ("idempotency_key", pa.string()),
            ("n_docs", pa.int64()),
            ("doc_id_lo", pa.int64()),
            ("doc_id_hi", pa.int64()),  # exclusive
            ("sum_dl", pa.int64()),
            ("baked_avgdl", pa.float64()),
            ("ts", pa.float64()),
        ]
    )


def list_segments(wh: Warehouse) -> list[dict]:
    """Registered segments, ascending seg_id. seg 0 is the base build."""
    if not wh.exists(SEGMENTS_TABLE):
        return []
    return sorted(wh.read_rows(SEGMENTS_TABLE), key=lambda r: r["seg_id"])


def registry_totals(wh: Warehouse) -> tuple[int, float] | None:
    """(n_docs, avgdl) derived from the segment REGISTRY, or None when no
    registry exists (plain single-segment build).

    The registry row is the commit point of :func:`append_segment`; the
    sys_meta refresh happens after it, so a crash in between leaves
    sys_meta stale while the segment is already live. Readers that derive
    totals from the registry (Index.__init__ does) are immune to that
    window. Uses the same ``sum()`` expressions as the append-time refresh
    so the floats are bit-identical when both paths run."""
    segs = list_segments(wh)
    if not segs:
        return None
    total_n = sum(s["n_docs"] for s in segs)
    total_dl = sum(s["sum_dl"] for s in segs)
    return total_n, (total_dl / total_n) if total_n else 0.0


def _sync_meta_totals(wh: Warehouse, meta: dict) -> None:
    """Repair sys_meta's n_docs/avgdl from the segment registry if they
    drifted (crash between registry commit and meta refresh)."""
    totals = registry_totals(wh)
    if totals is None:
        return
    n, avgdl = totals
    if int(meta.get("n_docs", -1)) != n or float(meta.get("avgdl", -1.0)) != avgdl:
        meta.update(n_docs=n, avgdl=avgdl)
        wh.write_meta("sys_meta", meta)


def seg_warehouse(wh: Warehouse, seg_id: int) -> Warehouse:
    return Warehouse(os.path.join(wh.root, "segments", str(seg_id)))


def _ensure_base_segment_row(wh: Warehouse) -> list[dict]:
    """Lazily register the base build as segment 0 (records its baked
    avgdl BEFORE any append mutates the global meta)."""
    segs = list_segments(wh)
    if segs:
        return segs
    meta = wh.read_meta("sys_meta")
    n = int(meta["n_docs"])
    row = [
        (
            0,
            "__base__",
            n,
            0,
            n,
            int(round(float(meta["avgdl"]) * n)),
            float(meta["avgdl"]),
            time.time(),
        )
    ]
    wh.append_rows(SEGMENTS_TABLE, row, _segments_schema())
    return list_segments(wh)


# Plan nodes (logical or physical, by node name) that can emit more rows
# than they read. Spark's size-only estimator gives them their child's
# size: ``generate_transcripts(spark, n)``, a ``spark.range(n)`` under
# ``mapInPandas``, estimates at 8·n bytes for ~11·n turns. A plan holding
# one has no size bound, so its batch counts as unknown-size.
_ROW_MULTIPLYING = (
    "Generate", "MapInPandas", "MapInArrow", "FlatMapGroups", "FlatMapCoGroups",
    "MapPartitions", "MapGroups", "CoGroup", "UDTF",
)


def _multiplies_rows(plan) -> bool:
    """Whether any node under ``plan`` is in ``_ROW_MULTIPLYING``. A cached
    frame not yet filled is looked at through the plan it caches, since
    its estimate is that plan's until then (a filled one reports its real
    size). Walks the JVM tree; no job."""
    name = plan.nodeName()
    if any(s in name for s in _ROW_MULTIPLYING):
        return True
    kids = plan.children()
    kids = [kids.apply(i) for i in range(kids.size())]
    if name == "InMemoryRelation":
        if not plan.cacheBuilder().isCachedColumnBuffersLoaded():
            kids.append(plan.cacheBuilder().cachedPlan())
    elif name == "InMemoryTableScan":
        kids.append(plan.relation())
    return any(_multiplies_rows(k) for k in kids)


# Spark's size estimate of a plan without statistics (Long.MAX_VALUE)
UNKNOWN_BYTES = (1 << 63) - 1


def _plan_bytes(batch: DataFrame) -> int:
    """The batch's optimized-plan size estimate in bytes — the statistic
    Spark picks broadcast joins by; reading it runs no job. A plan that
    can multiply rows has no size bound and reads ``UNKNOWN_BYTES``, as
    a plan without statistics does."""
    plan = batch._jdf.queryExecution().optimizedPlan()
    if _multiplies_rows(plan):
        return UNKNOWN_BYTES
    return int(plan.stats().sizeInBytes())


def _on_driver(batch: DataFrame) -> bool:
    """Placement of a segment build by size: on the driver when the
    batch's plan size estimate is at most ``DRIVER_MAX_SEGMENT_BYTES``;
    an unknown size stays on the executors."""
    return _plan_bytes(batch) <= DRIVER_MAX_SEGMENT_BYTES


def _build_segment(
    spark: SparkSession,
    batch: DataFrame,
    swh: Warehouse,
    runner: StepRunner,
    meta: dict,
    base: int | None,
    totals: tuple[int, int] | None = None,
    num_partitions: int | None = None,
    tokenizer: str = "fused",
    materialize_tokens: bool = True,
    stats_steps=None,
    avgdl=None,
) -> None:
    """Write one index fragment's tables under ``swh`` — docs, tokens,
    doc_stats, term_stats, the ``stats_steps``, postings — one
    checkpointed step each, with the analyzer / positions / layout knobs
    of ``meta``. Every build runs here: :func:`build_index` (so
    :func:`compact` and :func:`reindex`), :func:`append_segment` and
    :func:`optimize`'s merge.

    ``base`` is the first doc_id: the batch's turns get dense ids from
    it in (conv_id, turn_idx) order. ``base=None`` keeps the batch's own
    doc_ids (a merge of segments). ``stats_steps(on_driver)`` and
    ``avgdl()`` (the value the postings bake in) default to a segment's:
    a ``seg_meta`` step recording ``totals`` = (n_docs, sum_dl), or the
    sums of doc_stats, and their ratio.

    On the driver when :func:`_on_driver` says so and the tokens are the
    fused analyzer's materialized rows; else as Spark jobs. Both write
    the same rows with the same Spark schemas. The placement and the
    size estimate behind it go to ``sys_metrics`` (phase ``docs``, keys
    ``on_driver`` and ``plan_bytes``)."""
    knobs = dict(
        positions=bool(meta.get("positions", False)),
        analyzer=str(meta.get("analyzer", "standard")),
        docs_per_shard=int(meta["docs_per_shard"]),
        n_buckets=int(meta["n_buckets"]),
    )
    on_driver = (
        materialize_tokens and (tokenizer == "fused" or knobs["positions"]) and _on_driver(batch)
    )
    runner.log.metric("docs", "on_driver", float(on_driver))
    runner.log.metric("docs", "plan_bytes", float(_plan_bytes(batch)))
    if stats_steps is None:

        def step_seg_meta():
            n, sum_dl = totals if totals is not None else _dl_totals(spark, swh, on_driver)
            swh.write_meta("seg_meta", {"n_docs": n, "sum_dl": sum_dl})
            return 1

        stats, avgdl = [("seg_meta", step_seg_meta)], functools.partial(_baked_avgdl, swh)
    else:
        stats = stats_steps(on_driver)
    if on_driver:
        *head, postings = _driver_steps(batch, swh, base, avgdl, **knobs)
    else:
        *head, postings = _executor_steps(
            spark, batch, swh, base, avgdl, num_partitions, tokenizer, materialize_tokens,
            **knobs,
        )
    for name, fn in [*head, *stats, postings]:
        runner.step(name, fn)


def build_placement(wh: Warehouse) -> dict | None:
    """``{"on_driver": bool, "plan_bytes": int}`` as recorded by the run
    that wrote the docs table under ``wh`` (see :func:`_build_segment`),
    or None when that run recorded none."""
    if not (wh.exists(CHECKPOINT_TABLE) and wh.exists(METRICS_TABLE)):
        return None
    runs = {
        r["run_id"] for r in wh.read_rows(CHECKPOINT_TABLE)
        if r["step_id"] == "docs" and r["status"] == "ok"
    }
    got = {
        r["key"]: r["value"] for r in wh.read_rows(METRICS_TABLE)
        if r["run_id"] in runs and r["phase"] == "docs" and r["key"] in ("on_driver", "plan_bytes")
    }
    if len(got) < 2:
        return None
    # a float64 row holds Long.MAX_VALUE as 2^63
    return {"on_driver": bool(got["on_driver"]), "plan_bytes": min(int(got["plan_bytes"]), UNKNOWN_BYTES)}


def _dl_totals(spark: SparkSession, swh: Warehouse, on_driver: bool) -> tuple[int, int]:
    """(n_docs, sum_dl) of the doc_stats table under ``swh``."""
    if on_driver:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        dl = pq.read_table(swh.path("doc_stats"), columns=["dl"]).column("dl")
        return len(dl), int(pc.sum(dl).as_py() or 0)
    return _doc_stats_totals(swh.read(spark, "doc_stats"))


def _doc_stats_totals(doc_stats: DataFrame) -> tuple[int, int]:
    """(n_docs, sum_dl) of a doc_stats frame: the exact long sum every
    build divides by n for its avgdl."""
    row = doc_stats.agg(F.count("*").alias("n"), F.sum("dl").alias("sum_dl")).collect()[0]
    return row["n"], int(row["sum_dl"] or 0)


def _tokenize_docs(docs: DataFrame, tokenizer: str, positions: bool, analyzer: str) -> DataFrame:
    """The tokens table of ``docs`` as the Spark build writes it: the
    fused tokenizer (zero-shuffle, dl packed per row) for ``"fused"`` or
    with positions — a segment of a positions index must pack positions
    too, or the query-time unionByName of base + segment postings throws
    — else ``tokenizer``'s rows, which carry no dl."""
    if tokenizer == "fused" or positions:
        return doc_term_freqs(docs, positions=positions, analyzer=analyzer)
    return tokens_from(docs, method=tokenizer, analyzer=analyzer)


def _baked_avgdl(swh: Warehouse) -> float:
    seg = swh.read_meta("seg_meta")
    return (seg["sum_dl"] / seg["n_docs"]) if seg["n_docs"] else 0.0


def _executor_steps(
    spark, batch, swh, base, avgdl, num_partitions, tokenizer, materialize_tokens,
    positions, analyzer, docs_per_shard, n_buckets,
):
    """The build steps as Spark jobs, each reading the tables the steps
    before it wrote: (name, fn) for docs, tokens (unless
    ``materialize_tokens`` is off), doc_stats, term_stats, postings."""

    def step_docs():
        if base is None:
            swh.write(batch, "docs")
            return swh.count_rows("docs")
        # The id assignment's range partitioner SAMPLES its input before
        # the shuffle consumes it, so an unmaterialized source (the
        # generator; on a cluster: a view over decoded Kafka batches) is
        # computed twice. Persist it for the step's duration; on a table
        # scan this is a cheap no-op class of cache. An input the caller
        # already cached is used as is and stays cached.
        lvl = batch.storageLevel
        owned = not (lvl.useMemory or lvl.useDisk)
        src = batch.persist() if owned else batch
        try:
            with dense_ids(src, num_partitions=num_partitions) as docs:
                swh.write(docs.withColumn("doc_id", F.col("doc_id") + F.lit(base)), "docs")
        finally:
            if owned:
                src.unpersist()
        return swh.count_rows("docs")

    def tokenize():
        return _tokenize_docs(swh.read(spark, "docs"), tokenizer, positions, analyzer)

    def tokens():
        # without a tokens table every step re-runs the narrow tokenize
        # pass over docs instead of reading the forward index
        return swh.read(spark, "tokens") if swh.exists("tokens") else tokenize()

    def step_tokens():
        swh.write(tokenize(), "tokens")
        return swh.count_rows("tokens")

    def step_doc_stats():
        docs = swh.read(spark, "docs")
        swh.write(with_shard(build_doc_stats(docs, tokens()), docs_per_shard), "doc_stats")
        return swh.count_rows("doc_stats")

    def step_term_stats():
        swh.write(build_term_stats(tokens(), n_buckets=n_buckets), "term_stats")
        return swh.count_rows("term_stats")

    def step_postings():
        toks = tokens()
        if "dl" not in toks.columns:  # a tokenizer that packs no dl
            toks = toks.join(swh.read(spark, "doc_stats").select("doc_id", "dl"), "doc_id")
        # materialize-then-pack scratch (leading "_" = hadoop-hidden, so a
        # crashed build's leftover never reads as a table); deleted after
        # the postings table commits
        scratch = swh.path("_postings_sort_scratch")
        try:
            postings = build_postings(
                toks,
                avgdl=avgdl() or 1e-9,
                docs_per_shard=docs_per_shard,
                n_buckets=n_buckets,
                num_partitions=num_partitions,
                positions=positions,
                scratch_dir=scratch,
            )
            swh.write(postings, "postings", partition_by=("term_bucket",))
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        return swh.count_rows("postings")

    return [
        ("docs", step_docs), *([("tokens", step_tokens)] if materialize_tokens else []),
        ("doc_stats", step_doc_stats), ("term_stats", step_term_stats),
        ("postings", step_postings),
    ]


def _driver_steps(batch, swh, base, avgdl, positions, analyzer, docs_per_shard, n_buckets):
    """The build steps on the driver: one ``toArrow()`` collect of the
    batch, then pyarrow/NumPy over the same kernels the Spark steps run —
    :func:`term_freqs` (the tokenizer body of ``doc_term_freqs``),
    :func:`term_buckets` (Spark's term-bucket hash in NumPy) and the
    postings pack. Each step reads the tables before it back with
    pyarrow, so a resumed build needs nothing held in memory."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    def read(name, columns=None):
        return pq.read_table(swh.path(name), columns=columns)

    def step_docs():
        tbl = batch.toArrow()
        if base is None:
            tbl = tbl.sort_by("doc_id")
        else:
            tbl = tbl.sort_by(
                [("conv_id", "ascending"), ("turn_idx", "ascending")], null_placement="at_start"
            )
            ids = np.arange(base, base + tbl.num_rows, dtype=np.int64)
            tbl = tbl.append_column("doc_id", pa.array(ids))
        swh.write_arrow(tbl, "docs")
        return tbl.num_rows

    def step_tokens():
        schema = to_arrow_schema(DataType.fromDDL(term_freqs_schema(positions=positions)))
        g = term_freqs(read("docs", ["doc_id", "text"]).to_pandas(), positions=positions,
                       analyzer=analyzer)
        tbl = schema.empty_table() if g is None else pa.Table.from_pandas(
            g, schema=schema, preserve_index=False
        )
        swh.write_arrow(tbl, "tokens")
        return tbl.num_rows

    def step_doc_stats():
        ids = read("docs", ["doc_id"]).column("doc_id").to_numpy()
        dl = read("tokens", ["doc_id", "dl"]).to_pandas().groupby("doc_id")["dl"].min()
        tbl = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "dl": pa.array(dl.reindex(ids, fill_value=0).to_numpy(np.int32)),
            "shard": pa.array(ids // docs_per_shard, pa.int64()),
        })
        swh.write_arrow(tbl, "doc_stats")
        return tbl.num_rows

    def step_term_stats():
        ts = read("tokens", ["term", "tf"]).group_by("term").aggregate(
            [("tf", "count"), ("tf", "max")]
        )
        terms = ts["term"]
        ts = pa.table({
            "term": terms, "df": ts["tf_count"], "max_tf": ts["tf_max"],
            "term_bucket": pa.array(term_buckets(terms, n_buckets)),
            "term_len": pc.utf8_length(terms).cast(pa.int32()),  # code points, as F.length
        })
        swh.write_arrow(ts.sort_by("term"), "term_stats")
        return ts.num_rows

    def step_postings():
        tbl = pack_postings_arrow(
            read("tokens"), read("term_stats", ["term", "term_bucket"]),
            avgdl=avgdl() or 1e-9, docs_per_shard=docs_per_shard,
            positions=positions,
        )
        swh.write_arrow(tbl, "postings", partition_by="term_bucket")
        return tbl.num_rows

    return [
        ("docs", step_docs), ("tokens", step_tokens), ("doc_stats", step_doc_stats),
        ("term_stats", step_term_stats), ("postings", step_postings),
    ]


def append_segment(
    spark: SparkSession,
    new_transcripts: DataFrame,
    warehouse_path: str,
    idempotency_key: str | None = None,
    num_partitions: int | None = None,
    run_id: str | None = None,
) -> int | None:
    """Index a new batch of turns as the next segment; returns its seg_id
    (or None when ``idempotency_key`` was already committed — replay)."""
    wh = Warehouse(warehouse_path)
    meta = wh.read_meta("sys_meta")
    segs = _ensure_base_segment_row(wh)
    if idempotency_key is not None and (
        any(s["idempotency_key"] == idempotency_key for s in segs)
        or idempotency_key in _retired_keys(wh)
    ):
        # replayed batch — the reference skips re-committed offsets. Also
        # repair sys_meta in case the original run crashed between its
        # registry commit and its meta refresh (the replay is the retry).
        _sync_meta_totals(wh, meta)
        return None
    seg_id = segs[-1]["seg_id"] + 1
    base = int(segs[-1]["doc_id_hi"])
    swh = seg_warehouse(wh, seg_id)
    log = CheckpointLog(spark, swh, run_id)
    _build_segment(
        spark, new_transcripts, swh, StepRunner(log), meta, base=base,
        num_partitions=num_partitions,
    )

    # COMMIT: register the segment (last write — at-least-once ordering),
    # then refresh global meta so new Index instances see the new corpus.
    seg = swh.read_meta("seg_meta")
    n_new, sum_dl_new = int(seg["n_docs"]), int(seg["sum_dl"])
    wh.append_rows(
        SEGMENTS_TABLE,
        [
            (
                seg_id,
                idempotency_key or f"seg-{seg_id}",
                n_new,
                base,
                base + n_new,
                sum_dl_new,
                (sum_dl_new / n_new) if n_new else 0.0,
                time.time(),
            )
        ],
        _segments_schema(),
    )
    all_segs = list_segments(wh)
    total_n = sum(s["n_docs"] for s in all_segs)
    total_dl = sum(s["sum_dl"] for s in all_segs)
    meta.update(n_docs=total_n, avgdl=(total_dl / total_n) if total_n else 0.0)
    wh.write_meta("sys_meta", meta)
    log.mark("ALL", "ok", n_new, 0)
    return seg_id


DELETES_TABLE = "sys_deletes"


def delete_docs(spark: SparkSession, warehouse_path: str, where: str) -> int:
    """Delete documents by predicate — Lucene tombstone semantics: matching
    doc_ids are appended to a live-docs exclusion table and disappear from
    every query surface immediately, while corpus statistics (N, avgdl,
    df) stay FROZEN until the next :func:`compact` purges them (exactly
    how Lucene/ES behave between deletes and segment merges: surviving
    docs keep their pre-delete scores). Returns the number of tombstones
    written."""
    wh = Warehouse(warehouse_path)
    segs = list_segments(wh)
    whs = [wh] + [seg_warehouse(wh, s["seg_id"]) for s in segs[1:]]
    docs = whs[0].read(spark, "docs")
    for w in whs[1:]:
        docs = docs.unionByName(w.read(spark, "docs"))
    ids = docs.filter(where).select("doc_id")
    if wh.exists(DELETES_TABLE):
        ids = ids.join(wh.read(spark, DELETES_TABLE), "doc_id", "left_anti")
    before = wh.count_rows(DELETES_TABLE) if wh.exists(DELETES_TABLE) else 0
    wh.write(ids, DELETES_TABLE, mode="append")
    return wh.count_rows(DELETES_TABLE) - before  # NEW tombstones only


def delete_by_query(
    spark: SparkSession,
    warehouse_path: str,
    query_text: str,
    where: str | None = None,
    min_should_match: int = 1,
) -> int:
    """ES 1.x delete-by-query (``DELETE /{index}/_query`` — a first-class
    API in the ES 1.5.1 the reference writes into, removed in 2.0):
    tombstone every LIVE doc the analyzed query matches (≥
    ``min_should_match`` distinct terms, optional ``where`` filter).
    Same frozen-stats Lucene semantics as :func:`delete_docs`; the match
    set comes from the engine's term-pruned scope (already tombstone-
    excluded), so a replay is a no-op. Returns new tombstones written."""
    from kafka_elasticsearch_standalone_consumer_spark.query.engine import Index

    wh = Warehouse(warehouse_path)
    scoped = Index(spark, warehouse_path)._agg_scope(
        query_text, where, min_should_match
    )
    if scoped is None:
        return 0
    before = wh.count_rows(DELETES_TABLE) if wh.exists(DELETES_TABLE) else 0
    wh.write(scoped.select("doc_id"), DELETES_TABLE, mode="append")
    return wh.count_rows(DELETES_TABLE) - before


def update_docs(
    spark: SparkSession,
    updates: DataFrame,
    warehouse_path: str,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    idempotency_key: str | None = None,
    num_partitions: int | None = None,
    run_id: str | None = None,
) -> tuple[int, int | None]:
    """ES bulk update / upsert by natural key (ES ``_id``; here the
    transcript identity ``(conv_id, turn_idx)`` — :meth:`Index.doc_keys`).
    Each row of ``updates`` REPLACES the live document with the same key,
    or inserts when no live doc carries it (ES upsert). Exactly Lucene's
    update-as-delete-plus-add: the old version is tombstoned (frozen
    stats until :func:`compact`, like :func:`delete_docs`) and the new
    version is indexed under a fresh internal doc_id in a new segment via
    :func:`append_segment`. The reference posts bulk index requests into
    ES (reference ``MessageHandler.java:135-139`` ``prepareBulk``/
    ``prepareIndex``), where the same request with an explicit id IS the
    replace operation — this is that id'd-index/upsert surface. Returns
    ``(n_replaced, seg_id)``.

    Replay-safe: the idempotency check runs BEFORE tombstoning (a
    replayed batch must not tombstone the versions it itself wrote), and
    a crash between the tombstone write and the segment commit retries
    into a no-op tombstone pass (already-tombstoned ids are excluded)
    plus the append's own checkpoint resume. Keys must be unique within
    one batch — two versions of a key in the same ``updates`` would both
    go live (ES applies same-id bulk items sequentially; callers dedupe).

    100 TB shape: one key-projected union scan of the doc stores
    semi-joined against the (small, broadcastable) update key set for the
    tombstones, then the standard segment build — no per-doc driver work.
    """
    wh = Warehouse(warehouse_path)
    segs = _ensure_base_segment_row(wh)
    if idempotency_key is not None and (
        any(s["idempotency_key"] == idempotency_key for s in segs)
        or idempotency_key in _retired_keys(wh)
    ):
        return 0, None
    keys = updates.select(*key_cols).distinct()
    whs = [wh] + [seg_warehouse(wh, s["seg_id"]) for s in segs[1:]]
    docs = whs[0].read(spark, "docs").select("doc_id", *key_cols)
    for w in whs[1:]:
        docs = docs.unionByName(w.read(spark, "docs").select("doc_id", *key_cols))
    ids = docs.join(F.broadcast(keys), list(key_cols), "left_semi").select("doc_id")
    if wh.exists(DELETES_TABLE):
        ids = ids.join(wh.read(spark, DELETES_TABLE), "doc_id", "left_anti")
    before = wh.count_rows(DELETES_TABLE) if wh.exists(DELETES_TABLE) else 0
    wh.write(ids, DELETES_TABLE, mode="append")
    n_replaced = wh.count_rows(DELETES_TABLE) - before
    seg_id = append_segment(
        spark, updates, warehouse_path,
        idempotency_key=idempotency_key,
        num_partitions=num_partitions, run_id=run_id,
    )
    return n_replaced, seg_id


def reindex(
    spark: SparkSession,
    src_warehouse: str,
    dst_warehouse: str,
    where: str | None = None,
    analyzer: str | None = None,
    positions: bool | None = None,
    docs_per_shard: int | None = None,
    n_buckets: int | None = None,
    num_partitions: int | None = None,
    run_id: str | None = None,
) -> int:
    """ES ``_reindex``: rebuild a NEW index from the source's live
    documents — optionally filtered (``where``, ES's reindex query) and
    with different "mappings" (``analyzer``/``positions``/layout knobs; ES
    users reindex precisely to change analysis or sharding). Deletes are
    purged, segment structure flattened, doc_ids reassigned densely.
    Returns the number of documents indexed.

    Same distributed shape as :func:`compact` (which is reindex-in-place):
    one union of the per-segment doc stores, one filter, one build — no
    per-doc driver work."""
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index

    src = Warehouse(src_warehouse)
    meta = src.read_meta("sys_meta")
    segs = list_segments(src)
    docs_all = src.read(spark, "docs")
    for s in segs[1:]:
        docs_all = docs_all.unionByName(
            seg_warehouse(src, s["seg_id"]).read(spark, "docs")
        )
    if src.exists(DELETES_TABLE):
        docs_all = docs_all.join(src.read(spark, DELETES_TABLE), "doc_id", "left_anti")
    if where is not None:
        docs_all = docs_all.filter(where)
    build_index(
        spark,
        docs_all.drop("doc_id"),
        dst_warehouse,
        docs_per_shard=int(docs_per_shard or meta["docs_per_shard"]),
        n_buckets=int(n_buckets or meta["n_buckets"]),
        tokenizer=meta.get("tokenizer", "fused"),
        num_partitions=num_partitions,
        run_id=run_id,
        positions=bool(meta.get("positions", False) if positions is None else positions),
        analyzer=str(meta.get("analyzer", "standard") if analyzer is None else analyzer),
    )
    return int(Warehouse(dst_warehouse).read_meta("sys_meta")["n_docs"])


def optimize(
    spark: SparkSession,
    warehouse_path: str,
    max_num_segments: int = 1,
    num_partitions: int | None = None,
    run_id: str | None = None,
) -> int:
    """ES 1.x ``_optimize`` (force-merge) with ``max_num_segments``:
    tiered PARTIAL compaction. ``max_num_segments=1`` delegates to
    :func:`compact` (full merge, tombstones purged). For N ≥ 2, the
    NEWEST ``n_segments - N + 1`` segments — the micro-batch tail tiered
    merging exists for — merge into ONE new segment: doc_ids are
    PRESERVED (the merged run is contiguous by construction, so no
    remapping and tombstones stay valid), the registry totals are the
    same integers (global n_docs/avgdl bit-identical → every query
    scores identically before and after), and only the merged segment's
    block-max bounds are re-baked, at its own merged avgdl, exactly like
    an append. Deliberate deviation from Lucene, documented: tombstones
    SURVIVE a partial optimize (this engine freezes corpus stats until
    :func:`compact`, which purges them) — observable query results are
    unchanged either way. Returns the number of segments retired.

    Crash ordering mirrors append/compact: the merged segment builds in
    a temp dir, renames into place, THEN the registry swaps (the commit
    point, after which readers see keep+merged), then the retired
    segment dirs drop — a crash anywhere leaves either the old registry
    with all old dirs or the new registry with the new dir present.
    Reference parity: the reference's ES owns this via the _optimize API
    (delegated at ref MessageHandler.java:135-139)."""
    if max_num_segments <= 1:
        return compact(spark, warehouse_path, num_partitions=num_partitions, run_id=run_id)
    wh = Warehouse(warehouse_path)
    segs = _ensure_base_segment_row(wh)
    if len(segs) <= max_num_segments:
        return 0
    keep, merge = segs[: max_num_segments - 1], segs[max_num_segments - 1 :]
    assert merge[0]["seg_id"] != 0, "base segment is never in the merge tail"
    meta = wh.read_meta("sys_meta")
    new_id = segs[-1]["seg_id"] + 1
    tmp_root = os.path.join(wh.root, "_optimize_tmp")
    shutil.rmtree(tmp_root, ignore_errors=True)
    docs = seg_warehouse(wh, merge[0]["seg_id"]).read(spark, "docs")
    for s in merge[1:]:
        docs = docs.unionByName(seg_warehouse(wh, s["seg_id"]).read(spark, "docs"))
    # registry integers are exact — reuse them so totals stay bit-identical
    n_m = sum(int(s["n_docs"]) for s in merge)
    dl_m = sum(int(s["sum_dl"]) for s in merge)
    baked = (dl_m / n_m) if n_m else 0.0
    swh = Warehouse(tmp_root)
    _build_segment(
        spark, docs, swh, StepRunner(CheckpointLog(spark, swh, run_id)), meta,
        base=None, totals=(n_m, dl_m), num_partitions=num_partitions,
    )
    # retire the merged batches' idempotency keys FIRST: a replay of one of
    # them must stay a no-op whether or not the swap below has happened yet
    wh.append_rows(
        RETIRED_KEYS_TABLE,
        [(s["idempotency_key"], time.time()) for s in merge],
        _retired_schema(),
    )
    final_dir = os.path.join(wh.root, "segments", str(new_id))
    shutil.rmtree(final_dir, ignore_errors=True)
    os.makedirs(os.path.dirname(final_dir), exist_ok=True)
    os.rename(tmp_root, final_dir)
    # registry swap — the commit point
    fields = [f.name for f in _segments_schema()]
    rows = [tuple(s[f] for f in fields) for s in keep] + [
        (
            new_id,
            f"optimize-{new_id}",
            n_m,
            int(merge[0]["doc_id_lo"]),
            int(merge[-1]["doc_id_hi"]),
            dl_m,
            baked,
            time.time(),
        )
    ]
    reg_tmp = Warehouse(os.path.join(wh.root, "_optimize_reg_tmp"))
    shutil.rmtree(reg_tmp.root, ignore_errors=True)
    reg_tmp.append_rows(SEGMENTS_TABLE, rows, _segments_schema())
    dst = wh.path(SEGMENTS_TABLE)
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(reg_tmp.path(SEGMENTS_TABLE), dst)
    shutil.rmtree(reg_tmp.root, ignore_errors=True)
    for s in merge:
        shutil.rmtree(os.path.join(wh.root, "segments", str(s["seg_id"])), ignore_errors=True)
    return len(merge) - 1


def compact(
    spark: SparkSession,
    warehouse_path: str,
    num_partitions: int | None = None,
    run_id: str | None = None,
) -> int:
    """Merge all segments back into the base index (Lucene segment merge),
    purging delete tombstones in the process.

    Rebuilds from the union of per-segment document stores — postings and
    block-max bounds are re-baked against the true global avgdl of the
    SURVIVING docs, so a compacted index is bit-identical in query
    semantics to a one-shot build over the post-delete corpus. Returns the
    number of segments retired.
    """
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index

    wh = Warehouse(warehouse_path)
    segs = list_segments(wh)
    has_deletes = wh.exists(DELETES_TABLE) and wh.count_rows(DELETES_TABLE) > 0
    if len(segs) <= 1 and not has_deletes:
        return 0
    segs = _ensure_base_segment_row(wh)  # deletes-only compaction path
    meta = wh.read_meta("sys_meta")
    docs_all = wh.read(spark, "docs")
    for s in segs[1:]:
        docs_all = docs_all.unionByName(seg_warehouse(wh, s["seg_id"]).read(spark, "docs"))
    if has_deletes:
        docs_all = docs_all.join(wh.read(spark, DELETES_TABLE), "doc_id", "left_anti")
    # rebuild into a fresh directory, then atomically swap
    tmp_root = os.path.join(wh.root, "_compact_tmp")
    shutil.rmtree(tmp_root, ignore_errors=True)
    build_index(
        spark,
        docs_all.drop("doc_id"),
        tmp_root,
        docs_per_shard=int(meta["docs_per_shard"]),
        n_buckets=int(meta["n_buckets"]),
        tokenizer=meta.get("tokenizer", "fused"),
        num_partitions=num_partitions,
        run_id=run_id,
        # build-knob parity: a compacted index must stay query-identical
        # to a one-shot build with the SAME knobs — in particular a
        # positions index must stay phrase-queryable after auto-compaction
        positions=bool(meta.get("positions", False)),
        analyzer=str(meta.get("analyzer", "standard")),
        materialize_tokens=wh.exists("tokens"),
    )
    retired = len(segs) - 1
    # Preserve consumed idempotency keys across the registry reset — a
    # micro-batch replayed AFTER a compaction (crash between our commit
    # and the stream's source-offset commit) must still be a no-op.
    wh.append_rows(
        RETIRED_KEYS_TABLE,
        [(s["idempotency_key"], time.time()) for s in segs],
        _retired_schema(),
    )
    for name in ("docs", "tokens", "doc_stats", "term_stats", "doc_map", "postings",
                 "sys_meta", "sys_checkpoint", "sys_metrics"):
        dst = wh.path(name)
        src = os.path.join(tmp_root, name)
        if os.path.isdir(src):
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(src, dst)
    shutil.rmtree(os.path.join(wh.root, "segments"), ignore_errors=True)
    shutil.rmtree(wh.path(SEGMENTS_TABLE), ignore_errors=True)
    shutil.rmtree(wh.path(DELETES_TABLE), ignore_errors=True)  # tombstones purged
    shutil.rmtree(tmp_root, ignore_errors=True)
    return retired
