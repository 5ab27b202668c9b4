"""Inverted-index build: tokens → sharded, compressed posting runs.

This is the Spark-native re-expression of the reference's ingestion loop
(``IndexerJob.processBatch``, reference ``jobs/IndexerJob.java:284-426``):
where the reference fetched a Kafka batch per partition, transformed rows,
and bulk-posted to Elasticsearch, we scan the transcripts table, tokenize,
and build the index Elasticsearch used to build implicitly.

Skew handling (explicit, per the north rule): the shuffle key is
``(term, shard)`` where ``shard = doc_id div docs_per_shard`` partitions
DOCUMENT space into contiguous ranges. A hot term (Zipfian head) therefore
splits into up to ``n_shards`` independent runs — this is salting where the
salt is a *global* doc range, which buys three properties at once:

  1. no (term, shard) group can exceed ``docs_per_shard`` postings —
     bounded task memory regardless of term skew;
  2. runs of the same term are doc-disjoint and ordered — concatenable
     at read time with zero merge work;
  3. every shard is a self-contained mini-index over its doc range (the
     Elasticsearch shard model), so top-k query kernels run per shard
     with no cross-shard data exchange until the final k-row merge.

The pack stage is ONE shuffle (repartition by term+shard, sort within
partitions by (term, shard, doc_id)) followed by a streaming mapInPandas
that packs complete runs per Arrow batch, carrying the possibly-split
trailing run into the next batch — no per-group pandas overhead, constant
memory per task.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_elasticsearch_standalone_consumer_spark import B, BLOCK_SIZE, K1
from kafka_elasticsearch_standalone_consumer_spark.index import codec

DEFAULT_DOCS_PER_SHARD = 1 << 16  # test-scale default; cluster scale: 1<<22
DEFAULT_TERM_BUCKETS = 64

POSTINGS_SCHEMA = (
    "term string, shard long, n_docs int, docs binary, tfs binary, dls binary, "
    "block_offs_docs array<int>, block_offs_tfs array<int>, block_offs_dls array<int>, "
    "block_max_doc array<long>, block_max_tf array<int>, block_max_impact array<float>"
)
POSTINGS_SCHEMA_POS = POSTINGS_SCHEMA + ", pos binary, block_offs_pos array<int>"


def with_shard(df: DataFrame, docs_per_shard: int, doc_col: str = "doc_id") -> DataFrame:
    """Integer-exact doc-range shard id (no float division: survives 10^12 ids)."""
    return df.withColumn("shard", F.expr(f"{doc_col} div {int(docs_per_shard)}"))


def term_bucket_col(term_col="term", n_buckets: int = DEFAULT_TERM_BUCKETS):
    """Stable hash bucket of a term — the postings partition column the
    query path prunes on (``WHERE term_bucket IN (...)``)."""
    return F.pmod(F.xxhash64(F.col(term_col)), F.lit(n_buckets)).cast("int")


_P1, _P2, _P3, _P4, _P5 = (np.uint64(p) for p in (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
))


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxhash64_utf8(strings, seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64`` of each string of an Arrow string array, as
    int64: XXH64 over the UTF-8 bytes with Spark's default seed 42
    (``XXH64.hashUnsafeBytes``), computed column-wise in NumPy. Each
    stage — 32-byte stripes, then the tail's 8-byte words, 4-byte word
    and single bytes — runs over the strings that have those bytes left.
    Nulls are not supported."""
    import pyarrow as pa

    strings = strings.cast(pa.large_string())
    if isinstance(strings, pa.ChunkedArray):
        strings = strings.combine_chunks()
    off = np.frombuffer(strings.buffers()[1], np.int64, len(strings) + 1, strings.offset * 8)
    lo, ln = off[:-1], np.diff(off)
    # zero padding lets an 8-byte read start at any byte of a string
    data = np.zeros(int(off[-1]) + 8, np.uint8)
    if off[-1]:
        data[: off[-1]] = np.frombuffer(strings.buffers()[2], np.uint8, int(off[-1]))

    def word(at):  # the little-endian uint64 at each byte offset
        return np.ascontiguousarray(data[at[:, None] + np.arange(8)]).view("<u8").ravel()

    h = np.full(len(ln), seed + int(_P5), np.uint64)
    stripes = ln // 32
    big = np.flatnonzero(stripes)
    if big.size:
        v = [
            np.full(big.size, x % (1 << 64), np.uint64)
            for x in (seed + int(_P1) + int(_P2), seed + int(_P2), seed, seed - int(_P1))
        ]
        for s in range(int(stripes.max())):
            on = stripes[big] > s
            at = lo[big[on]] + 32 * s
            for j in range(4):
                v[j][on] = _rotl(v[j][on] + word(at + 8 * j) * _P2, 31) * _P1
        acc = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for x in v:
            acc = (acc ^ (_rotl(x * _P2, 31) * _P1)) * _P1 + _P4
        h[big] = acc
    h += ln.astype(np.uint64)
    pos, end = lo + 32 * stripes, lo + ln
    for _ in range(3):  # under 32 bytes left: at most three 8-byte words
        i = np.flatnonzero(pos + 8 <= end)
        h[i] = _rotl(h[i] ^ (_rotl(word(pos[i]) * _P2, 31) * _P1), 27) * _P1 + _P4
        pos[i] += 8
    i = np.flatnonzero(pos + 4 <= end)
    h[i] = _rotl(h[i] ^ ((word(pos[i]) & np.uint64(0xFFFFFFFF)) * _P1), 23) * _P2 + _P3
    pos[i] += 4
    for _ in range(3):
        i = np.flatnonzero(pos < end)
        h[i] = _rotl(h[i] ^ (data[pos[i]].astype(np.uint64) * _P5), 11) * _P1
        pos[i] += 1
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h.view(np.int64)


def term_buckets(terms, n_buckets: int = DEFAULT_TERM_BUCKETS) -> np.ndarray:
    """:func:`term_bucket_col` on the driver: int32 buckets of an Arrow
    string array, equal to Spark's ``pmod(xxhash64(term), n_buckets)``
    (a floored modulo, as NumPy's ``%`` is for a positive divisor)."""
    return (xxhash64_utf8(terms) % np.int64(n_buckets)).astype(np.int32)


def _run_changes(terms, shards: np.ndarray) -> np.ndarray:
    """Boolean run-start flags over a sorted batch: True where the
    (term, shard) key differs from the previous row. ``terms`` is an
    Arrow string array (compared natively — no Python strings)."""
    import pyarrow.compute as pc

    n = len(terms)
    change = np.empty(n, dtype=bool)
    change[0] = True
    if n > 1:
        tne = pc.not_equal(terms.slice(1), terms.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )
        change[1:] = tne | (shards[1:] != shards[:-1])
    return change


def _pack_arrow(tbl, avgdl: float, block_size: int, positions: bool):
    """Pack one boundary-complete Arrow table of sorted token rows into a
    postings RecordBatch — zero-copy in (list flatten) and out (binary/
    list arrays built directly over the codec core's buffers)."""
    import pyarrow as pa

    n = tbl.num_rows
    terms = tbl.column("term").combine_chunks()
    shards = tbl.column("shard").combine_chunks().to_numpy(zero_copy_only=False)
    docs = tbl.column("doc_id").combine_chunks().to_numpy(zero_copy_only=False)
    tfs = tbl.column("tf").combine_chunks().to_numpy(zero_copy_only=False)
    dls = tbl.column("dl").combine_chunks().to_numpy(zero_copy_only=False)
    change = _run_changes(terms, shards)
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], n)
    flat_pos = row_tf = None
    if positions:
        p_col = tbl.column("positions").combine_chunks()
        flat_pos = p_col.flatten().to_numpy(zero_copy_only=False)
        # segment lengths follow the old pack loop: tf per posting (the
        # stored lists have exactly tf entries by construction)
        row_tf = tfs
    core = codec.pack_runs_core(
        docs, tfs, dls, starts, ends, avgdl=avgdl, k1=K1, b=B,
        block_size=block_size, flat_pos=flat_pos, pos_row_tf=row_tf,
    )
    r = starts.size
    list_offs = pa.array(core["list_offs"].astype(np.int32), type=pa.int32())

    def bin_arr(enc: np.ndarray, bounds: np.ndarray) -> pa.Array:
        off = np.empty(r + 1, dtype=np.int32)
        off[0] = 0
        off[1:] = bounds
        return pa.BinaryArray.from_buffers(
            pa.binary(), r, [None, pa.py_buffer(off), pa.py_buffer(enc)]
        )

    def list_arr(vals: np.ndarray) -> pa.Array:
        return pa.ListArray.from_arrays(list_offs, pa.array(vals))

    arrays = [
        terms.take(pa.array(starts, type=pa.int64())),
        pa.array(shards[starts], type=pa.int64()),
        pa.array(core["n_docs"].astype(np.int32), type=pa.int32()),
        bin_arr(core["enc_docs"], core["bounds_docs"]),
        bin_arr(core["enc_tfs"], core["bounds_tfs"]),
        bin_arr(core["enc_dls"], core["bounds_dls"]),
        list_arr(core["offs_docs"]),
        list_arr(core["offs_tfs"]),
        list_arr(core["offs_dls"]),
        list_arr(core["block_max_doc"]),
        list_arr(core["block_max_tf"]),
        list_arr(core["block_max_impact"]),
    ]
    names = [
        "term", "shard", "n_docs", "docs", "tfs", "dls",
        "block_offs_docs", "block_offs_tfs", "block_offs_dls",
        "block_max_doc", "block_max_tf", "block_max_impact",
    ]
    if positions:
        arrays.append(bin_arr(core["enc_pos"], core["bounds_pos"]))
        arrays.append(list_arr(core["offs_pos"]))
        names += ["pos", "block_offs_pos"]
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _pack_stream(batches, avgdl: float, block_size: int, positions: bool):
    """Carry-loop pack over an iterator of Arrow record batches of SORTED
    token rows: yields postings RecordBatches, holding back the trailing
    (possibly batch-split) run so output rows are independent of the
    input batching. Arrow-native (guide §4.2): rows never surface as
    pandas objects — the term column stays an Arrow string array
    (65M-row builds were spending more wall materializing Python
    strings than packing), the positions lists flatten zero-copy, and
    the output batch is assembled straight from the codec core's encode
    buffers (a BinaryArray IS offsets + one data buffer; runs tile the
    batch, so the per-run byte bounds ARE the offsets). Byte-identical
    rows to the per-run pack_run loop
    (tests/test_pack_runs_equivalence.py)."""
    import pyarrow as pa

    carry = None
    for rb in batches:
        tbl = pa.Table.from_batches([rb])
        if carry is not None and carry.num_rows:
            tbl = pa.concat_tables([carry, tbl])
        if not tbl.num_rows:
            continue
        # hold back the trailing run — it may continue in the next batch
        terms = tbl.column("term").combine_chunks()
        shards = tbl.column("shard").combine_chunks().to_numpy(zero_copy_only=False)
        change = _run_changes(terms, shards)
        last_start = int(np.flatnonzero(change)[-1])  # trailing run's start
        carry = tbl.slice(last_start)
        head = tbl.slice(0, last_start)
        if head.num_rows:
            yield _pack_arrow(head, avgdl, block_size, positions)
    if carry is not None and carry.num_rows:
        yield _pack_arrow(carry, avgdl, block_size, positions)


def pack_postings_arrow(
    tokens,
    term_buckets,
    avgdl: float,
    docs_per_shard: int = DEFAULT_DOCS_PER_SHARD,
    block_size: int = BLOCK_SIZE,
    positions: bool = False,
):
    """Driver-side twin of :func:`build_postings` for a batch that fits in
    memory: an Arrow table of token rows (doc_id, term, tf, dl[,
    positions]) and its terms' buckets (a table of term, term_bucket
    covering every term) → the postings rows, term_bucket last. Sorted
    the way one range partition of the Spark form is (term_bucket, term,
    shard, doc_id) and packed by the same :func:`_pack_stream`, so rows
    are equal to the Spark form's: a (term, shard) run never spans range
    partitions (it is the partitioning key)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = _postings_arrow_schema(positions)
    if not tokens.num_rows:
        return schema.empty_table()
    pick = pc.index_in(tokens.column("term"), value_set=term_buckets.column("term"))
    shard = tokens.column("doc_id").to_numpy() // int(docs_per_shard)
    arranged = tokens.append_column("shard", pa.array(shard)).append_column(
        "term_bucket", term_buckets.column("term_bucket").take(pick)
    ).sort_by(
        [(c, "ascending") for c in ("term_bucket", "term", "shard", "doc_id")]
    )
    packed = pa.Table.from_batches(
        _pack_stream(arranged.to_batches(), avgdl, block_size, positions)
    )
    pick = pc.index_in(packed.column("term"), value_set=term_buckets.column("term"))
    packed = packed.append_column("term_bucket", term_buckets.column("term_bucket").take(pick))
    return packed.cast(schema)


def _postings_arrow_schema(positions: bool):
    """Arrow form of the postings rows as Spark writes them (term_bucket
    last, the column ``partitionBy`` appends)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    ddl = (POSTINGS_SCHEMA_POS if positions else POSTINGS_SCHEMA) + ", term_bucket int"
    return to_arrow_schema(DataType.fromDDL(ddl))


def build_postings(
    tokens_with_dl: DataFrame,
    avgdl: float,
    docs_per_shard: int = DEFAULT_DOCS_PER_SHARD,
    n_buckets: int = DEFAULT_TERM_BUCKETS,
    num_partitions: int | None = None,
    block_size: int = BLOCK_SIZE,
    positions: bool = False,
    scratch_dir: str | None = None,
) -> DataFrame:
    """tokens(doc_id, term, tf, dl) → postings rows (one per term×shard run).

    ``dl`` rides along per posting (Lucene-norm style) so queries never
    join doc_stats; ``avgdl`` is baked into the exact block-max impacts.
    ``positions=True`` expects a ``positions`` array column on the input
    and packs the per-posting position stream (phrase-query support).

    ``scratch_dir`` (the warehouse build passes one) switches the pack
    input to MATERIALIZE-THEN-READ: the shuffled+sorted token rows are
    EAGERLY written as parquet (one file per range partition, columnar,
    whole-stage codegen) and each pack task then reads ITS OWN file with
    pyarrow — so the JVM→Python boundary carries 1 file path per task
    instead of every token row. Spark's per-row Arrow conversion moves
    ~2–3M rows/s/task while pyarrow's C parquet reader moves ~58M rows/s
    (measured on this corpus: a TRIVIAL mapInArrow consumer over the 65M
    sorted 8x-corpus rows cost 24–29 s — the pack compute itself is
    ~0.6 s); this is guide §8's "read your own partition's slice from
    storage" co-location. Output rows are byte-identical to the
    streaming form: one task still packs exactly one sorted range
    partition, and the carry loop makes rows independent of batching.
    The caller owns ``scratch_dir`` cleanup (the builder deletes it
    after the postings table commits). Without ``scratch_dir`` the pack
    streams through mapInArrow directly (``tools/dump_plans.py`` shows
    that plan shape).
    """
    num_partitions = (
        num_partitions or tokens_with_dl.sparkSession.sparkContext.defaultParallelism
    )
    # Range-partition on (bucket, term, shard): (a) the sampler balances
    # partitions by actual row counts, absorbing Zipf term skew better than
    # hash; (b) each reduce task holds a CONTIGUOUS bucket range, so the
    # partitionBy(term_bucket) writer emits ~buckets/P files per task
    # instead of up to `n_buckets` (64× fewer files at scale). A run split
    # across a range boundary just yields two doc-disjoint rows for the
    # same (term, shard) — the query kernels already merge run lists.
    arranged = (
        with_shard(tokens_with_dl, docs_per_shard)
        .withColumn("term_bucket", term_bucket_col("term", n_buckets))
        .repartitionByRange(num_partitions, "term_bucket", "term", "shard")
        .sortWithinPartitions("term_bucket", "term", "shard", "doc_id")
        .select(
            "term", "shard", "doc_id", "tf", "dl",
            *(["positions"] if positions else []),
        )
    )
    schema = POSTINGS_SCHEMA_POS if positions else POSTINGS_SCHEMA

    if scratch_dir is not None:
        import os

        spark = tokens_with_dl.sparkSession
        arranged.write.mode("overwrite").parquet(scratch_dir)
        files = sorted(
            os.path.join(dp, f)
            for dp, _dirs, fs in os.walk(scratch_dir)
            for f in fs
            if f.startswith("part-") and not f.endswith(".crc")
        )
        cols = ["term", "shard", "doc_id", "tf", "dl"] + (
            ["positions"] if positions else []
        )

        def pack_files(path_batches):
            import pyarrow.parquet as pq

            for rb in path_batches:
                for path in rb.column(0).to_pylist():
                    pf = pq.ParquetFile(path)
                    yield from _pack_stream(
                        pf.iter_batches(batch_size=1 << 17, columns=cols),
                        avgdl, block_size, positions,
                    )

        paths = spark.createDataFrame([(p,) for p in files], "path string")
        packed = paths.repartition(max(len(files), 1)).mapInArrow(
            pack_files, schema=schema
        )
        return packed.withColumn("term_bucket", term_bucket_col("term", n_buckets))

    def pack(batches):
        yield from _pack_stream(batches, avgdl, block_size, positions)

    packed = arranged.mapInArrow(pack, schema=schema)
    return packed.withColumn("term_bucket", term_bucket_col("term", n_buckets))
