"""Corpus statistics the scorer needs (SURVEY §2.4 E3).

These are what Lucene kept as per-segment norms/term dictionaries for the
reference's Elasticsearch (behind ``MessageHandler.java:135-139``):

* ``term_stats(term, df, max_tf)`` — document frequency per term,
* ``doc_stats(doc_id, dl)``        — document length in tokens (0 for
                                     empty docs — they must still exist),
* ``corpus(n_docs, avgdl)``        — global scalars, avgdl as the exact
                                     long Σ dl over n_docs
                                     (``incremental._doc_stats_totals``).

All pure DataFrame aggregations: map-side partial aggregation + one
shuffle each; Catalyst prunes to exactly the needed columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_term_stats(tokens: DataFrame, n_buckets: int | None = None) -> DataFrame:
    """tokens(doc_id, term, tf) → term_stats(term, df, max_tf[, term_bucket]).

    With ``n_buckets`` the postings bucket id is precomputed per term so
    query planning never re-derives the hash, and the table is range-
    clustered + sorted by term: each parquet file then covers a narrow
    term range, which is what lets the query planner resolve term→(df,
    bucket) with a driver-side footer-pruned pyarrow read (the Lucene
    term-dictionary lookup) instead of a Spark job per query.
    """
    ts = tokens.groupBy("term").agg(
        F.count("*").alias("df"),  # tokens has one row per (doc, term)
        F.max("tf").cast("int").alias("max_tf"),
    )
    if n_buckets is None:
        return ts
    from kafka_elasticsearch_standalone_consumer_spark.index.build import term_bucket_col

    num = tokens.sparkSession.sparkContext.defaultParallelism
    # term_len rides along so multi-term expansions (fuzzy / suggesters)
    # can push `abs(len(term) − len(q)) ≤ fuzziness` into the pyarrow
    # dictionary read next to the prefix range — at 10^8-term vocab a
    # 1-char prefix alone would otherwise materialize millions of terms
    # driver-side (see Index._expand_prefix)
    return (
        ts.withColumn("term_bucket", term_bucket_col("term", n_buckets))
        .withColumn("term_len", F.length("term").cast("int"))
        .repartitionByRange(num, "term")
        .sortWithinPartitions("term")
    )


def build_doc_stats(docs: DataFrame, tokens: DataFrame) -> DataFrame:
    """doc_stats(doc_id, dl); docs with no tokens get dl=0 via left join.

    When the fused tokenizer packed ``dl`` inline, aggregate that single
    value instead of re-summing every tf (same shuffle, ~|vocab|× fewer
    aggregation inputs after map-side combine).
    """
    if "dl" in tokens.columns:
        dl = tokens.groupBy("doc_id").agg(F.min("dl").alias("dl"))
    else:
        dl = tokens.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return (
        docs.select("doc_id")
        .join(dl, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("dl"), F.lit(0)).cast("int").alias("dl"))
    )
