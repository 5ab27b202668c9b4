"""BM25 scoring — the declarative DataFrame oracle path (SURVEY §2.4 E4/E5).

This is the rank-identity reference for the fast posting-list path: pure
Column algebra (joins + aggregation, whole-stage codegen, no Python), the
same scoring the reference got from Elasticsearch/Lucene behind
``MessageHandler.java:135-139``:

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))          (Lucene BM25)
    score(q,d) = Σ_t w_q(t) · idf(t) · tf / (tf + k1·(1 - b + b·dl/avgdl))

with k1=1.2, b=0.75, and w_q(t) the multiplicity of t in the query
(duplicate query terms score multiply, matching ES query_string OR).
Ties broken by ascending doc_id — deterministic top-k.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_elasticsearch_standalone_consumer_spark import B, K1
from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text
from kafka_elasticsearch_standalone_consumer_spark.tables import local_frame


def query_term_weights(query_text: str, analyzer: str = "standard") -> dict[str, int]:
    """Query analysis: same chain as the index path (ES's symmetry
    invariant — a stemming analyzer must stem the query too), with
    multiplicity (two query tokens sharing a stem weight it ×2)."""
    return dict(Counter(tokenize_text(query_text, analyzer)))


def idf_expr(n_docs: int):
    return F.log(1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))


def bm25_scores_oracle(
    tokens: DataFrame,
    term_stats: DataFrame,
    doc_stats: DataFrame,
    query_text: str,
    n_docs: int,
    avgdl: float,
    k1: float = K1,
    b: float = B,
    idfw: dict[str, float] | None = None,
    analyzer: str = "standard",
) -> DataFrame:
    """scores(doc_id, score) for every matching doc — declarative plan.

    tokens(doc_id, term, tf) is filtered to query terms FIRST (predicate
    pushed to the scan), then joined to the (broadcast) per-term stats and
    to doc_stats; one aggregation produces the scores. OR semantics: any
    matching term contributes. When the caller already planned the query
    (engine._plan_terms), pass its ``idfw`` so fast path and oracle share
    bit-identical term weights.
    """
    spark = tokens.sparkSession
    weights = query_term_weights(query_text, analyzer)
    if not weights:
        return local_frame(spark, "doc_id long, score double")
    if idfw is not None:
        ts = spark.createDataFrame(
            [(t, float(v)) for t, v in sorted(idfw.items())], "term string, idfw double"
        )
    else:
        qdf = spark.createDataFrame(
            [(t, float(w)) for t, w in sorted(weights.items())], "term string, w double"
        )
        ts = term_stats.join(F.broadcast(qdf), "term").withColumn(
            "idfw", idf_expr(n_docs) * F.col("w")
        )
    matched = tokens.select("doc_id", "term", "tf").filter(F.col("term").isin(list(weights))).join(
        F.broadcast(ts.select("term", "idfw")), "term"
    )
    scored = matched.join(doc_stats, "doc_id").withColumn(
        "contrib",
        F.col("idfw")
        * F.col("tf")
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / float(avgdl))),
    )
    return scored.groupBy("doc_id").agg(F.sum("contrib").alias("score"))


def topk(scores: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k: score desc, doc_id asc."""
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
