"""Multi-field BM25 (ES ``multi_match`` / ``most_fields``) — declarative.

The reference's Elasticsearch indexed whole JSON documents (reference
``MessageHandler.java:135-139``), so users query multiple fields with
per-field boosts; ES ``most_fields`` scores each field independently
(per-field df, avgdl — a field is its own "index" statistically) and sums
``boost_f × BM25_f(q, d)``.

Spark-first shape: per-field token streams are term-filtered BEFORE any
join (predicate reaches the scan), per-term stats are tiny and broadcast,
the per-field score unions are one aggregation, and the final top-k is a
``TakeOrderedAndProject`` — Catalyst owns the whole physical plan; no
kernels. At 100 TB each field's tokens come from the same single document
scan (one pass computes every field's doc_term_freqs), so cost is
~n_fields × the single-field oracle path, all map-side until the one
aggregation shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_elasticsearch_standalone_consumer_spark import B, K1
from kafka_elasticsearch_standalone_consumer_spark.analysis import doc_term_freqs, tokenize_col
from kafka_elasticsearch_standalone_consumer_spark.query import bm25
from kafka_elasticsearch_standalone_consumer_spark.tables import local_frame


def multi_field_bm25(
    docs: DataFrame,
    query_text: str,
    fields: dict[str, float],
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    mode: str = "most_fields",
    tie_breaker: float = 0.0,
) -> DataFrame:
    """Top-k multi-field BM25: (doc_id, score), score desc / id asc.

    ``fields`` maps text column name → boost. Each field keeps its OWN
    corpus statistics (df per field, avgdl over ALL docs of that field —
    empty field values count as dl=0, exactly like ES field norms).

    ``mode='most_fields'`` (default) sums the per-field scores — one
    aggregation shuffle. ``mode='best_fields'`` is ES's dis-max: the best
    field's score plus ``tie_breaker ×`` the others' sum — a per-(doc,
    field) partial first, then the per-doc combine (two stages on the
    same doc_id key, so AQE coalesces them into one exchange).

    ``mode='cross_fields'`` treats the fields as one big field
    term-statistics-wise (Lucene ``BlendedTermQuery``): each term's df is
    blended to the MAX across fields so idf is comparable, each
    occurrence is still length-normalized by its OWN field's dl/avgdl,
    and per term the field scores combine dis-max (best field +
    ``tie_breaker ×`` rest) before summing over terms — so a term
    matching in every field counts once, not n_fields times."""
    spark = docs.sparkSession
    if mode not in ("most_fields", "best_fields", "cross_fields"):
        raise ValueError(f"unknown multi_match mode: {mode}")
    weights = bm25.query_term_weights(query_text)
    if not weights or not fields:
        return local_frame(spark, "doc_id long, score double")
    qdf = F.broadcast(
        spark.createDataFrame(
            [(t, float(w)) for t, w in sorted(weights.items())], "term string, w double"
        )
    )
    n_docs = docs.count()
    if mode == "cross_fields":
        field_meta = []
        df_frames = []
        for field, boost in sorted(fields.items()):
            avgdl = (
                docs.select(F.size(tokenize_col(F.col(field))).alias("dl"))
                .agg(F.avg("dl"))
                .collect()[0][0]
                or 1e-9
            )
            toks = doc_term_freqs(docs, text_col=field, id_col=id_col).filter(
                F.col("term").isin(list(weights))
            )
            df_frames.append(toks.groupBy("term").agg(F.count("*").alias("df")))
            field_meta.append((field, float(boost), float(avgdl), toks))
        alldf = df_frames[0]
        for d in df_frames[1:]:
            alldf = alldf.unionByName(d)
        # blended df = max across fields (Lucene BlendedTermQuery) — tiny
        # (≤ |q| rows per field), stays broadcast
        idfw = (
            alldf.groupBy("term")
            .agg(F.max("df").alias("df"))
            .join(qdf, "term")
            .withColumn("idfw", bm25.idf_expr(n_docs) * F.col("w"))
            .select("term", "idfw")
        )
        parts = []
        for field, boost, avgdl, toks in field_meta:
            parts.append(
                toks.join(F.broadcast(idfw), "term").select(
                    F.col(id_col).alias("doc_id"),
                    F.col("term"),
                    (
                        F.lit(boost)
                        * F.col("idfw")
                        * F.col("tf")
                        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
                    ).alias("contrib"),
                )
            )
        allc = parts[0]
        for p in parts[1:]:
            allc = allc.unionByName(p)
        # per term: dis-max across fields; then sum over terms — both
        # aggregations key on doc_id so AQE reuses the exchange
        per_term = allc.groupBy("doc_id", "term").agg(
            (
                F.max("contrib")
                + F.lit(float(tie_breaker)) * (F.sum("contrib") - F.max("contrib"))
            ).alias("ts")
        )
        scores = per_term.groupBy("doc_id").agg(F.sum("ts").alias("score"))
        return bm25.topk(scores, k)
    parts = []
    for field, boost in sorted(fields.items()):
        # avgdl over ALL docs (token rows alone would miss dl=0 docs)
        avgdl = (
            docs.select(F.size(tokenize_col(F.col(field))).alias("dl"))
            .agg(F.avg("dl"))
            .collect()[0][0]
            or 1e-9
        )
        toks = doc_term_freqs(docs, text_col=field, id_col=id_col).filter(
            F.col("term").isin(list(weights))
        )
        df_f = toks.groupBy("term").agg(F.count("*").alias("df"))
        idfw = (
            df_f.join(qdf, "term")
            .withColumn("idfw", bm25.idf_expr(n_docs) * F.col("w") * F.lit(float(boost)))
            .select("term", "idfw")
        )
        contrib = toks.join(F.broadcast(idfw), "term").select(
            F.col(id_col).alias("doc_id"),
            F.lit(field).alias("f"),
            (
                F.col("idfw")
                * F.col("tf")
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / float(avgdl)))
            ).alias("contrib"),
        )
        parts.append(contrib)
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    if mode == "most_fields":
        scores = allc.groupBy("doc_id").agg(F.sum("contrib").alias("score"))
    else:  # best_fields (dis-max with tie_breaker)
        per_field = allc.groupBy("doc_id", "f").agg(F.sum("contrib").alias("fs"))
        scores = per_field.groupBy("doc_id").agg(
            (
                F.max("fs")
                + F.lit(float(tie_breaker)) * (F.sum("fs") - F.max("fs"))
            ).alias("score")
        )
    return bm25.topk(scores, k)


def fuzzy_like_this_field(
    docs: DataFrame,
    like_text: str,
    field: str,
    k: int = 10,
    fuzziness: int = 1,
    prefix_length: int = 1,
    max_query_terms: int = 25,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """ES 1.x ``fuzzy_like_this_field`` (Lucene FuzzyLikeThisQuery scoped
    to ONE field — removed in ES 2): fuzzify every analyzed term of
    ``like_text`` against the FIELD's own term dictionary, keep the
    ``max_query_terms`` best variants, and run a SCORED disjunction with
    the field's own df/avgdl statistics — the field-scoped twin of
    ``Index.fuzzy_like_this`` exactly as :func:`more_like_this_field`
    twins ``more_like_this``. Reference parity: the reference delegates
    the whole query DSL to ES 1.5 (ref MessageHandler.java:135-139).

    Lucene semantics kept: every variant of a source term shares one
    BLENDED idf from the group's max df (a variant never uses its own
    idf — "this would favor rarer terms, such as misspellings"); each
    variant is down-weighted by edit similarity ``1 − d/min(|src|,|v|)``
    (classic FuzzyTermEnum), zero-similarity variants dropped. Selection
    caps at ``max_query_terms`` by (weight desc, variant asc, source
    asc) with the weight key rounded HALF-UP to 4 dp before ordering
    (the geo-sort rule: engines' libm ``ln`` may differ in the last ulp;
    the rounded key + lexicographic tiebreaks make the cut identical
    across engines).

    Scale shape: the candidate dictionary slice is pruned BEFORE the df
    aggregation (prefix + length-band predicates — the same guards
    ``Index.search_fuzzy`` pushes into its scan), so the driver collects
    only the bounded fuzzy neighborhood, never the dictionary; scoring
    is the declarative single-field BM25 path — term-filtered tokens,
    broadcast weights, one aggregation shuffle, TakeOrderedAndProject
    top-k."""
    import math

    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text
    from kafka_elasticsearch_standalone_consumer_spark.query.engine import (
        _damerau_levenshtein,
    )

    if prefix_length < 1:
        raise ValueError(
            "prefix_length must be ≥1: an unpruned fuzzy expansion scans "
            "the whole field dictionary (same scale guard as search_fuzzy)"
        )
    spark = docs.sparkSession
    empty = local_frame(spark, "doc_id long, score double")
    src_terms = sorted(
        {t for t in tokenize_text(like_text) if len(t) >= prefix_length}
    )
    if not src_terms:
        return empty
    toks = doc_term_freqs(docs, text_col=field, id_col=id_col)
    cond = None
    for t in src_terms:
        c = F.col("term").startswith(t[:prefix_length]) & F.length("term").between(
            len(t) - fuzziness, len(t) + fuzziness
        )
        cond = c if cond is None else (cond | c)
    dfrows = toks.filter(cond).groupBy("term").agg(F.count("*").alias("df")).collect()
    df_by = {r["term"]: int(r["df"]) for r in dfrows}
    groups: dict[str, dict[str, float]] = {}
    for t in src_terms:
        for v in df_by:
            if not v.startswith(t[:prefix_length]) or abs(len(v) - len(t)) > fuzziness:
                continue
            d = _damerau_levenshtein(t, v, fuzziness)
            if d <= fuzziness:
                sim = 1.0 - d / min(len(t), len(v))
                if sim > 0.0:
                    groups.setdefault(t, {})[v] = sim
    if not groups:
        return empty
    n = float(docs.count())
    sel: list[tuple[int, str, str, float]] = []
    for t, variants in groups.items():
        dmax = max(df_by[v] for v in variants)
        idf = math.log(1.0 + (n - dmax + 0.5) / (dmax + 0.5))
        for v, sim in variants.items():
            w = sim * idf
            sel.append((math.floor(w * 10000.0 + 0.5), v, t, w))
    sel.sort(key=lambda x: (-x[0], x[1], x[2]))
    sel = sel[:max_query_terms]
    idfw: dict[str, float] = {}
    for _key, v, _t, w in sel:
        idfw[v] = idfw.get(v, 0.0) + w
    avgdl = (
        docs.select(F.size(tokenize_col(F.col(field))).alias("dl"))
        .agg(F.avg("dl"))
        .collect()[0][0]
        or 1e-9
    )
    qdf = F.broadcast(
        spark.createDataFrame(
            [(t, float(w)) for t, w in sorted(idfw.items())],
            "term string, idfw double",
        )
    )
    # Deterministic accumulation (repo invariant: every BM25 path sums
    # per-term contributions in SORTED-TERM order so distributed / local /
    # recompute scores stay BIT-identical, not just rank-identical):
    # collect the ≤max_query_terms matched (term, contrib) pairs per doc,
    # sort by term, left-fold in float64 — a plain groupBy().sum() adds in
    # partition order and flips last-ulp ties.
    scored = (
        toks.filter(F.col("term").isin(list(idfw)))
        .join(qdf, "term")
        .select(
            F.col(id_col).alias("doc_id"),
            "term",
            (
                F.col("idfw")
                * F.col("tf")
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / float(avgdl)))
            ).alias("contrib"),
        )
        .groupBy("doc_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ).alias("score")
        )
    )
    return bm25.topk(scored, k)


def more_like_this_field(
    docs: DataFrame,
    doc_id: int,
    field: str,
    k: int = 10,
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """ES 1.x ``more_like_this_field`` — MLT scoped to ONE field: term
    selection (tf·idf over the FIELD's own statistics, the classic MLT
    rule with the tf/df floors, ties term-asc) from the source document's
    field value, then a weight-1 disjunctive BM25 over that field with
    the field's own df/avgdl, source doc excluded after scoring (corpus
    statistics stay global). Reference parity: the reference delegates
    the whole query DSL to ES 1.5 (ref MessageHandler.java:135-139).

    Scale shape: the source doc is ONE filtered point-read; candidate df
    is one term-pruned aggregation (predicate reaches the scan) whose
    result is bounded by the source doc's distinct terms; scoring is the
    declarative single-field BM25 path — map-side until one aggregation
    shuffle, top-k via TakeOrderedAndProject."""
    import math
    from collections import Counter

    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

    spark = docs.sparkSession
    empty = local_frame(spark, "doc_id long, score double")
    row = docs.filter(F.col(id_col) == int(doc_id)).select(field).collect()
    if not row or row[0][0] is None:
        return empty
    tf = Counter(tokenize_text(row[0][0]))
    cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
    if not cand:
        return empty
    n = float(docs.count())
    dfrows = (
        doc_term_freqs(docs, text_col=field, id_col=id_col)
        .filter(F.col("term").isin(cand))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .collect()
    )
    df_by = {r["term"]: int(r["df"]) for r in dfrows}
    ranked = sorted(
        (
            -tf[t] * math.log(1.0 + (n - df_by[t] + 0.5) / (df_by[t] + 0.5)),
            t,
        )
        for t in cand
        if df_by.get(t, 0) >= min_doc_freq
    )
    selected = [t for _, t in ranked[:max_query_terms]]
    if not selected:
        return empty
    out = multi_field_bm25(
        docs, " ".join(selected), {field: 1.0}, k + 1,
        id_col=id_col, k1=k1, b=b,
    )
    return (
        out.filter(F.col("doc_id") != int(doc_id))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
