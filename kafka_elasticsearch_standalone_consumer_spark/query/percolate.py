"""ES percolator — reverse search: registered queries matched against a
document stream (the alerting/classification primitive Elasticsearch has
shipped since 0.x; the reference's ES 1.5.1, reference ``pom.xml:22``,
exposes it as the ``.percolator`` type on every index).

Forward search asks "which docs match this query"; the percolator asks
"which of my registered queries match this doc". Spark-first shape: the
registered query set is TINY relative to the corpus (alert rules, routing
rules), so its exploded (query_id, term) table is **broadcast** — the
document side never shuffles for the join. Matching is one aggregation on
(doc key, query_id) with map-side partials; the key cardinality is
|docs| × (avg queries sharing a term), not |docs| × |queries|, because the
join only materializes (doc, query) pairs that share ≥1 term. At 100 TB
of documents this is a single broadcast-join + aggregation pass — the
same plan a Structured Streaming micro-batch runs unchanged
(``foreachBatch(lambda b, _: percolate(b, queries, ...))``).

Semantics (per registered query):

* ``operator='or'`` (ES match default): a doc matches when it contains
  ≥ ``minimum_should_match`` DISTINCT query terms (1 by default);
* ``operator='and'``: all the query's distinct terms must appear.

Queries with no tokens never match (ES rejects empty percolator queries).

ES 1.x percolate additionally accepts a ``filter`` (narrowing WHICH
registered queries are candidates — percolator queries are documents of
the ``.percolator`` type, so the filter runs over their metadata fields)
and a ``size`` (cap on matches returned per percolated doc). Both ride
here as ``queries_meta`` + ``query_where`` (the repo's (col, op, value)
tuple surface, evaluated DRIVER-side — the registered set is tiny by the
broadcast assumption above) and ``size`` (per-doc cap, query_id asc — ES
1.x returns shard order; we pin the deterministic choice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text
from kafka_elasticsearch_standalone_consumer_spark.tables import local_frame

QUERIES_SCHEMA = "query_id long, terms array<string>, required long"


def _meta_match(meta: dict, cond: tuple) -> bool:
    """One (col, op, value) condition against a query's metadata dict —
    the same tuple grammar the zero-job serving paths take."""
    col, op, value = cond
    v = meta.get(col)
    if op == "isnull":
        return v is None
    if op == "notnull":
        return v is not None
    if op == "in":
        return v in value
    if v is None:
        return False
    if op == "=":
        return v == value
    if op == "!=":
        return v != value
    if op == "<":
        return v < value
    if op == "<=":
        return v <= value
    if op == ">":
        return v > value
    if op == ">=":
        return v >= value
    raise ValueError(f"unknown percolator filter op: {op!r}")


def _filter_queries(
    queries: list[tuple[int, str]],
    queries_meta: dict[int, dict] | None,
    query_where,
) -> list[tuple[int, str]]:
    if query_where is None:
        return queries
    conds = [query_where] if isinstance(query_where, tuple) else list(query_where)
    meta = queries_meta or {}
    return [
        (qid, text)
        for qid, text in queries
        if all(_meta_match(meta.get(int(qid), {}), c) for c in conds)
    ]


def compile_queries(
    queries: list[tuple[int, str]],
    operator: str = "or",
    minimum_should_match: int = 1,
    analyzer: str = "standard",
) -> list[tuple[int, list[str], int]]:
    """Parse registered queries driver-side: (query_id, distinct sorted
    terms, required-match count). ``operator='and'`` requires every
    distinct term; ``'or'`` requires ``minimum_should_match``."""
    if operator not in ("or", "and"):
        raise ValueError(f"unknown percolator operator: {operator}")
    out = []
    for qid, text in queries:
        terms = sorted(set(tokenize_text(text, analyzer)))
        if not terms:
            continue  # ES rejects empty percolator queries
        req = len(terms) if operator == "and" else min(minimum_should_match, len(terms))
        out.append((int(qid), terms, int(req)))
    return out


def percolate(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    operator: str = "or",
    minimum_should_match: int = 1,
    analyzer: str = "standard",
    queries_meta: dict[int, dict] | None = None,
    query_where=None,
    size: int | None = None,
) -> DataFrame:
    """Match every registered query against every document: returns
    (doc_id, query_id, n_matched) for matching pairs, ordered doc_id asc,
    query_id asc.

    Plan: docs → distinct (doc, term) pairs (one narrow pass) →
    broadcast-join the exploded query-term table → one (doc, query)
    aggregation → required-count filter. Never materializes the
    |docs| × |queries| cross product.

    ``query_where`` (+ ``queries_meta``) narrows the REGISTERED set by
    metadata before the broadcast (ES 1.x percolate ``filter``); ``size``
    caps matches per doc, lowest query_id first (ES ``size``, made
    deterministic) — one keyed window over the already-aggregated
    (≤ |docs| × |queries|) match set, never over raw postings.
    """
    from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_col

    spark = docs.sparkSession
    queries = _filter_queries(queries, queries_meta, query_where)
    compiled = compile_queries(queries, operator, minimum_should_match, analyzer)
    if not compiled:
        return local_frame(spark, f"{id_col} long, query_id long, n_matched long")
    qdf = spark.createDataFrame(compiled, QUERIES_SCHEMA)
    qterms = F.broadcast(
        qdf.select("query_id", "required", F.explode("terms").alias("term"))
    )
    doc_terms = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(tokenize_col(F.col(text_col), analyzer=analyzer))
        ).alias("term"),
    )
    out = (
        doc_terms.join(qterms, "term")
        .groupBy(id_col, "query_id", "required")
        .agg(F.count("*").cast("long").alias("n_matched"))
        .filter(F.col("n_matched") >= F.col("required"))
        .select(id_col, "query_id", "n_matched")
    )
    if size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(id_col).orderBy(F.asc("query_id"))
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(size))
            .drop("_rn")
        )
    return out.orderBy(F.asc(id_col), F.asc("query_id"))


def mpercolate(
    spark,
    requests: list[tuple[int, str]],
    queries: list[tuple[int, str]],
    operator: str = "or",
    minimum_should_match: int = 1,
    analyzer: str = "standard",
    queries_meta: dict[int, dict] | None = None,
    query_where=None,
    size: int | None = None,
) -> DataFrame:
    """ES 1.x ``_mpercolate``: a batch of independent percolate requests
    (req_id, document text) answered in ONE pass — the multi-document
    sibling of the percolate API (ES 1.5.1, the reference's line, ships
    it; single-doc percolate round-trips are the anti-pattern it exists
    to batch away).

    Returns (req_id, query_id, n_matched) for matching pairs, ordered
    req_id asc, query_id asc. Semantics per request are IDENTICAL to
    :func:`percolate` — same analyzer, same operator/msm rules — because
    it IS the same broadcast-join pass with the request batch as the
    document side; the registered-query side stays broadcast no matter
    how many requests ride one call."""
    docs = spark.createDataFrame(
        [(int(i), t) for i, t in requests], "req_id long, text string"
    )
    return percolate(
        docs,
        queries,
        id_col="req_id",
        operator=operator,
        minimum_should_match=minimum_should_match,
        analyzer=analyzer,
        queries_meta=queries_meta,
        query_where=query_where,
        size=size,
    )


def count_percolate(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    operator: str = "or",
    minimum_should_match: int = 1,
    analyzer: str = "standard",
    queries_meta: dict[int, dict] | None = None,
    query_where=None,
) -> DataFrame:
    """ES 1.x percolate count mode (``/_percolate/count``): how many
    registered queries match each document — the total without the
    per-query match list. Docs matching NO query report 0 (ES returns
    ``total: 0`` rather than omitting the request).

    One extra left join against the doc keys on top of the percolate
    pass; the matches side is already aggregated to ≤ |docs| rows, so
    at 100 TB this costs one shuffle keyed on the doc id."""
    matches = percolate(
        docs,
        queries,
        id_col=id_col,
        text_col=text_col,
        operator=operator,
        minimum_should_match=minimum_should_match,
        analyzer=analyzer,
        queries_meta=queries_meta,
        query_where=query_where,
    )
    counts = matches.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_queries")
    )
    return (
        docs.select(id_col)
        .distinct()
        .join(counts, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_queries"), F.lit(0)).cast("long").alias("n_queries"),
        )
        .orderBy(F.asc(id_col))
    )
