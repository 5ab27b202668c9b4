"""Multi-index search (ES index aliases / comma-separated index lists).

The reference wrote to a *routed* set of indexes — ``IndexHandler.java``
derives (index, type) per message — and ES users then query the whole
family through an alias (``logs-*``). Searching N indexes is therefore a
first-class operation, with ES's two consistency modes:

* ``query_then_fetch`` (ES default): every index scores with its OWN
  corpus statistics (df, N, avgdl local to the index), results merged by
  score. Fast, slightly incomparable scores across indexes — exactly how
  ES behaves out of the box.
* ``dfs_query_then_fetch``: collection statistics are merged across all
  indexes first (df and doc counts summed, avgdl globally weighted), so
  scores are globally comparable — ES's documented fix for the same
  term scoring differently in different indexes.

Spark-first shape: each index contributes its declarative score-all
DataFrame (term-pruned tokens scan, broadcast term weights, one
aggregation); the union is a k-row TakeOrderedAndProject. The dfs mode
plans ONE combined idf table driver-side (the same pruned dictionary
lookups the single-index planner uses — no extra corpus pass) and ships
it to every index's scorer, so the only cross-index work is a driver-side
dict merge. At 100 TB × N indexes the cost is N independent single-index
plans plus a k·N-row merge.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_elasticsearch_standalone_consumer_spark.query import bm25
from kafka_elasticsearch_standalone_consumer_spark.tables import local_frame

MULTI_SCHEMA = "idx long, doc_id long, score double"


class MultiIndex:
    """ES alias over several :class:`~.engine.Index` instances."""

    def __init__(self, indexes: list):
        if not indexes:
            raise ValueError("MultiIndex needs at least one index")
        self.indexes = list(indexes)

    def _scored_one(self, i: int, index, query_text: str, idfw, avgdl, where):
        """One index's score-all DataFrame, tagged with its position."""
        if idfw is None:
            scored = index.search_oracle(query_text, None, where=where)
        else:
            tokens = index._tokens_full_df()
            doc_stats = tokens.select("doc_id", "dl").distinct()
            scored = bm25.bm25_scores_oracle(
                tokens.select("doc_id", "term", "tf"),
                index.term_stats,
                doc_stats,
                query_text,
                n_docs=0,  # unused when idfw is given
                avgdl=avgdl,
                k1=index.meta["k1"],
                b=index.meta["b"],
                idfw=idfw,
            )
            scored = index._live(where, frame=scored)
        return scored.select(
            F.lit(i).cast("long").alias("idx"), "doc_id", "score"
        )

    def _combined_stats(self, query_text: str):
        """dfs_query_then_fetch planning: merged df/N/avgdl across all
        indexes — driver-side pruned dictionary lookups only."""
        # msearch merges df across indexes keyed by term, which assumes a
        # homogeneous analysis chain — analyze with the first index's
        # analyzer (mixed-analyzer msearch would need per-index analysis)
        weights = bm25.query_term_weights(
            query_text, self.indexes[0].meta.get("analyzer", "standard")
        )
        if not weights:
            return None, 0.0
        terms = sorted(weights)
        df_by: dict[str, int] = {}
        n_total = 0.0
        dl_total = 0.0
        for index in self.indexes:
            for term, df in index._term_dfs(terms)[0].items():
                df_by[term] = df_by.get(term, 0) + df
            n = float(index.meta["n_docs"])
            n_total += n
            dl_total += n * float(index.meta["avgdl"] or 0.0)
        avgdl = (dl_total / n_total) if n_total else 1e-9
        idfw = {
            t: weights[t] * math.log(1.0 + (n_total - df + 0.5) / (df + 0.5))
            for t, df in df_by.items()
        }
        return idfw, (avgdl or 1e-9)

    def search(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "query_then_fetch",
        where: str | None = None,
        indices_boost: list[float] | None = None,
    ) -> DataFrame:
        """Top-k across all indexes: (idx, doc_id, score), score desc with
        (idx, doc_id) asc ties. ``mode`` picks ES's consistency level
        (see module docstring). ``indices_boost`` multiplies each index's
        scores before the merge (ES's ``indices_boost`` body parameter —
        prefer hits from some indexes without excluding the rest); one
        float per index, applied identically in both modes."""
        spark = self.indexes[0].spark
        if indices_boost is not None and len(indices_boost) != len(self.indexes):
            raise ValueError(
                f"indices_boost needs {len(self.indexes)} entries, "
                f"got {len(indices_boost)}"
            )
        if mode == "query_then_fetch":
            idfw, avgdl = None, 0.0
        elif mode == "dfs_query_then_fetch":
            idfw, avgdl = self._combined_stats(query_text)
            if idfw is not None and not idfw:
                return local_frame(spark, MULTI_SCHEMA)
        else:
            raise ValueError(f"unknown multi-index search mode: {mode}")
        parts = [
            self._scored_one(i, ix, query_text, idfw, avgdl, where)
            for i, ix in enumerate(self.indexes)
        ]
        if indices_boost is not None:
            parts = [
                p.withColumn("score", F.col("score") * float(b))
                for p, b in zip(parts, indices_boost)
            ]
        allp = parts[0]
        for p in parts[1:]:
            allp = allp.unionByName(p)
        return allp.orderBy(
            F.desc("score"), F.asc("idx"), F.asc("doc_id")
        ).limit(k)

    def indices_query(
        self,
        indices: list[int],
        query: str,
        no_match_query: str | None = "all",
        k: int = 10,
        where: str | None = None,
    ) -> DataFrame:
        """ES 1.x ``indices`` query: run ``query`` against the indexes
        listed in ``indices`` (positions into this alias) and
        ``no_match_query`` against the rest — ``"all"`` (ES's default)
        scores every other-index doc a constant 1.0 (match_all),
        ``"none"``/``None`` excludes the other indexes entirely, and any
        other string is a query for them. Stats are per-index
        (query_then_fetch — the mode ES executes this compound in), merge
        order (score desc, idx asc, doc_id asc) like :meth:`search`.

        Plan: each selected index contributes its one declarative
        score-all (term-pruned scan, broadcast weights); match_all halves
        contribute a doc_id projection with a literal score — no scoring
        work at all. The merge stays a k·N-row TakeOrderedAndProject."""
        spark = self.indexes[0].spark
        chosen = set(indices)
        parts = []
        for i, index in enumerate(self.indexes):
            if i in chosen:
                scored = index.search_oracle(query, None, where=where)
            elif no_match_query in (None, "none"):
                continue
            elif no_match_query == "all":
                scored = index._live(where).select("doc_id", F.lit(1.0).alias("score"))
            else:
                scored = index.search_oracle(no_match_query, None, where=where)
            parts.append(
                scored.select(F.lit(i).cast("long").alias("idx"), "doc_id", "score")
            )
        if not parts:
            return local_frame(spark, MULTI_SCHEMA)
        allp = parts[0]
        for p in parts[1:]:
            allp = allp.unionByName(p)
        return allp.orderBy(F.desc("score"), F.asc("idx"), F.asc("doc_id")).limit(k)
