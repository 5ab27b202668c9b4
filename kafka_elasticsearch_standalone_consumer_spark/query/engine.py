"""Search engine facade: the query lifecycle of SURVEY §3.3.

    query(text, k)
      ├─ analyze: same tokenizer as the index path (driver-side, tiny)
      ├─ plan: term → (df, bucket) via a driver-side footer-pruned pyarrow
      │        read of the term-sorted term_stats files (the Lucene term-
      │        dictionary lookup — NO Spark job); idf computed once and
      │        shared by the fast path and the oracle
      ├─ scan postings WHERE term_bucket IN (...) AND term IN (...)
      │        → partition-pruned by the term_bucket directory column,
      │          row-group-pruned by the term predicate (both visible as
      │          PartitionFilters / PushedFilters in .explain)
      ├─ per shard: decode → block-max WAND → bounded top-k
      │        (kernels.term_shard — a batch of term plans, so search
      │        is search_many's batch of one — / kernels.dismax_shard /
      │        kernels.positional_shard — one seam,
      │        run on executors by ONE grouped-pandas wrapper,
      │        Index._shard_partials, with an allowed/blocked doc mask
      │        cogrouped in when one applies, or on the driver over a
      │        pyarrow read of the same pruned postings)
      └─ global merge: orderBy(score desc, doc_id) limit k   [1 shuffle]

The per-shard kernel sees ONLY the query terms' posting runs (with doc
lengths packed inline), so query cost is independent of corpus width —
the scan reads ~|q| × n_shards rows regardless of N. Surfaces: search /
search_many (batched, shared block decodes) / search_phrase (positions) /
search_oracle / facets / fetch / highlight / stats.
"""

from __future__ import annotations

import atexit
import functools
import inspect
import shutil
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_elasticsearch_standalone_consumer_spark.analysis import (
    split_char_filter as _split_cf,
)
from kafka_elasticsearch_standalone_consumer_spark.index.build import term_bucket_col
from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import read_meta
from kafka_elasticsearch_standalone_consumer_spark.query import bm25, kernels
from kafka_elasticsearch_standalone_consumer_spark.tables import Warehouse, local_frame

TOPK_SCHEMA = "doc_id long, score double"
MANY_SCHEMA = "qid string, " + TOPK_SCHEMA + ", rank int"

# Placement threshold of search() / search_many(): a warehouse query with
# no DataFrame-valued mask whose planned posting volume (Σ df over its
# planned terms, summed over a batch) is at or below this runs on the
# driver; anything larger runs on the executors. Measured crossover,
# forced driver vs forced executor, local[4] on a 4-vCPU VM, docs_per_shard
# 2^14, wall / process-tree CPU per call (best or median of 2-3 calls):
#   ~22k turns (2 shards): the driver wins everywhere measured — single
#     bmw queries at 0.47M postings 0.58 s / 0.65 CPU s vs 1.44 s / 2.51
#     CPU s, 16-query batches at 2.18M 1.01 s / 1.12 CPU s vs 1.71 s / 2.76.
#   ~200k turns (12 shards): single bmw queries 1.56M postings 1.29 s /
#     1.34 CPU s vs 1.61 s / 2.66 CPU s; the executor first matches the
#     driver's wall at 1.85M (1.98 s vs 1.95 s) and batches at 2.66M
#     (1.63 s vs 1.62 s). The driver's tree CPU stays at about half the
#     executor's up to 3.4M. exact mode is cheaper on the driver than bmw.
# So the wall crossover is ~2M postings; the constant sits below it.
DRIVER_MAX_POSTINGS = 1_500_000

# Doc-count guard of a FILTERED search() on the driver: the compiled SQL
# ``where`` materializes its allowed doc set there (a pyarrow read of the
# doc store's doc_id + predicate columns), so a filtered query also needs
# meta.n_docs at or below this. Measured forced driver vs forced executor,
# local[4] on a 4-vCPU VM, docs_per_shard 2^14, role = 'user' on 8
# reference queries, median wall / process-tree CPU per call:
#   ~22k turns: 0.07 s / 0.13 CPU s vs 0.63 s / 1.38 CPU s (mask 5.5 ms);
#   ~200k turns: 0.12 s / 0.20 CPU s vs 0.80 s / 1.71 CPU s (mask 12 ms).
# No crossover up to ~200k: the executor's cost grows faster with the
# corpus than the driver's. The mask read alone (doc_id + a string
# predicate over 4 files) takes 62 ms at 2M docs and holds 4 MB of
# allowed ids, still ~10x under the executor's fixed cost; the constant
# stops at that measured point rather than at an extrapolated crossover.
DRIVER_MAX_DOCS = 2_000_000

# The ops of the (col, op, value) filter surface: op → (pyarrow.compute
# function, SQL spelling). The pc function takes a dataset field expression
# (pushed into the doc-store scan) or an Arrow array alike; the SQL
# spelling is what _filters_to_sql renders for the distributed surfaces.
_FILTER_OPS = {
    "=": ("equal", "="),
    "!=": ("not_equal", "<>"),
    "<": ("less", "<"),
    "<=": ("less_equal", "<="),
    ">": ("greater", ">"),
    ">=": ("greater_equal", ">="),
    "in": ("is_in", "IN"),
    "isnull": ("is_null", "IS NULL"),
    "notnull": ("is_valid", "IS NOT NULL"),
}
_NULL_OPS = ("isnull", "notnull")  # the ops that take no literal

# The leaves of Spark's own pushdown translation (sources.Filter class →
# _FILTER_OPS op) that the driver compile of a SQL where evaluates; Not
# (a <> b is NOT (a = b) after optimization), And, Or and StringStartsWith
# are handled around them.
_SOURCE_OPS = {
    "EqualTo": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
    "In": "in",
    "IsNull": "isnull",
    "IsNotNull": "notnull",
}


def _filter_op(op: str, val, surface: str = "") -> tuple[str, str]:
    """The :data:`_FILTER_OPS` row of one filter, after the checks both
    front ends share. A ``None`` literal is refused, alone or in an
    ``in`` list: SQL's ``= NULL`` / ``IN (NULL)`` never match, where
    Arrow's ``is_in`` matches null rows — use ``isnull`` instead."""
    if op not in _FILTER_OPS:
        raise ValueError(f"unsupported {surface}filter op {op!r} (use {tuple(_FILTER_OPS)})")
    if op not in _NULL_OPS and (val is None or (op == "in" and None in list(val))):
        raise ValueError("unsupported filter literal None")
    return _FILTER_OPS[op]


def _filter_predicate(x, op: str, val, surface: str = ""):
    """``x op val`` through the op table — a dataset expression for a
    field expression ``x``, a BooleanArray (null where SQL gives NULL)
    for an Arrow array ``x``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    fn = getattr(pc, _filter_op(op, val, surface)[0])
    if op in _NULL_OPS:
        return fn(x)
    return fn(x, pa.array(list(val)) if op == "in" else val)


def _filters_expr(filters: list[tuple]):
    """The tuple front end's driver compile: a conjunction of ``(col, op,
    value)`` filters as one pyarrow dataset expression, each through
    :data:`_FILTER_OPS` (no filters: every row)."""
    import operator

    import pyarrow.dataset as pads

    preds = [_filter_predicate(pads.field(col), op, val, "local ") for col, op, val in filters]
    return functools.reduce(operator.and_, preds) if preds else pads.scalar(True)


def _arrow_literal(v, typ):
    """A ``sources.Filter`` literal as a pyarrow scalar of the column's
    Arrow type ``typ``, or None where it has no exact twin: a SQL NULL, a
    Java type other than a timestamp, a float column (Arrow's IEEE order
    and Parquet statistics that skip NaN disagree with Spark's NaN
    rule), or a cast that would change the value. A ``TIMESTAMP``
    literal is a ``java.sql.Timestamp``, an instant; the doc store's
    INT96 timestamps read as naive UTC nanoseconds in pyarrow."""
    import pyarrow as pa
    from py4j.java_gateway import JavaObject

    if isinstance(v, JavaObject):
        if v.getClass().getName() != "java.sql.Timestamp" or not pa.types.is_timestamp(typ):
            return None
        micros = v.getTime() // 1000 * 1_000_000 + v.getNanos() // 1000
        lit = pa.scalar(micros, pa.timestamp("us", tz="UTC"))
        if typ.tz is None:
            lit = lit.cast(pa.timestamp("us"))
    elif v is None or not isinstance(v, (bool, int, str)) or pa.types.is_floating(typ):
        return None
    else:
        lit = pa.scalar(v)
        kinds = (
            pa.types.is_boolean, pa.types.is_integer,
            lambda t: pa.types.is_string(t) or pa.types.is_large_string(t),
        )
        if not any(kind(lit.type) and kind(typ) for kind in kinds):
            return None
    try:
        return lit.cast(typ)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None


def _source_filter_expr(f, schema):
    """A Spark ``sources.Filter`` tree (``f``, a py4j object) as a
    pyarrow dataset expression over the doc store's Arrow ``schema``,
    each comparison through :data:`_FILTER_OPS`; None where any node has
    no exact Arrow twin. Arrow's Kleene ``and``/``or``/``not`` and a
    filter that drops NULL give SQL's three-valued WHERE."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    kind = f.getClass().getSimpleName()
    if kind in ("And", "Or"):
        left, right = _source_filter_expr(f.left(), schema), _source_filter_expr(f.right(), schema)
        if left is None or right is None:
            return None
        return left & right if kind == "And" else left | right
    if kind == "Not":
        inner = _source_filter_expr(f.child(), schema)
        return None if inner is None else ~inner
    if kind not in _SOURCE_OPS and kind != "StringStartsWith":
        return None
    name = f.attribute()
    if "`" in name:  # a quoted name: a dot inside a column name
        return None
    path, typ = tuple(name.split(".")), pa.struct(list(schema))
    for part in path:
        if not pa.types.is_struct(typ) or typ.get_field_index(part) < 0:
            return None
        typ = typ.field(part).type
    x = pads.field(path)
    if kind == "StringStartsWith":
        return pc.starts_with(x, pattern=f.value()) if pa.types.is_string(typ) else None
    op = _SOURCE_OPS[kind]
    if op in _NULL_OPS:
        return _filter_predicate(x, op, None)
    lits = [_arrow_literal(v, typ) for v in (f.values() if op == "in" else [f.value()])]
    if any(lit is None for lit in lits):
        return None
    if op != "in":
        return _filter_predicate(x, op, lits[0])
    # Arrow's is_in gives false, not NULL, on a NULL input — so would its Not
    return pc.if_else(pc.is_null(x), pa.scalar(None, pa.bool_()), _filter_predicate(x, op, lits))


def _boost_combine(score: "F.Column", fv: "F.Column", boost_mode: str) -> "F.Column":
    """ES function_score ``boost_mode``: combine the query score with the
    function value — the full ES enum (multiply is ES's default)."""
    modes = {
        "multiply": lambda s, f: s * f,
        "sum": lambda s, f: s + f,
        "min": F.least,
        "max": F.greatest,
        "avg": lambda s, f: (s + f) / 2.0,
        "replace": lambda s, f: f,
    }
    if boost_mode not in modes:
        raise ValueError(f"unknown boost_mode: {boost_mode}")
    return modes[boost_mode](score, fv)


def _significance_score(heuristic: str, n, n11, n1_, n_1) -> "F.Column":
    """The shared ES significance-heuristic expressions over a 2×2
    contingency table in background-is-superset framing (all cells exact
    integers-as-doubles): jlh / mutual_information / chi_square / gnd /
    percentage — see :meth:`Index.significant_terms` for the formulas
    and citations. Kept as ONE function so the text-terms agg and the
    field-values agg score identically."""
    n10 = n1_ - n11
    n01 = n_1 - n11
    n00 = n - n1_ - n_1 + n11
    n0_ = n - n1_
    n_0 = n - n_1

    def _mi_term(nij, ni, nj):
        # 0·log 0 = 0 convention; nij > 0 implies ni, nj > 0.
        return F.when(
            nij > 0.0, (nij / n) * F.log2(n * nij / (ni * nj))
        ).otherwise(F.lit(0.0))

    if heuristic == "jlh":
        fgp = n11 / n1_
        bgp = n_1 / n
        return (fgp - bgp) * (fgp / bgp)
    if heuristic == "mutual_information":
        return (
            _mi_term(n11, n1_, n_1)
            + _mi_term(n10, n1_, n_0)
            + _mi_term(n01, n0_, n_1)
            + _mi_term(n00, n0_, n_0)
        )
    if heuristic == "chi_square":
        d = n11 * n00 - n10 * n01
        return n * (d * d) / (n1_ * n_1 * n0_ * n_0)
    if heuristic == "gnd":
        gnd = (F.greatest(F.log(n1_), F.log(n_1)) - F.log(n11)) / (
            F.log(n) - F.least(F.log(n1_), F.log(n_1))
        )
        return F.exp(-gnd)
    if heuristic == "percentage":
        return n11 / n_1
    raise ValueError(f"unknown significance heuristic {heuristic!r}")


def _damerau_levenshtein(a: str, b: str, cap: int) -> int:
    """Restricted Damerau-Levenshtein (adjacent transposition counts as
    one edit — ES's fuzziness metric), early-exiting past ``cap``.
    Driver-side only, on dictionary-pruned candidates (never per row)."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    prev2: list[int] | None = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                prev2 is not None
                and i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        if min(cur) > cap:
            return cap + 1
        prev2, prev = prev, cur
    return prev[lb]


@functools.cache
def _ephemeral_root() -> str:
    """The per-process parent directory of every ephemeral index, removed
    at interpreter exit."""
    root = tempfile.mkdtemp(prefix="kesc-ephemeral-")
    atexit.register(shutil.rmtree, root, True)
    return root


class Index:
    def __init__(self, spark: SparkSession, warehouse_path: str):
        from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
            list_segments,
            registry_totals,
            seg_warehouse,
        )

        self.spark = spark
        self.wh = Warehouse(warehouse_path)
        self.meta = read_meta(spark, self.wh)
        # n_docs/avgdl from the segment REGISTRY when one exists: the
        # registry row is append_segment's commit point and sys_meta is
        # refreshed after it, so a crash in between must not leave queries
        # scoring with idf/avgdl that exclude a committed segment
        totals = registry_totals(self.wh)
        if totals is not None:
            self.meta = dict(self.meta, n_docs=totals[0], avgdl=totals[1])
        segs = list_segments(self.wh)
        if len(segs) <= 1:
            self._seg_whs = [self.wh]
            self._seg_baked = [float(self.meta["avgdl"])]
        else:
            self._seg_whs = [self.wh] + [
                seg_warehouse(self.wh, s["seg_id"]) for s in segs[1:]
            ]
            self._seg_baked = [float(s["baked_avgdl"]) for s in segs]
        self._pads_cache: dict = {}
        self._where_cache: dict = {}

    # postings / _docs / _tokens_all / _doc_lengths / term_stats are the
    # executor-side views of the open-time segment snapshot (_seg_whs).
    # They are built on first use: a Spark parquet read lists partitions
    # and infers the schema (one Spark job, ~1-2 s per open with a few
    # segments), which the driver-side serving path never needs. Plain
    # attributes once built, so callers may replace them
    # (idx.postings = idx.postings.persist()).
    @functools.cached_property
    def postings(self) -> DataFrame:
        """Postings of every segment in the open-time snapshot, each row
        carrying the avgdl its block-max bounds were baked with (the
        kernel substitutes a safe bound if the global avgdl drifted up)."""
        parts = [
            w.read(self.spark, "postings").withColumn("baked_avgdl", F.lit(a))
            for w, a in zip(self._seg_whs, self._seg_baked)
        ]
        # NOTE (round 6): a size-derived coalesce of this scan (21 MB /
        # 95 files / 30 partitions → 1) was tried and REVERTED on
        # measurement: the warm single-query wall was a wash (best-of-3
        # 6.97 s vs 6.77 s over 20 queries) while search_many — whose one
        # job scans the union of every query's buckets — lost its map-side
        # parallelism and regressed ~30% (0.86–0.98 s → 1.13–1.36 s,
        # interleaved A/B). The near-empty-task overhead the coalesce
        # targeted is already absorbed by local-mode scheduling.
        return functools.reduce(DataFrame.unionByName, parts)

    @functools.cached_property
    def _docs(self) -> DataFrame:
        """The doc store of every segment in the open-time snapshot — the
        one frame every ``_docs_df()`` caller shares."""
        parts = [w.read(self.spark, "docs") for w in self._seg_whs]
        return functools.reduce(DataFrame.unionByName, parts)

    @functools.cached_property
    def _docs_declared(self) -> DataFrame:
        """The base segment's doc store read with its footer schema: the
        frame :meth:`_where_expr` plans a SQL ``where`` over. Never
        executed, and built without the schema-inference job of
        :attr:`_docs`."""
        return self.wh.read_declared(self.spark, "docs")

    @functools.cached_property
    def _tokens_all(self) -> DataFrame:
        """The forward index of every segment in the open-time snapshot —
        its tokens table, or the zero-shuffle fused pass over its docs
        where the build kept none — over the columns all segments share."""
        from kafka_elasticsearch_standalone_consumer_spark.analysis import doc_term_freqs

        parts = [
            w.read(self.spark, "tokens") if w.exists("tokens") else doc_term_freqs(
                w.read(self.spark, "docs"), analyzer=self.meta.get("analyzer", "standard")
            )
            for w in self._seg_whs
        ]
        cols = [c for c in parts[0].columns if all(c in p.columns for p in parts)]
        return functools.reduce(DataFrame.unionByName, [p.select(*cols) for p in parts])

    @functools.cached_property
    def _doc_lengths(self) -> DataFrame:
        """(doc_id, dl) of every segment in the open-time snapshot."""
        parts = [w.read(self.spark, "doc_stats").select("doc_id", "dl") for w in self._seg_whs]
        return functools.reduce(DataFrame.unionByName, parts)

    @functools.cached_property
    def term_stats(self) -> DataFrame:
        """The term dictionary; with incremental segments, re-aggregated so
        df/idf stay globally exact."""
        parts = [w.read(self.spark, "term_stats") for w in self._seg_whs]
        if len(parts) == 1:
            return parts[0]
        return (
            functools.reduce(DataFrame.unionByName, parts)
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.max("max_tf").alias("max_tf"))
        )

    @classmethod
    def ephemeral(
        cls,
        docs: DataFrame,
        docs_per_shard: int = 1 << 16,
        n_buckets: int = 64,
        tokenizer: str = "fused",
        positions: bool = False,
        analyzer: str = "standard",
    ) -> "Index":
        """Build an index over docs(doc_id, text, …) in a temporary
        warehouse and open it — used by small corpora, tests and the
        driver-contract queries.

        The build is :func:`build_index`'s step chain and ``meta`` step
        with the caller's doc_ids kept (no ``doc_map``: ``docs`` need not
        carry transcript keys), placed by size like any build, so the
        index serves every surface a persisted one does. The directory
        sits under one per-process temp root that is removed at
        interpreter exit — not when the Index is collected, since a lazy
        frame from it can outlive it — and, like every warehouse, must
        be readable by the executors.
        """
        from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import _build_tables
        from kafka_elasticsearch_standalone_consumer_spark.pipeline.checkpoint import (
            CheckpointLog,
            StepRunner,
        )

        spark = docs.sparkSession
        wh = Warehouse(tempfile.mkdtemp(dir=_ephemeral_root()))
        _build_tables(
            spark, docs, wh, StepRunner(CheckpointLog(spark, wh)), None, docs_per_shard,
            n_buckets, tokenizer, positions, analyzer,
        )
        return cls(spark, wh.root)

    def _frame(self, schema: str, columns: dict | None = None) -> DataFrame:
        """Driver-held rows as a zero-job frame (:func:`local_frame`)."""
        return local_frame(self.spark, schema, columns)

    SOURCE_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

    def fetch(
        self,
        hits: DataFrame,
        includes: list[str] | None = None,
        excludes: list[str] | None = None,
    ) -> DataFrame:
        """Join hits(doc_id, ...) back to the document store — the ES
        ``_source`` fetch phase (the reference posted whole documents,
        ``MessageHandler.java:135-139``; users get them back at query
        time). Broadcast the (tiny) hits side so the docs scan stays
        pruned and shuffle-free.

        ``includes``/``excludes`` are ES ``_source`` filtering patterns
        (fnmatch wildcards, e.g. ``includes=["t*"]``): includes selects,
        excludes then removes — resolved driver-side so the doc scan is
        column-pruned to exactly the surviving fields. Hit columns
        (doc_id, score, …) always ride along."""
        from fnmatch import fnmatch

        docs = self._docs
        # SOURCE_COLS is the transcript superset; an index built over a
        # narrower schema (e.g. documents-table fixtures) stores fewer
        src = [c for c in self.SOURCE_COLS if c in set(docs.columns)]
        if includes is not None:
            src = [c for c in src if any(fnmatch(c, p) for p in includes)]
        if excludes is not None:
            src = [c for c in src if not any(fnmatch(c, p) for p in excludes)]
        return docs.join(F.broadcast(hits), "doc_id").select(*hits.columns, *src)

    def highlight(
        self, hits: DataFrame, query_text: str, n_chars: int = 80
    ) -> DataFrame:
        """ES highlight surface: fetch the hits and add a ``snippet`` —
        ±``n_chars/2`` characters around the first query-term occurrence,
        matched terms wrapped in ``**``. Pure Column expressions (regexp
        on the fetched rows only — never a corpus-wide scan)."""
        import re as _re

        from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

        terms = sorted(set(self._analyze(query_text)), key=len, reverse=True)
        fetched = self.fetch(hits)
        if not terms:
            return fetched.withColumn("snippet", F.lit(None).cast("string"))
        if _split_cf(self.meta.get("analyzer", "standard"))[1] in ("porter", "english"):
            # analyzed terms are stems that may not appear literally in the
            # raw text ("tabl" vs "tables"): match any surface form sharing
            # the stem as a prefix — an approximation (Lucene re-analyzes
            # the stored field instead), good for the common suffix stems
            pat = (
                "(?i)\\b((?:" + "|".join(_re.escape(t) for t in terms) + ")[a-z0-9]*)"
            )
        else:
            pat = "(?i)\\b(" + "|".join(_re.escape(t) for t in terms) + ")\\b"
        first = F.regexp_instr(F.col("text"), F.lit(pat))  # 1-based; 0 = no match
        start = F.greatest(first - F.lit(n_chars // 2), F.lit(1))
        window = F.substring(F.col("text"), start.cast("int"), n_chars)
        marked = F.regexp_replace(window, pat, "**$1**")
        return fetched.withColumn(
            "snippet", F.when(first > 0, marked).otherwise(F.substring("text", 1, n_chars))
        )

    def stats(self) -> dict:
        """Index-level stats (the ES ``_stats`` surface), driver-side:
        corpus scalars from sys_meta, per-step rows/wall from the
        checkpoint lineage, segment registry summary, and per segment id
        the placement its tables were built with (``on_driver`` and the
        ``plan_bytes`` estimate behind it; None where unrecorded)."""
        from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
            DELETES_TABLE,
            build_placement,
            list_segments,
            seg_warehouse,
        )

        out = {"meta": dict(self.meta)}
        if self.wh.exists("sys_checkpoint"):
            steps = {}
            for r in self.wh.read_rows("sys_checkpoint"):
                if r["step_id"] != "ALL" and r["status"] == "ok":
                    steps[r["step_id"]] = {"rows": r["rows"], "wall_ms": r["wall_ms"]}
            out["steps"] = steps
        segs = list_segments(self.wh)
        out["n_segments"] = max(len(segs), 1)
        out["doc_id_hi"] = segs[-1]["doc_id_hi"] if segs else self.meta["n_docs"]
        out["placement"] = {0: build_placement(self.wh)} | {
            s["seg_id"]: build_placement(seg_warehouse(self.wh, s["seg_id"]))
            for s in segs[1:]
        }
        out["n_deleted"] = (
            self.wh.count_rows(DELETES_TABLE) if self.wh.exists(DELETES_TABLE) else 0
        )
        return out

    def corpus_summary(self) -> DataFrame:
        """ES ``_stats`` docs/terms section as ONE distributed row:
        (n_docs, total_tokens, n_terms, avgdl). The counts are exact
        longs (doc-stats rows include zero-token docs, exactly as the
        build's corpus stats do; tombstoned docs stay counted until
        compaction purges them — the frozen-stats invariant); avgdl is
        recomputed HERE as total_tokens/n_docs — ONE IEEE division of
        two exact integers-as-doubles, bit-identical cross-engine.
        Driver-side scalars (segments, deletes, lineage) live in
        :meth:`stats`; this is the distributed-aggregate subset an
        oracle can mirror.

        Plan shape: two 1-row aggregates (doc stats, term stats) joined
        by the accepted 1-row broadcast crossJoin — no window, no sort,
        no collect."""
        ds = self._doc_lengths.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_tokens"),
        )
        vocab = self.term_stats.select("term").distinct().agg(
            F.count("*").cast("long").alias("n_terms")
        )
        return ds.crossJoin(F.broadcast(vocab)).withColumn(
            "avgdl",
            F.col("total_tokens").cast("double") / F.col("n_docs").cast("double"),
        )

    def doc_keys(self) -> DataFrame:
        """(doc_id, conv_id, turn_idx) across base + segments — the stable
        user-facing identity (internal doc_ids are re-keyed by compaction,
        exactly as Lucene renumbers docs on segment merge)."""
        return self._docs.select("doc_id", "conv_id", "turn_idx")

    # -- planning ---------------------------------------------------------
    def _msm(self, min_should_match: "int | str", query_text: str) -> int:
        """Resolve a minimum_should_match value: ints pass through;
        strings run the full ES spec parser against the DISTINCT
        analyzed term count of this query."""
        if isinstance(min_should_match, str):
            from kafka_elasticsearch_standalone_consumer_spark.query.querystring import (
                parse_min_should_match,
            )

            return parse_min_should_match(
                min_should_match, len(set(self._analyze(query_text)))
            )
        return int(min_should_match)

    def _analyze(self, text: str) -> list[str]:
        """Query-time analysis with the INDEX's analyzer (meta-recorded
        at build) — ES's invariant that query and index analysis agree.
        Standard-analyzer indexes are byte-identical to tokenize_text."""
        from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

        return tokenize_text(text, self.meta.get("analyzer", "standard"))

    def _analyze_phrase(self, phrase: str) -> tuple[list[str], list[int]]:
        """Phrase analysis with Lucene position increments: returns the
        surviving slot terms AND their original in-phrase offsets, so a
        stop analyzer's gaps carry into phrase matching ("quick the fox"
        → slots [quick, fox] at offsets [0, 2])."""
        from kafka_elasticsearch_standalone_consumer_spark.analysis import (
            analyze_positions,
        )

        return analyze_positions(phrase, self.meta.get("analyzer", "standard"))

    def _plan_terms(self, query_text: str, with_volume: bool = False) -> tuple:
        """Query analysis + idf·weight per present term + bucket list
        (+ the planned posting volume Σ df when ``with_volume`` — the
        placement input of search / search_many).

        The term→(df, bucket) resolution is the Lucene term-dictionary
        lookup: a driver-side pyarrow read of the term-sorted
        ``term_stats`` files (footer min/max prunes to the row groups
        covering the query terms — no Spark job); the legacy-layout
        fallback is one filtered Spark collect. idf is then
        computed once here and shared by the fast path AND the DataFrame
        oracle, so both paths score with bit-identical weights.
        """
        import math

        weights = bm25.query_term_weights(
            query_text, self.meta.get("analyzer", "standard")
        )
        if not weights:
            return ({}, [], 0) if with_volume else ({}, [])
        df_by, bucket_by = self._term_dfs(sorted(weights))
        n = float(self.meta["n_docs"])
        # term-sorted dict order: downstream kernels iterate idfw to build
        # runs (search_many), and float accumulation order must agree with
        # the term-sorted shard kernels for bit-identical scores
        idfw = {
            t: weights[t] * math.log(1.0 + (n - df_by[t] + 0.5) / (df_by[t] + 0.5))
            for t in sorted(df_by)
        }
        buckets = sorted({bucket_by[t] for t in df_by})
        if with_volume:
            return idfw, buckets, sum(df_by.values())
        return idfw, buckets

    def _term_dfs(self, terms: list[str]) -> tuple[dict[str, int], dict[str, int]]:
        """({term: df summed over segments}, {term: term_bucket}) for the
        dictionary-present ``terms``: the footer-pruned pyarrow lookup,
        or one filtered Spark collect on legacy layouts."""
        rows = self._lookup_terms_arrow(terms)
        if rows is None:
            rows = self._lookup_terms_spark(terms)
        df_by: dict[str, int] = {}
        bucket_by: dict[str, int] = {}
        for term, df, bucket in rows:
            df_by[term] = df_by.get(term, 0) + int(df)
            bucket_by[term] = int(bucket)
        return df_by, bucket_by

    def _lookup_terms_arrow(self, terms: list[str]):
        """(term, df, bucket) rows via footer-pruned pyarrow reads, or None
        when the layout predates term_bucket."""
        import pyarrow.dataset as pads

        out = []
        for w in self._seg_whs:
            data = pads.dataset(w.path("term_stats"), format="parquet")
            if "term_bucket" not in data.schema.names:
                return None
            tbl = data.to_table(
                columns=["term", "df", "term_bucket"],
                filter=pads.field("term").isin(terms),
            )
            out.extend(
                zip(
                    tbl.column("term").to_pylist(),
                    tbl.column("df").to_pylist(),
                    tbl.column("term_bucket").to_pylist(),
                )
            )
        return out

    def _lookup_terms_spark(self, terms: list[str]):
        ts = self.term_stats
        if "term_bucket" not in ts.columns:
            ts = ts.withColumn(
                "term_bucket", term_bucket_col("term", self.meta["n_buckets"])
            )
        rows = (
            ts.filter(F.col("term").isin(terms))
            .groupBy("term", "term_bucket")
            .agg(F.sum("df").alias("df"))
            .collect()
        )
        return [(r["term"], r["df"], r["term_bucket"]) for r in rows]

    # -- execution --------------------------------------------------------
    def _bm25(self) -> tuple[int, float, float, float]:
        """(docs_per_shard, avgdl, k1, b) of this snapshot — the one read
        of the BM25 parameters from ``meta`` (avgdl 0 becomes 1e-9)."""
        meta = self.meta
        return (
            int(meta["docs_per_shard"]), float(meta["avgdl"]) or 1e-9,
            float(meta["k1"]), float(meta["b"]),
        )

    def _docs_df(self) -> DataFrame:
        return self._docs

    def _deletes_df(self) -> DataFrame | None:
        """Delete tombstones (Lucene live-docs complement) as a zero-job
        ``doc_id long`` frame over :meth:`_local_blocked`'s array, or
        None."""
        tombs = self._local_blocked()
        return None if tombs is None else self._frame("doc_id long", {"doc_id": tombs})

    def _live(
        self,
        where: "str | F.Column | None" = None,
        frame: DataFrame | None = None,
        allowed: DataFrame | None = None,
        blocked: DataFrame | None = None,
    ) -> DataFrame:
        """The executor twin of :meth:`_local_mask`, and the only doc
        restriction of the Spark surfaces: the doc store — or ``frame``,
        any frame with ``doc_id`` — cut down to the docs that pass the SQL
        ``where``, are in ``allowed`` and are in neither ``blocked`` nor
        the delete tombstones. With no ``frame`` the predicate filters the
        doc store itself, so it is pushed into the scan and the caller's
        select prunes the columns; with one, ``where`` becomes a semi-join
        against the filtered doc ids. Corpus statistics never see it."""
        docs = self._docs if where is None else self._docs.filter(where)
        out = docs
        if frame is not None:
            out = frame if where is None else frame.join(
                docs.select("doc_id"), "doc_id", "left_semi"
            )
        if allowed is not None:
            out = out.join(allowed.select("doc_id"), "doc_id", "left_semi")
        for drop in (blocked, self._deletes_df()):
            if drop is not None:
                out = out.join(drop.select("doc_id"), "doc_id", "left_anti")
        return out

    def _mask_plan(
        self,
        where: str | None,
        docs_per_shard: int,
        allowed_docs: DataFrame | None = None,
        blocked_docs: DataFrame | None = None,
    ):
        """(mask_df_with_shard, kind) for the per-shard doc mask:
        kind='allowed' ships the :meth:`_live` set of the filter clause
        and ``allowed_docs`` (min_should_match / bool must), minus
        ``blocked_docs`` (bool must_not) and the tombstones; kind='blocked'
        ships only the exclusions (cheaper when there is no filter or
        allowed set); (None, None) when no mask applies."""
        from kafka_elasticsearch_standalone_consumer_spark.index.build import with_shard

        if where is not None or allowed_docs is not None:
            live = self._live(where, frame=allowed_docs, blocked=blocked_docs)
            return with_shard(live.select("doc_id"), docs_per_shard), "allowed"
        drops = [d.select("doc_id") for d in (self._deletes_df(), blocked_docs) if d is not None]
        if not drops:
            return None, None
        blocked = functools.reduce(DataFrame.unionByName, drops)
        if len(drops) > 1:
            blocked = blocked.distinct()
        return with_shard(blocked, docs_per_shard), "blocked"

    @staticmethod
    def _shard_partials(hits, mask_df, mask_kind, fn, schema: str) -> DataFrame:
        """The executor wrapper of the per-shard seam: ``fn(pdf, allowed,
        blocked)`` runs once per shard group of ``hits`` and returns a
        pandas frame of ``schema``. With a mask from :meth:`_mask_plan`
        the shard's sorted mask ids ride a cogroup: an allowed-kind shard
        with no mask rows gets an EMPTY allowed array (nothing to emit,
        but positional kernels still count unmasked matches for the global
        df); a blocked-kind shard with none gets None."""
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import DataType

        if mask_df is None:
            # NB: applyInPandas dispatches on arity — a 2-param function
            # would be called as (key, pdf); keep the lambda single-param
            return hits.groupBy("shard").applyInPandas(
                lambda pdf: fn(pdf, None, None), schema=schema
            )
        empty = to_arrow_schema(DataType.fromDDL(schema)).empty_table().to_pandas()

        def cg(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if not len(left):
                return empty
            ids = (
                np.sort(right["doc_id"].to_numpy(dtype=np.int64))
                if len(right) else np.empty(0, dtype=np.int64)
            )
            if mask_kind == "allowed":
                return fn(left, ids, None)
            return fn(left, None, ids if len(ids) else None)

        return (
            hits.groupBy("shard")
            .cogroup(mask_df.groupBy("shard"))
            .applyInPandas(cg, schema=schema)
        )

    def search(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "bmw",
        where: str | None = None,
        min_should_match: "int | str" = 1,
        min_score: float | None = None,
        _allowed_docs: DataFrame | None = None,
        _blocked_docs: DataFrame | None = None,
        _plan: tuple[dict[str, float], list[int]] | None = None,
    ) -> DataFrame:
        """Top-k BM25 (OR semantics). mode: bmw | exact | intersect.

        Placement is decided after planning, from the term dictionary the
        plan already read. A query runs on the driver when its planned
        posting volume (Σ df of its planned terms) is at most
        ``DRIVER_MAX_POSTINGS``, ``min_should_match`` ≤ 1, none of the
        ``_`` hooks is passed, and ``where`` is None or compiles to a
        driver mask (:meth:`_where_expr`) on an index of at most
        ``DRIVER_MAX_DOCS`` docs: the serving kernel of
        :meth:`search_local` (tombstones honoured), returned as an Arrow
        LocalRelation, so collecting it launches no Spark job. Everything
        else (a ``where`` Spark's pushdown translation cannot express
        whole, match sets, the bool hooks, large volumes) runs the
        per-shard kernel on the executors. Both
        placements return bit-identical ``(doc_id, score)`` rows. Either
        way the query is a batch of one: :meth:`_local_topk` on the
        driver and :meth:`_term_partials` on the executors are
        :meth:`search_many`'s bodies too, and only the finish differs.

        ``_plan`` is an internal (idfw, buckets) override for compound
        queries that compute their own per-term weights driver-side
        (fuzzy_like_this): the kernel path then scores exactly those
        terms at exactly those weights (callers must use msm=1 and a
        non-intersect mode, since those re-analyze ``query_text``).

        ``_allowed_docs`` / ``_blocked_docs`` are internal doc-set hooks
        (bool must / must_not compiled by querystring.run_parsed): they
        restrict the scored doc set through the same per-shard cogroup
        mask as the filter clause — corpus statistics stay global.

        ``min_score`` (ES query option): drop hits scoring below the
        threshold. Applied AFTER the top-k — equivalent to ES's
        pre-top-k filter because the score order is total: every doc
        below ``min_score`` ranks below every kept hit anyway.

        ``where`` is an optional SQL predicate over the document columns
        (e.g. ``"role = 'user' AND ts >= '2026-01-02'"``) — the ES bool
        *filter* clause: it restricts the scored doc set but NOT the
        corpus statistics (idf/avgdl stay global, matching ES). On the
        driver its compile is pushed into a pyarrow read of the doc store
        (doc_id + predicate columns); on the executors each shard gets
        its allowed-doc set via a cogroup, from a distributed filter scan
        column-pruned the same way.

        ``min_should_match=m`` (ES query-level minimum_should_match):
        only docs containing ≥ m DISTINCT query terms are returned, with
        scores unchanged for survivors (the match set comes from one
        term-pruned tokens scan and rides the same allowed-doc cogroup
        as the filter clause). ``m = len(terms)`` equals mode='intersect'.
        A STRING value is parsed with the full ES spec syntax
        (percentages, negatives, I<SPEC conditionals — see
        :func:`querystring.parse_min_should_match`) against the distinct
        analyzed term count.
        """
        min_should_match = self._msm(min_should_match, query_text)
        if _plan is not None:
            (idfw, buckets), volume = _plan, None
        else:
            idfw, buckets, volume = self._plan_terms(query_text, with_volume=True)
        if not idfw:
            return self._frame(TOPK_SCHEMA)
        if mode == "intersect" and len(idfw) < len(set(self._analyze(query_text))):
            # a query term is absent from the corpus → conjunction is empty
            return self._frame(TOPK_SCHEMA)
        if (
            volume is not None
            and volume <= DRIVER_MAX_POSTINGS
            and min_should_match <= 1
            and _allowed_docs is None
            and _blocked_docs is None
            and (
                where is None
                or (self.meta["n_docs"] <= DRIVER_MAX_DOCS and self._where_expr(where) is not None)
            )
        ):
            [(d, s)] = self._local_topk(
                [(idfw, buckets)], k, mode, *self._local_mask(where)
            )
            if min_score is not None:
                keep = s >= float(min_score)
                d, s = d[keep], s[keep]
            return self._frame(TOPK_SCHEMA, {"doc_id": d, "score": s})
        allowed_docs = _allowed_docs
        if min_should_match > 1:
            terms = sorted(set(self._analyze(query_text)))
            if min_should_match > len(terms):
                return self._frame(TOPK_SCHEMA)
            ms = self._match_set(terms, min_should_match)
            allowed_docs = (
                ms if allowed_docs is None
                else allowed_docs.join(ms, "doc_id", "left_semi")
            )
        mask = self._mask_plan(where, self._bm25()[0], allowed_docs, _blocked_docs)
        partials = self._term_partials({"": (idfw, buckets)}, mode, k, mask)
        out = (
            partials.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        )
        if min_score is not None:
            out = out.filter(F.col("score") >= float(min_score))
        return out

    def _term_partials(self, plans: dict, mode: str, k: int, mask) -> DataFrame:
        """The executor placement of the batched term seam, shared by
        :meth:`search` and :meth:`search_many`: one pruned postings scan
        over the union of the plans' buckets and terms, then ONE
        :func:`kernels.term_shard` call per shard for every plan.
        ``plans`` maps qid → (idfw, buckets); ``mask`` is a
        :meth:`_mask_plan` pair. Rows (qid, doc_id, score), at most k per
        shard and qid."""
        qids = np.asarray(list(plans), dtype=object)
        idfws = [idfw for idfw, _ in plans.values()]
        buckets = sorted({bk for _, bs in plans.values() for bk in bs})
        terms = sorted({t for idfw in idfws for t in idfw})
        dps, avgdl, k1, b = self._bm25()
        hits = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )

        def score_shard(pdf: pd.DataFrame, allowed, blocked) -> pd.DataFrame:
            outs = kernels.term_shard(
                pdf, idfws, mode, k, avgdl, k1, b, dps, allowed, blocked
            )
            return pd.DataFrame({
                "qid": np.repeat(qids, [len(d) for d, _ in outs]),
                "doc_id": np.concatenate([d for d, _ in outs]),
                "score": np.concatenate([s for _, s in outs]),
            })

        return self._shard_partials(
            hits, *mask, score_shard, "qid string, " + TOPK_SCHEMA
        )

    def _local_blocked(self) -> "np.ndarray | None":
        """Tombstoned doc_ids as a sorted int64 array (a driver-side
        pyarrow read of the small tombstone table's doc_id column), or
        None. The one tombstone reader: :meth:`_local_mask` masks with it
        and :meth:`_deletes_df` ships it to Spark."""
        import pyarrow.dataset as pads

        from kafka_elasticsearch_standalone_consumer_spark.pipeline.incremental import (
            DELETES_TABLE,
        )

        if not self.wh.exists(DELETES_TABLE):
            return None
        ds = pads.dataset(self.wh.path(DELETES_TABLE), format="parquet")
        if not ds.files:
            return None
        ids = ds.to_table(columns=["doc_id"]).column("doc_id")
        return np.unique(np.asarray(ids, dtype=np.int64)) if len(ids) else None

    def _local_postings(self, buckets: list[int], terms: list[str]) -> pd.DataFrame | None:
        """Pruned postings rows for (buckets, terms) via cached pyarrow
        datasets — the serving-path scan (term_bucket hive partitions
        pruned, term row-groups pruned inside the bucket-sorted files).
        Rows carry the per-segment baked_avgdl the distributed plan
        attaches. None when nothing matched."""
        import pyarrow.dataset as pads

        flt = pads.field("term_bucket").isin(buckets) & pads.field("term").isin(terms)
        frames = []
        for w, baked in zip(self._seg_whs, self._seg_baked):
            key = w.path("postings")
            ds = self._pads_cache.get(key)
            if ds is None:
                ds = pads.dataset(key, format="parquet", partitioning="hive")
                self._pads_cache[key] = ds
            tbl = ds.to_table(filter=flt)
            if tbl.num_rows:
                frames.append(tbl.to_pandas().assign(baked_avgdl=float(baked)))
        if not frames:
            return None
        return pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]

    def _where_expr(self, where: str):
        """The driver compile of a SQL ``where``, cached per string: a
        pyarrow dataset expression selecting the rows of
        ``_docs_df().filter(where)``, or None — the query then stays on the
        executors. The string is planned over :attr:`_docs_declared` (no
        Spark job; an unknown column raises the AnalysisException the
        Spark surfaces raise), and the optimized plan's Filter condition
        goes through Spark's own pushdown translator,
        ``DataSourceStrategy.translateFilter``, the one that picks a
        Parquet scan's pushed filters; :func:`_source_filter_expr` maps
        the result. Anything it cannot translate whole (``turn_idx % 2 =
        0``, a function call, a float comparison) compiles to None."""
        if where not in self._where_cache:
            plan = self._docs_declared.filter(where)._jdf.queryExecution().optimizedPlan()
            expr = None
            if (
                plan.getClass().getSimpleName() == "Filter"
                and plan.child().getClass().getSimpleName() == "LogicalRelation"
            ):
                jvm = self.spark._jvm
                strategy = getattr(
                    jvm.org.apache.spark.sql.execution.datasources, "DataSourceStrategy$"
                ).__getattr__("MODULE$")
                pushed = strategy.translateFilter(plan.condition(), True)
                if pushed.isDefined():
                    import pyarrow.dataset as pads

                    schema = pads.dataset(self.wh.path("docs"), format="parquet").schema
                    expr = _source_filter_expr(pushed.get(), schema)
            self._where_cache[where] = expr
        return self._where_cache[where]

    def _local_allowed(self, expr) -> "np.ndarray":
        """Sorted doc_ids the dataset expression ``expr`` selects — a
        driver-side pyarrow read of the doc store pruned to the doc_id
        column, ``expr`` pushed into the scan. Called only by
        :meth:`_local_mask`, which compiles either filter front end to
        ``expr``. The allowed set is held on the driver, so
        :meth:`search` places a filtered query here only up to
        ``DRIVER_MAX_DOCS`` docs."""
        import pyarrow.dataset as pads

        parts = []
        for w in self._seg_whs:
            tbl = pads.dataset(w.path("docs"), format="parquet").to_table(
                columns=["doc_id"], filter=expr
            )
            if tbl.num_rows:
                parts.append(np.asarray(tbl.column("doc_id"), dtype=np.int64))
        if not parts:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate(parts))

    def _local_mask(
        self,
        where: "list[tuple] | str | None" = None,
        allowed: "np.ndarray | None" = None,
        blocked: "np.ndarray | None" = None,
    ) -> tuple["np.ndarray | None", "np.ndarray | None"]:
        """(allowed, blocked) sorted doc masks of the driver placement —
        the twin of :meth:`_live`, and the only mask builder of the
        serving path (apply it with ``kernels._apply_doc_masks`` or hand
        it to a kernel). ``where`` — ``(col, op, value)`` tuples
        (:func:`_filters_expr`) or a SQL string that compiles
        (:meth:`_where_expr`) — selects through :meth:`_local_allowed`
        and intersects with ``allowed``; ``blocked`` unions with the
        delete tombstones; an allowed set absorbs the blocked ones, so at
        most one of the two comes back non-None. Corpus statistics never
        see either mask."""
        if where is not None:
            expr = self._where_expr(where) if isinstance(where, str) else _filters_expr(where)
            if expr is None:
                raise ValueError(f"where {where!r} has no driver compile; use a Spark surface")
            wa = self._local_allowed(expr)
            allowed = wa if allowed is None else np.intersect1d(allowed, wa)
        tombs = self._local_blocked()
        if tombs is not None:
            blocked = tombs if blocked is None else np.union1d(blocked, tombs)
        if allowed is not None and blocked is not None:
            return np.setdiff1d(allowed, blocked), None
        return allowed, blocked

    def get_docs_local(self, doc_ids: list[int]) -> list[dict]:
        """ES ``_mget`` on the zero-Spark-job serving path: pyarrow point
        reads of the doc store with the doc_id set pushed into the
        parquet filter (docs are written in doc_id order, so footer
        min/max prunes to the covering row groups). Missing ids are
        silently absent and tombstoned docs are never returned — same
        contract as :meth:`get_docs`. Rows come back doc_id-ascending."""
        import pyarrow.dataset as pads

        ids, _ = self._local_mask(allowed=np.unique(np.asarray(list(doc_ids), dtype=np.int64)))
        if not len(ids):
            return []
        out: list[dict] = []
        for w in self._seg_whs:
            tbl = pads.dataset(w.path("docs"), format="parquet").to_table(
                filter=pads.field("doc_id").isin(ids)
            )
            out.extend(tbl.to_pylist())
        return sorted(out, key=lambda r: r["doc_id"])

    def highlight_local(
        self,
        hits: list[tuple[int, float]],
        query_text: str,
        n_chars: int = 80,
    ) -> list[dict]:
        """ES highlight on the zero-Spark-job serving path: fetch the hit
        docs via :meth:`get_docs_local` and add the same ``snippet`` as
        :meth:`highlight` — identical pattern construction (stem-prefix
        forms under porter/english), identical 1-based window arithmetic,
        matched terms wrapped in ``**``. Returns the doc dicts (doc_id
        ascending) each extended with ``snippet``."""
        import re as _re

        terms = sorted(set(self._analyze(query_text)), key=len, reverse=True)
        rows = self.get_docs_local([d for d, _ in hits])
        if not terms:
            return [{**r, "snippet": None} for r in rows]
        if _split_cf(self.meta.get("analyzer", "standard"))[1] in ("porter", "english"):
            pat = (
                "(?i)\\b((?:" + "|".join(_re.escape(t) for t in terms) + ")[a-z0-9]*)"
            )
        else:
            pat = "(?i)\\b(" + "|".join(_re.escape(t) for t in terms) + ")\\b"
        rx = _re.compile(pat)
        out = []
        for r in rows:
            text = r["text"] or ""
            m = rx.search(text)
            if m is None:
                out.append({**r, "snippet": text[:n_chars]})
                continue
            first = m.start() + 1  # Spark regexp_instr is 1-based
            start = max(first - n_chars // 2, 1)
            window = text[start - 1 : start - 1 + n_chars]
            out.append({**r, "snippet": rx.sub(r"**\1**", window)})
        return out

    def search_terms_local(
        self,
        terms: list[str],
        k: int = 10,
        boost: float = 1.0,
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """ES ``terms`` query on the zero-Spark-job serving path: docs
        containing ≥1 of ``terms`` (:meth:`_terms_values`) at constant score
        ``boost``, first k by doc_id — same contract as
        :meth:`search_terms`, served by
        :meth:`_constant_score_multi_term_local`. ``where`` takes the
        serving-path (col, op, value) tuples."""
        return self._constant_score_multi_term_local(
            self._terms_values(terms), k, where, boost
        )

    def _terms_values(self, values) -> list[str]:
        """A terms query's values under the index's case rule: lowercased
        unless the analyzer keeps case (whitespace, keyword), then sorted
        and deduped."""
        from kafka_elasticsearch_standalone_consumer_spark.analysis import lowercases

        low = lowercases(self.meta.get("analyzer", "standard"))
        return sorted({str(t).lower() if low else str(t) for t in values})

    def _constant_score_multi_term_local(
        self,
        terms: list[str],
        k: int,
        where: list[tuple] | None,
        boost: float = 1.0,
    ) -> list[tuple[int, float]]:
        """The driver twin of :meth:`_constant_score_multi_term`: docs
        containing ≥1 of the verbatim ``terms`` at constant score
        ``boost``, first k by doc_id. The postings read is the pruned
        pyarrow scan :meth:`search_local` uses; doc ids are decoded and
        unioned (no scoring kernel), then :meth:`_local_mask` applies.
        Every multi-term ``*_local`` twin is this body over its rewrite,
        so whitespace/keyword indexes (which keep case) still match."""
        ts = sorted(set(terms))
        if not ts:
            return []
        per_term = self._local_term_docs(ts, "search_terms()")
        if not per_term:
            return []
        uniq = np.unique(np.concatenate(list(per_term.values())))
        allowed, blocked = self._local_mask(where)
        keep = kernels._apply_doc_masks(uniq, allowed, blocked)
        if keep is not None:
            uniq = uniq[keep]
        return [(int(d), float(boost)) for d in uniq[:k]]

    def constant_score_local(
        self,
        where: list[tuple],
        k: int = 10,
        boost: float = 1.0,
    ) -> list[tuple[int, float]]:
        """Filter-context queries (ids / exists / missing / filtered
        match_all) on the zero-Spark-job serving path: the (col, op,
        value) conjunction resolves to an allowed-doc set via ONE pruned
        pyarrow doc-store read (:meth:`_local_mask` — doc_id column +
        pushed predicate only), tombstones drop, first k by doc_id at
        constant score ``boost``. The ES surfaces map directly:
        ids → ``[("doc_id", "in", ids)]``, exists → ``[(f, "notnull",
        None)]``, missing → ``[(f, "isnull", None)]``. The allowed set
        materializes driver-side, as under every driver mask."""
        allowed, _ = self._local_mask(where)
        return [(int(d), float(boost)) for d in allowed[:k]]

    # The multi-term and positional *_local twins below are the second
    # finish of their distributed surface: the same rewrite or clause
    # compile, then the driver body (_constant_score_multi_term_local /
    # _positional_topk_local) instead of the Spark one.
    def search_prefix_local(
        self,
        prefix: str,
        k: int = 10,
        max_expansions: int = 50,
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-job twin of :meth:`search_prefix`."""
        return self._constant_score_multi_term_local(
            self._expand_prefix(prefix, max_expansions), k, where
        )

    def search_wildcard_local(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = 50,
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-job twin of :meth:`search_wildcard`."""
        return self._constant_score_multi_term_local(
            self._wildcard_terms(pattern, max_expansions), k, where
        )

    def search_fuzzy_local(
        self,
        term: str,
        k: int = 10,
        fuzziness: int = 1,
        prefix_length: int = 1,
        max_expansions: int = 50,
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-job twin of :meth:`search_fuzzy`."""
        return self._constant_score_multi_term_local(
            list(self._fuzzy_variants(term, fuzziness, prefix_length))[:max_expansions],
            k, where,
        )

    def search_regexp_local(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = 50,
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-job twin of :meth:`search_regexp`."""
        return self._constant_score_multi_term_local(
            self._regexp_terms(pattern, max_expansions), k, where
        )

    def search_phrase_local(
        self, phrase: str, k: int = 10, slop: int = 0,
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-job twin of :meth:`search_phrase`: the same pruned
        postings read and position kernel executed driver-side —
        rank/score-identical (same synthetic-term BM25: df aggregated over
        UNMASKED matches across shards, so filters/tombstones never shift
        idf). ``where`` is the serving-path filter surface (see
        :meth:`_local_mask`)."""
        slots, offsets = self._analyze_phrase(phrase)
        return self._positional_topk_local([[t] for t in slots], k, where, slop, offsets)

    def _phrase_scores_local(
        self,
        phrase: str,
        slop: int,
        allowed: "np.ndarray | None",
        blocked: "np.ndarray | None",
    ) -> tuple["np.ndarray", "np.ndarray"]:
        """Full (doc_ids, scores) of one match_phrase clause on the
        serving path (bool-should summation needs the COMPLETE set)."""
        slots, offsets = self._analyze_phrase(phrase)
        return self._positional_scores_local(
            [[t] for t in slots], None, allowed, blocked, slop=slop, offsets=offsets
        )

    def _positional_topk_local(
        self,
        slot_terms: list[list[str]] | None,
        k: int,
        where: list[tuple] | None,
        slop: int = 0,
        offsets: list[int] | None = None,
        span: tuple | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-Spark-job top-k of a phrase (``span=None``) or span query —
        the driver finish of :meth:`_phrase_topk`, same arguments: the
        serving-path masks, then :meth:`_positional_scores_local` with a
        per-shard cut at k."""
        dd, ss = self._positional_scores_local(
            slot_terms, span, *self._local_mask(where),
            per_shard_k=k, slop=slop, offsets=offsets,
        )
        top = np.lexsort((dd, -ss))[:k]
        return [(int(dd[i]), float(ss[i])) for i in top]

    def _positional_scores_local(
        self,
        slot_terms: list[list[str]] | None,
        span: tuple | None,
        allowed: "np.ndarray | None",
        blocked: "np.ndarray | None",
        per_shard_k: int | None = None,
        slop: int = 0,
        offsets: list[int] | None = None,
    ) -> tuple["np.ndarray", "np.ndarray"]:
        """(doc_ids, scores) of a phrase/span clause on the serving path:
        the pruned postings read of :meth:`_phrase_topk`, the same
        :func:`kernels.positional_shard` per shard, and the same
        synthetic-term BM25 finish — df aggregated over UNMASKED matches
        across shards, so filters/tombstones never shift idf.
        ``per_shard_k=None`` keeps every match (shards hold at most
        docs_per_shard docs)."""
        plan = self._positional_plan(slot_terms, span)
        pdf = None if plan is None else self._local_postings(*plan)
        if pdf is None:
            return self._positional_bm25([], [], [], 0)
        docs_per_shard, avgdl, k1, b = self._bm25()
        kk = int(per_shard_k) if per_shard_k is not None else docs_per_shard
        parts = [
            kernels.positional_shard(
                g, slot_terms, span, slop, offsets, kk, avgdl, k1, b,
                docs_per_shard, allowed, blocked,
            )
            for _shard, g in pdf.groupby("shard", sort=False)
        ]
        return self._positional_bm25(
            *(np.concatenate([p[i] for p in parts]) for i in range(3)),
            sum(int(p[3]) for p in parts),
        )

    def _positional_bm25(self, d, tf, dl, n_matches: int) -> tuple["np.ndarray", "np.ndarray"]:
        """The synthetic-term BM25 finish of the phrase/span family, shared
        by both placements: (doc_ids, scores) of the per-shard match rows
        (doc, tf, dl), with idf from ``n_matches`` — the UNMASKED match
        count summed over shards, so filters and tombstones never shift
        it. Empty when nothing matched."""
        import math

        dd = np.asarray(d, dtype=np.int64)
        if n_matches == 0 or not len(dd):
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        _dps, avgdl, k1, b = self._bm25()
        tf = np.asarray(tf, dtype=np.float64)
        dl = np.asarray(dl, dtype=np.float64)
        idf = math.log(1.0 + (float(self.meta["n_docs"]) - n_matches + 0.5) / (n_matches + 0.5))
        return dd, idf * tf / (tf + k1 * (1.0 - b + b * dl / avgdl))

    def search_span_first_local(
        self, term: str, end: int, k: int = 10,
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-job twin of :meth:`search_span_first`."""
        return self._positional_topk_local(
            [self._analyze(term)[:1]], k, where, span=("first", int(end))
        )

    def search_span_near_local(
        self,
        terms: list[str | list[str] | dict],
        slop: int = 0,
        in_order: bool = False,
        k: int = 10,
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-job twin of :meth:`search_span_near`."""
        return self._positional_topk_local(
            self._span_near_slots(terms, in_order), k, where,
            span=("near", int(slop), bool(in_order)),
        )

    def search_span_or_local(
        self, terms: list[str], k: int = 10, where: list[tuple] | None = None
    ) -> list[tuple[int, float]]:
        """Zero-job twin of :meth:`search_span_or`."""
        return self._positional_topk_local(
            [self._span_clause(list(terms))], k, where, span=("near", 0, False)
        )

    def search_span_not_local(
        self,
        include: str | list[str],
        exclude: str | list[str],
        pre: int = 0,
        post: int = 0,
        k: int = 10,
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-job twin of :meth:`search_span_not`."""
        return self._positional_topk_local(
            self._span_not_slots(include, exclude), k, where,
            span=("not", int(pre), int(post)),
        )

    def _span_contain_local(
        self, little, big, slop, in_order, mode, k, where
    ) -> list[tuple[int, float]]:
        """Zero-job twin of :meth:`_span_contain_topk`."""
        return self._positional_topk_local(
            self._span_contain_slots(little, big, in_order), k, where,
            span=(mode, int(slop), bool(in_order)),
        )

    def search_span_containing_local(
        self, little, big, slop: int = 0, in_order: bool = False,
        k: int = 10, where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-job twin of :meth:`search_span_containing`."""
        return self._span_contain_local(
            little, big, slop, in_order, "containing", k, where
        )

    def search_span_within_local(
        self, little, big, slop: int = 0, in_order: bool = False,
        k: int = 10, where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-job twin of :meth:`search_span_within`."""
        return self._span_contain_local(
            little, big, slop, in_order, "within", k, where
        )

    def search_local(
        self, query_text: str, k: int = 10, mode: str = "bmw",
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-Spark-job serving path for a single query: the same plan
        as :meth:`search` (term-dictionary lookup → pruned postings read →
        per-shard kernel → global top-k) executed entirely driver-side
        with pyarrow + NumPy. Rank- and score-identical to ``search()``
        (same idf plan, same kernels, same doc_id tiebreak).

        Why it exists: a distributed ``search().collect()`` pays ~0.4 s of
        Spark job scheduling regardless of data volume — the right trade
        for analytics, the wrong one for point-query serving (``search()``
        itself now places small unfiltered queries here). This path
        reads exactly the bytes the executors would (term_bucket partition
        dirs pruned by the hive filter, then term row-group pruning inside
        the bucket-sorted files), so its cost is |q|·n_shards posting runs
        — independent of corpus width, the same contract ES's own
        single-node query path offers. Delete tombstones are honored
        (driver-side read of the small tombstone table). ``where`` is the
        serving-path filter surface — a conjunction of ``(col, op, value)``
        tuples resolved to an allowed-doc set by a pruned pyarrow read of
        the doc store (see :meth:`_local_mask`); scores are identical
        to the unfiltered ranks of surviving docs, exactly like
        ``search(where=...)`` (ES keeps corpus statistics global under a
        filter clause). ``search()`` takes the same filter as SQL and
        runs it here too while it compiles and the index is small
        (``DRIVER_MAX_DOCS``); min_should_match > 1 takes ``search()``
        on the executors.

        Returns ``[(doc_id, score), ...]`` best-first (len ≤ k).
        """
        plan = self._plan_terms(query_text)
        if mode == "intersect" and len(plan[0]) < len(set(self._analyze(query_text))):
            return []
        [(d, s)] = self._local_topk([plan], k, mode, *self._local_mask(where))
        return list(zip(d.tolist(), s.tolist()))

    def _local_topk(
        self, plans: list[tuple], k: int, mode: str, allowed, blocked
    ) -> list[tuple["np.ndarray", "np.ndarray"]]:
        """The serving-path global top-k of each (idfw, buckets) plan,
        (score desc, doc_id asc) — the order of search()'s
        ``orderBy(desc(score), asc(doc_id)).limit(k)`` and of
        search_many()'s Window."""
        out = []
        for dd, ss in self._local_term_scores(plans, allowed, blocked, k, mode):
            top = np.lexsort((dd, -ss))[:k]
            out.append((dd[top], ss[top]))
        return out

    def search_terminate_after_local(
        self,
        query_text: str,
        k: int = 10,
        *,
        terminate_after: int,
        where: list[tuple] | None = None,
        mode: str = "bmw",
    ) -> tuple[list[tuple[int, float]], bool]:
        """Zero-Spark-job twin of :meth:`search_terminate_after`: the FULL
        local score set (``per_shard_k=None`` — the cap selects by index
        order, so per-shard score pruning would be unsound here), each
        shard truncated to its first ``terminate_after`` matching doc_ids,
        then the usual (score desc, id asc) top-k. Returns
        ``(hits, terminated_early)`` — the flag is ES's response field.
        Scores are identical to the distributed path (same kernels, same
        global stats)."""
        if terminate_after < 1:
            raise ValueError("terminate_after must be ≥ 1")
        [(dd, ss)] = self._local_term_scores(
            [self._plan_terms(query_text)], *self._local_mask(where), mode=mode
        )
        if not len(dd):
            return [], False
        dps = self._bm25()[0]
        order = np.argsort(dd)
        d_sorted, s_sorted = dd[order], ss[order]
        shard = d_sorted // dps
        change = np.r_[True, shard[1:] != shard[:-1]]
        start = np.maximum.accumulate(np.where(change, np.arange(len(shard)), 0))
        rank = np.arange(len(shard)) - start
        keep = rank < int(terminate_after)
        terminated_early = bool(np.any(~keep))
        d_kept, s_kept = d_sorted[keep], s_sorted[keep]
        top = np.lexsort((d_kept, -s_kept))[:k]
        return (
            [(int(d_kept[i]), float(s_kept[i])) for i in top],
            terminated_early,
        )

    def search_geo_distance_local(
        self,
        query_text: str,
        k: int = 10,
        *,
        origin: tuple[float, float],
        radius_km: float,
        lat_col: str = "lat",
        lon_col: str = "lon",
        mode: str = "bmw",
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-Spark-job twin of :meth:`search_geo_distance`: a pruned
        pyarrow read of (doc_id, lat, lon) + the NumPy haversine builds
        the allowed-doc set driver-side, then the shared local kernel
        scores exactly like :meth:`search_local`. Scores are identical to
        the distributed path; set membership at the EXACT radius boundary
        may differ by a trig ulp between libm implementations — pick radii
        off the boundary (every real query does). ``where`` tuples narrow
        the set further; :meth:`_local_mask` intersects the two and drops
        the tombstones."""
        ids, lat_deg, lon_deg = self._local_geo_coords(lat_col, lon_col)
        if ids is None:
            return []
        dist = self._np_haversine_km(lat_deg, lon_deg, origin)
        allowed, blocked = self._local_mask(where, np.unique(ids[dist <= float(radius_km)]))
        [(d, s)] = self._local_topk(
            [self._plan_terms(query_text)], k, mode, allowed, blocked
        )
        return list(zip(d.tolist(), s.tolist()))

    def _local_geo_coords(self, lat_col: str, lon_col: str):
        """(doc_ids, lat_deg, lon_deg) float64 arrays from a pruned pyarrow
        read of every segment's doc store — the geo serving twins' input."""
        import pyarrow.dataset as pads

        ids_parts, lat_parts, lon_parts = [], [], []
        for w in self._seg_whs:
            tbl = pads.dataset(w.path("docs"), format="parquet").to_table(
                columns=["doc_id", lat_col, lon_col]
            )
            if tbl.num_rows:
                ids_parts.append(np.asarray(tbl.column("doc_id"), dtype=np.int64))
                lat_parts.append(np.asarray(tbl.column(lat_col), dtype=np.float64))
                lon_parts.append(np.asarray(tbl.column(lon_col), dtype=np.float64))
        if not ids_parts:
            return None, None, None
        return (
            np.concatenate(ids_parts),
            np.concatenate(lat_parts),
            np.concatenate(lon_parts),
        )

    @staticmethod
    def _np_haversine_km(lat_deg, lon_deg, origin) -> "np.ndarray":
        lat = np.radians(lat_deg)
        lon = np.radians(lon_deg)
        lat0, lon0 = np.radians(origin[0]), np.radians(origin[1])
        a = (
            np.sin((lat - lat0) / 2) ** 2
            + np.cos(lat) * np.cos(lat0) * np.sin((lon - lon0) / 2) ** 2
        )
        return 2 * 6371.0088 * np.arcsin(np.sqrt(a))

    def search_geo_shape_local(
        self,
        query_text: str,
        k: int = 10,
        *,
        shape: dict,
        relation: str = "intersects",
        lat_col: str = "lat",
        lon_col: str = "lon",
        mode: str = "bmw",
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-Spark-job twin of :meth:`search_geo_shape`: the shape
        membership mask is computed with NumPy arithmetic that mirrors
        the compiled SQL predicates expression-for-expression (bbox range
        comparisons; the haversine of the distance twin; the SAME
        divisionless crossing-parity terms as
        :meth:`_point_in_polygon_sql` in identical operation order, so
        float results agree bit-for-bit), then the shared local kernel
        scores exactly like :meth:`search_local`."""
        ids, lat, lon = self._local_geo_coords(lat_col, lon_col)
        if ids is None:
            return []
        typ = str(shape.get("type", "")).lower()
        coords = shape.get("coordinates")
        if typ == "envelope":
            (min_lon, max_lat), (max_lon, min_lat) = coords
            if float(min_lon) > float(max_lon):
                raise ValueError(
                    "envelope crosses the antimeridian; split it into two"
                )
            mask = (
                (lat <= float(max_lat))
                & (lat >= float(min_lat))
                & (lon >= float(min_lon))
                & (lon <= float(max_lon))
            )
        elif typ == "circle":
            q_lon, q_lat = coords
            radius_km = self._parse_geo_radius_km(shape.get("radius", 0.0))
            mask = self._np_haversine_km(lat, lon, (float(q_lat), float(q_lon))) <= radius_km
        elif typ == "polygon":
            if len(coords) != 1:
                raise ValueError("polygon holes are not supported")
            ring = [(float(la), float(lo)) for lo, la in coords[0]]
            if len(ring) >= 2 and ring[0] == ring[-1]:
                ring = ring[:-1]
            pts = list(ring)
            if pts[0] != pts[-1]:
                pts.append(pts[0])
            crossings = np.zeros(len(ids), dtype=np.int64)
            for (y1, x1), (y2, x2) in zip(pts, pts[1:]):
                if y1 == y2:
                    continue
                dy, dx = y2 - y1, x2 - x1
                cross_val = (lon - x1) * dy - (lat - y1) * dx
                cross = cross_val < 0 if dy > 0 else cross_val > 0
                straddle = (y1 > lat) != (y2 > lat)
                crossings += (straddle & cross).astype(np.int64)
            mask = crossings % 2 == 1
        elif typ == "point":
            q_lon, q_lat = coords
            mask = (lat == float(q_lat)) & (lon == float(q_lon))
        else:
            raise ValueError(f"unsupported geo_shape type: {shape.get('type')!r}")
        rel = relation.lower()
        if rel == "disjoint":
            mask = ~mask
        elif rel not in ("intersects", "within"):
            raise ValueError(
                f"unsupported geo_shape relation for point fields: {relation!r}"
            )
        allowed, blocked = self._local_mask(where, np.unique(ids[mask]))
        [(d, s)] = self._local_topk(
            [self._plan_terms(query_text)], k, mode, allowed, blocked
        )
        return list(zip(d.tolist(), s.tolist()))

    def _local_shape_coords(self, shape_col: str):
        """(doc_ids, lons (n,V), lats (n,V)) from a pruned pyarrow read of
        every segment's stored per-document ring column
        (array<struct<lon,lat>>) — the indexed-shape serving twin's
        input. Requires a UNIFORM vertex count across docs, matching the
        fixed-V ``ring_sql`` surface of the distributed path."""
        import pyarrow.dataset as pads

        ids_parts, lon_parts, lat_parts, v_seen = [], [], [], None
        for w in self._seg_whs:
            tbl = pads.dataset(w.path("docs"), format="parquet").to_table(
                columns=["doc_id", shape_col]
            )
            if not tbl.num_rows:
                continue
            col = tbl.column(shape_col).combine_chunks()
            if col.null_count:
                raise ValueError(
                    "NULL shapes are not supported on the serving path — "
                    "filter them out or store empty rings"
                )
            offs = np.asarray(col.offsets, dtype=np.int64)
            lens = np.diff(offs)
            if lens.size and (lens != lens[0]).any():
                raise ValueError(
                    "indexed shapes must share one vertex count on the "
                    "serving path (matching the fixed-V ring_sql surface)"
                )
            v = int(lens[0]) if lens.size else 0
            if v == 0:
                # empty rings contain nothing — matches the distributed
                # predicate, whose NULL vertex accessors never pass the
                # filter; these docs simply can't match
                continue
            if v_seen is None:
                v_seen = v
            elif v != v_seen:
                raise ValueError("vertex count differs across segments")
            flat = col.flatten()
            lon = np.asarray(flat.field("lon"), dtype=np.float64).reshape(-1, v)
            lat = np.asarray(flat.field("lat"), dtype=np.float64).reshape(-1, v)
            ids_parts.append(np.asarray(tbl.column("doc_id"), dtype=np.int64))
            lon_parts.append(lon)
            lat_parts.append(lat)
        if not ids_parts:
            return None, None, None
        return (
            np.concatenate(ids_parts),
            np.concatenate(lon_parts, axis=0),
            np.concatenate(lat_parts, axis=0),
        )

    def search_geo_shape_indexed_local(
        self,
        query_text: str,
        k: int = 10,
        *,
        point: tuple[float, float],
        shape_col: str = "shape",
        relation: str = "intersects",
        mode: str = "bmw",
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-Spark-job twin of :meth:`search_geo_shape_indexed`: the
        per-document polygon membership mask runs the SAME runtime-sign
        crossing-parity arithmetic as
        :meth:`shape_ring_contains_point_sql` in identical operation
        order (``cross = (px-x1)·dy − (py-y1)·dx``, sign resolved per
        row), so float results agree bit-for-bit; then the shared local
        kernel scores exactly like :meth:`search_local`."""
        ids, lons, lats = self._local_shape_coords(shape_col)
        if ids is None:
            return []
        px, py = float(point[0]), float(point[1])
        n, v = lons.shape
        crossings = np.zeros(n, dtype=np.int64)
        for j in range(v):
            x1, y1 = lons[:, j], lats[:, j]
            x2, y2 = lons[:, (j + 1) % v], lats[:, (j + 1) % v]
            dy = y2 - y1
            cross = (px - x1) * dy - (py - y1) * (x2 - x1)
            cmask = ((dy > 0) & (cross < 0)) | ((dy < 0) & (cross > 0))
            straddle = (y1 > py) != (y2 > py)
            crossings += (straddle & cmask).astype(np.int64)
        mask = crossings % 2 == 1
        rel = relation.lower()
        if rel == "disjoint":
            mask = ~mask
        elif rel not in ("intersects", "contains"):
            raise ValueError(
                f"unsupported geo_shape relation for a point query against "
                f"polygon docs: {relation!r}"
            )
        allowed, blocked = self._local_mask(where, np.unique(ids[mask]))
        [(d, s)] = self._local_topk(
            [self._plan_terms(query_text)], k, mode, allowed, blocked
        )
        return list(zip(d.tolist(), s.tolist()))

    def _local_nested_scores(
        self, nested_col: str, inner: list[tuple], inner_score: str | None
    ) -> tuple["np.ndarray", dict[str, "np.ndarray"]]:
        """(doc_ids with ≥1 matching object, per-mode clause scores) from a
        driver-side pyarrow read of (doc_id, ``nested_col``) — the nested
        counterpart of :meth:`_local_allowed`. Per-object predicates are a
        conjunction of ``(field, op, value)`` tuples, each the
        :data:`_FILTER_OPS` function over a FLATTENED struct child (a NULL
        comparison drops the object, as in SQL); per-doc rollups come from one
        ``bincount``/``maximum.at`` pass over the list offsets. The sum
        accumulates in array order — the same left-fold order as the
        distributed ``aggregate()`` — so scores stay bit-identical."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        out_ids, out = [], {m: [] for m in ("sum", "avg", "max", "min")}
        for w in self._seg_whs:
            tbl = pads.dataset(w.path("docs"), format="parquet").to_table(
                columns=["doc_id", nested_col]
            )
            if not tbl.num_rows:
                continue
            ids = np.asarray(tbl.column("doc_id"), dtype=np.int64)
            la = tbl.column(nested_col)
            if isinstance(la, pa.ChunkedArray):
                la = la.combine_chunks()
            counts = np.asarray(
                pc.list_value_length(la).fill_null(0), dtype=np.int64
            )
            flat = la.flatten()  # valid lists' objects, in list order
            n = len(ids)
            mask = np.ones(len(flat), dtype=bool)
            for field, op, val in inner:
                hit = _filter_predicate(flat.field(field), op, val, "nested ")
                mask &= hit.fill_null(False).to_numpy(zero_copy_only=False)
            if inner_score is not None:
                scores = flat.field(inner_score).to_numpy(
                    zero_copy_only=False
                ).astype(np.float64)
            else:
                scores = np.ones(len(flat), dtype=np.float64)
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), counts)
            sel_idx, sel_sc = doc_idx[mask], scores[mask]
            mcount = np.bincount(sel_idx, minlength=n)
            keep = mcount >= 1
            if not keep.any():
                continue
            msum = np.bincount(sel_idx, weights=sel_sc, minlength=n)
            mmax = np.full(n, -np.inf)
            np.maximum.at(mmax, sel_idx, sel_sc)
            mmin = np.full(n, np.inf)
            np.minimum.at(mmin, sel_idx, sel_sc)
            out_ids.append(ids[keep])
            out["sum"].append(msum[keep])
            out["avg"].append(msum[keep] / mcount[keep])
            out["max"].append(mmax[keep])
            out["min"].append(mmin[keep])
        if not out_ids:
            empty = np.empty(0, dtype=np.float64)
            return np.empty(0, dtype=np.int64), {m: empty for m in out}
        return (
            np.concatenate(out_ids),
            {m: np.concatenate(v) for m, v in out.items()},
        )

    def search_nested_local(
        self,
        query_text: str,
        k: int = 10,
        *,
        nested_col: str,
        inner: list[tuple],
        score_mode: str = "avg",
        inner_score: str | None = None,
    ) -> list[tuple[int, float]]:
        """Zero-Spark-job twin of :meth:`search_nested`, with the inner
        condition as ``(field, op, value)`` tuples (the serving-path
        filter surface) instead of SQL — equivalent tuples produce
        score-identical results. The doc store's (doc_id, array) columns
        are read driver-side (like :meth:`_local_mask`, meant for
        serving-sized corpora — the distributed path is the 100-TB
        shape); the text clause rides the shared local kernel with the
        COMPLETE score set so adding the nested score cannot reorder a
        truncated list. Tombstones drop through :meth:`_local_mask`.
        """
        if score_mode not in ("avg", "sum", "max", "min", "none"):
            raise ValueError(f"unknown nested score_mode: {score_mode}")
        nids, rolls = self._local_nested_scores(nested_col, inner, inner_score)
        if not len(nids):
            return []
        nsc = (
            np.zeros(len(nids), dtype=np.float64)
            if score_mode == "none"
            else rolls[score_mode]
        )
        keep = kernels._apply_doc_masks(nids, *self._local_mask())
        if keep is not None:
            nids, nsc = nids[keep], nsc[keep]
        order = np.argsort(nids, kind="stable")
        nids, nsc = nids[order], nsc[order]
        if not self._analyze(query_text or ""):
            top = np.lexsort((nids, -nsc))[:k]
            return [(int(nids[i]), float(nsc[i])) for i in top]
        [(dd, ss)] = self._local_term_scores(
            [self._plan_terms(query_text)], nids, None, mode="exact"
        )
        if not len(dd):
            return []
        pos = np.searchsorted(nids, dd)
        total = ss + nsc[pos]
        top = np.lexsort((dd, -total))[:k]
        return [(int(dd[i]), float(total[i])) for i in top]

    def _local_term_scores(
        self,
        plans: list[tuple],
        allowed: "np.ndarray | None",
        blocked: "np.ndarray | None",
        per_shard_k: int | None = None,
        mode: str = "bmw",
    ) -> list[tuple["np.ndarray", "np.ndarray"]]:
        """(doc_ids, scores) of each (idfw, buckets) term plan on the
        serving path — the driver body of the batched term seam: ONE
        pruned postings read for the union of the plans' buckets and
        terms, then one :func:`kernels.term_shard` call per shard for the
        whole batch (a single query is the batch of one). It serves
        :meth:`search_local`, the driver branches of :meth:`search` and
        :meth:`search_many` (through :meth:`_local_topk`) and
        :meth:`_run_parsed_local` (``per_shard_k=None`` + mode='exact'
        keeps the COMPLETE score set for bool-should summation)."""
        idfws = [idfw for idfw, _ in plans]
        terms = sorted({t for idfw in idfws for t in idfw})
        buckets = sorted({bk for _, bs in plans for bk in bs})
        pdf = self._local_postings(buckets, terms) if terms else None
        parts: list[list] = [[] for _ in plans]
        if pdf is not None:
            dps, avgdl, k1, b = self._bm25()
            kk = int(per_shard_k) if per_shard_k is not None else dps
            for _shard, g in pdf.groupby("shard", sort=False):
                outs = kernels.term_shard(
                    g, idfws, mode, kk, avgdl, k1, b, dps, allowed, blocked
                )
                for part, ds in zip(parts, outs):
                    part.append(ds)
        return [
            (
                np.concatenate([d for d, _ in part] or [np.empty(0, np.int64)]),
                np.concatenate([s for _, s in part] or [np.empty(0, np.float64)]),
            )
            for part in parts
        ]

    def _local_term_docs(self, terms: list[str], surface: str) -> dict[str, "np.ndarray"]:
        """{term: sorted unique doc_ids} for the dictionary-present
        ``terms`` — one pruned postings read, runs decoded to doc ids
        (no scoring). A legacy layout without term buckets raises,
        naming ``surface``, the distributed method to use instead."""
        rows = self._lookup_terms_arrow(terms)
        if rows is None:
            raise ValueError(
                f"legacy warehouse layout without term buckets — use {surface}"
            )
        present = sorted({t for t, _, _ in rows})
        if not present:
            return {}
        pdf = self._local_postings(sorted({int(bk) for _, _, bk in rows}), present)
        if pdf is None:
            return {}
        docs_per_shard = self._bm25()[0]
        parts: dict[str, list] = {}
        for row in pdf.itertuples(index=False):
            run = kernels._Run(row, 0.0, int(row.shard) * docs_per_shard)
            parts.setdefault(row.term, []).append(run.decode_all()[0])
        return {t: np.unique(np.concatenate(v)) for t, v in parts.items()}

    def _local_match_set(self, terms: list[str], min_count: int) -> "np.ndarray":
        """doc_ids containing ≥ ``min_count`` of the DISTINCT ``terms`` —
        the serving-path twin of :meth:`_match_set` (pruned postings
        decode, no Spark job). Used for bool must (min_count = all) and
        must_not (min_count = 1) doc sets."""
        ts = sorted(set(terms))
        if not ts:
            return np.empty(0, dtype=np.int64)
        per_term = self._local_term_docs(ts, "search_bool()")
        if not per_term or min_count > len(per_term):
            return np.empty(0, dtype=np.int64)
        uniq, counts = np.unique(
            np.concatenate(list(per_term.values())), return_counts=True
        )
        return uniq[counts >= min_count]

    def search_bool_local(
        self,
        must: list[str] | None = None,
        should: list[str] | None = None,
        must_not: list[str] | None = None,
        phrases: list[tuple[str, int]] | None = None,
        where: list[tuple] | None = None,
        k: int = 10,
    ) -> list[tuple[int, float]]:
        """ES ``bool`` on the zero-Spark-job serving path — the serving
        twin of :meth:`search_bool`: the same :class:`ParsedQuery`, run by
        :meth:`_run_parsed_local`. should+must terms score (BM25 sum,
        global stats), must restricts to docs containing ALL its analyzed
        terms, must_not excludes docs containing ANY of its terms,
        ``phrases`` are (text, slop) match_phrase clauses summed
        bool-should style, and ``where`` is the serving-path (col, op,
        value) filter surface. Tombstones honored; corpus statistics
        never shift under any restriction (phrase df counts unmasked
        matches)."""
        return self._run_parsed_local(
            self._bool_query(must, should, must_not, phrases), k, where
        )

    def simple_query_string_local(
        self,
        q: str,
        k: int = 10,
        default_operator: str = "or",
        where: list[tuple] | None = None,
    ) -> list[tuple[int, float]]:
        """ES ``simple_query_string`` on the zero-Spark-job serving path
        — the serving twin of :meth:`simple_query_string`: the same
        parser, run by :meth:`_run_parsed_local`. ``where`` is the
        serving-path (col, op, value) tuple surface; tombstones honored;
        stats never shift under masks. The dictionary expansion of
        trailing-* prefixes is the SAME pruned term_stats range read the
        distributed path uses (:meth:`_expand_prefix`), so the whole
        lenient end-user language serves without a Spark job."""
        from kafka_elasticsearch_standalone_consumer_spark.query.querystring import (
            parse_simple_query_string,
        )

        parsed = parse_simple_query_string(
            q, self.meta.get("analyzer", "standard"), default_operator
        )
        return self._run_parsed_local(parsed, k, where)

    def _run_parsed_local(
        self, parsed, k: int, where: list[tuple] | None
    ) -> list[tuple[int, float]]:
        """Execute the should / must / must_not / phrases / prefixes of a
        :class:`ParsedQuery` on the driver — the mirror of
        ``querystring.run_parsed``, with the same clause semantics:
        should+must terms score together, must restricts to docs holding
        ALL its terms, must_not excludes, phrases sum bool-should style,
        and trailing-* prefixes add constant-score 1.0 per matching doc
        (Lucene's CONSTANT_SCORE rewrite), restricting too when the query
        has must terms. The must / must_not / prefix doc sets come from
        the pruned postings decode (:meth:`_local_match_set`) and ONE
        :meth:`_local_mask` with ``where`` and the tombstones; each
        scoring clause produces its COMPLETE score set (exact kernel /
        phrase kernel), summed per doc with NumPy. Everything is
        |q|-proportional pyarrow point reads — zero Spark jobs."""
        must_toks = sorted(set(parsed.must))
        not_toks = sorted(set(parsed.must_not))
        prefix_sets: list[np.ndarray | None] = []
        for p in parsed.prefixes:
            expanded = sorted(set(self._expand_prefix(p, max_expansions=50)))
            prefix_sets.append(
                self._local_match_set(expanded, 1) if expanded else None
            )
        allowed = None
        if must_toks:
            allowed = self._local_match_set(must_toks, len(must_toks))
            if not len(allowed):
                return []
        if parsed.prefixes and parsed.must:
            # AND semantics: a conjunctive query requires the prefix clauses
            for ms in prefix_sets:
                if ms is None:
                    return []
                allowed = ms if allowed is None else np.intersect1d(allowed, ms)
            if not len(allowed):
                return []
        allowed, blocked = self._local_mask(
            where, allowed, self._local_match_set(not_toks, 1) if not_toks else None
        )
        if allowed is not None and not len(allowed):
            return []
        score_terms = parsed.should + parsed.must
        parts: list[tuple[np.ndarray, np.ndarray]] = []
        if score_terms:
            parts += self._local_term_scores(
                [self._plan_terms(" ".join(score_terms))], allowed, blocked,
                mode="exact",
            )
        for phrase, slop in parsed.phrases:
            parts.append(
                self._phrase_scores_local(phrase, int(slop), allowed, blocked)
            )
        for ms in prefix_sets:
            if ms is None:
                continue
            keep = kernels._apply_doc_masks(ms, allowed, blocked)
            d = ms if keep is None else ms[keep]
            parts.append((d, np.ones(len(d), dtype=np.float64)))
        parts = [(d, s) for d, s in parts if len(d)]
        if not parts:
            return []
        dd = np.concatenate([d for d, _ in parts])
        ss = np.concatenate([s for _, s in parts])
        # ES bool should: per-doc sum over the union of clause matches
        uniq, inv = np.unique(dd, return_inverse=True)
        summed = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(summed, inv, ss)
        top = np.lexsort((uniq, -summed))[:k]
        return [(int(uniq[i]), float(summed[i])) for i in top]

    # Hard ceiling on terms materialized driver-side by ONE dictionary
    # expansion. At a 10^8-term vocabulary a 1-char prefix range can cover
    # millions of terms; rather than silently pulling them onto the driver
    # we fail loudly and tell the caller to narrow the query (longer
    # prefix_length / a length band). ES's own multi-term rewrites carry
    # the same class of guard (max_expansions / maxClauseCount).
    MAX_EXPANSION_SCAN = 1 << 20

    def _expand_prefix(
        self,
        prefix: str,
        max_expansions: int,
        length_band: tuple[int, int] | None = None,
        max_scan: int | None = None,
    ) -> list[str]:
        """Term-dictionary expansion of a literal prefix: a driver-side
        pyarrow RANGE read of the term-sorted term_stats files (footer
        min/max prunes to the covering row groups — same no-Spark-job path
        as _lookup_terms_arrow), first ``max_expansions`` terms in term
        order (ES's multi-term rewrite cap).

        ``length_band=(lo, hi)`` additionally pushes ``term_len BETWEEN lo
        AND hi`` into the parquet read (the ``term_len`` column is written
        by build_term_stats) — the edit-distance pigeonhole for fuzzy /
        suggest expansions: a term whose length differs from the query's by
        more than the fuzziness can never be within distance, so it is
        filtered inside the C++ scan instead of materialized driver-side.
        Layouts predating ``term_len`` fall back to filtering the term
        strings after the prefix-pruned read (same results, less pruning).

        The materialized candidate count is capped at ``max_scan``
        (default :data:`MAX_EXPANSION_SCAN`) with an explicit error —
        never a silent driver-side OOM at vocabulary scale."""
        import pyarrow.dataset as pads

        if not prefix:
            raise ValueError("prefix expansion requires ≥1 literal character")
        cap = self.MAX_EXPANSION_SCAN if max_scan is None else int(max_scan)
        hi = prefix + "￿"
        out: set[str] = set()
        for w in self._seg_whs:
            data = pads.dataset(w.path("term_stats"), format="parquet")
            flt = (pads.field("term") >= prefix) & (pads.field("term") < hi)
            if length_band is not None and "term_len" in data.schema.names:
                lo_l, hi_l = int(length_band[0]), int(length_band[1])
                flt = (
                    flt
                    & (pads.field("term_len") >= lo_l)
                    & (pads.field("term_len") <= hi_l)
                )
            tbl = data.to_table(columns=["term"], filter=flt)
            out.update(tbl.column("term").to_pylist())
            if len(out) > cap:
                raise ValueError(
                    f"prefix expansion of {prefix!r} exceeds {cap} terms — "
                    "narrow the query (longer prefix_length or a length "
                    "band) instead of materializing the dictionary"
                )
        if length_band is not None:
            # legacy layouts without term_len: enforce the band post-read
            lo_l, hi_l = int(length_band[0]), int(length_band[1])
            out = {t for t in out if lo_l <= len(t) <= hi_l}
        return sorted(out)[:max_expansions]

    def _fuzzy_variants(
        self, term: str, fuzziness: int, prefix_length: int
    ) -> dict[str, int]:
        """{dictionary term: Damerau-Levenshtein distance ≤ ``fuzziness``}
        of ``term``, in term order — ES's fuzzy rewrite, written once for
        :meth:`search_fuzzy` and its twin, query_string ``term~n``,
        :meth:`fuzzy_like_this` and the term/phrase suggesters (each keeps
        its own cap or weight on the result). The dictionary read
        (:meth:`_expand_prefix`) is pruned to terms sharing the first
        ``prefix_length`` characters (ES's knob — its docs recommend ≥1 so
        the walk never touches the whole dictionary) and to the length band
        ``len(term) ± fuzziness`` (a term outside it is never within
        distance). ``prefix_length < 1`` raises; a term shorter than
        ``prefix_length`` has no variants."""
        if prefix_length < 1:
            raise ValueError(
                "prefix_length must be ≥1: an unpruned fuzzy expansion scans "
                "the whole term dictionary (ES discourages it for the same reason)"
            )
        if len(term) < prefix_length:
            return {}
        cand = self._expand_prefix(
            term[:prefix_length],
            1 << 20,
            length_band=(len(term) - fuzziness, len(term) + fuzziness),
        )
        dist = {t: _damerau_levenshtein(term, t, fuzziness) for t in cand}
        return {t: d for t, d in dist.items() if d <= fuzziness}

    def _wildcard_terms(self, pattern: str, max_expansions: int) -> list[str]:
        """The ES ``wildcard`` rewrite: dictionary terms matching
        ``pattern`` (``*`` and ``?``), first ``max_expansions`` in term
        order. The literal prefix before the first wildcard prunes the
        dictionary read, then the full pattern filters it; a leading
        wildcard raises (ES forbids it by default — an unanchored scan of
        a 10^8-term dictionary is the anti-pattern both engines refuse)."""
        import fnmatch
        import re as _re

        lit = _re.split(r"[*?]", pattern, maxsplit=1)[0]
        if not lit:
            raise ValueError(
                "leading-wildcard patterns are rejected (no literal prefix to "
                "prune the term dictionary with) — same default as ES"
            )
        rx = _re.compile(fnmatch.translate(pattern))
        terms = [t for t in self._expand_prefix(lit, 1 << 20) if rx.match(t)]
        return terms[:max_expansions]

    def _regexp_terms(self, pattern: str, max_expansions: int) -> list[str]:
        """The ES ``regexp`` rewrite: dictionary terms fully matching
        ``pattern`` (ES regexps are implicitly anchored), first
        ``max_expansions`` in term order. The pattern must open with ≥1
        literal character, which prunes the dictionary read like
        :meth:`_wildcard_terms`; a literal immediately followed by a
        quantifier (``ab*``) keeps only the unquantified part (``a``)."""
        import re as _re

        m = _re.match(r"[a-z0-9]+", pattern)
        lit = m.group(0) if m else ""
        if lit and len(lit) < len(pattern) and pattern[len(lit)] in "*?{":
            lit = lit[:-1]  # the quantifier applies to the last literal char
        if not lit:
            raise ValueError(
                "regexp patterns must start with a literal prefix (no leading "
                "metacharacters) so the term-dictionary read can be pruned — "
                "the same scale guard as search_wildcard"
            )
        rx = _re.compile(pattern)
        terms = [t for t in self._expand_prefix(lit, 1 << 20) if rx.fullmatch(t)]
        return terms[:max_expansions]

    def search_prefix(
        self,
        prefix: str,
        k: int = 10,
        max_expansions: int = 50,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``prefix`` query with the default ``constant_score`` rewrite:
        expand the prefix against the term dictionary (≤ ``max_expansions``
        terms in term order, like ES), match docs containing ANY expanded
        term, score 1.0, deterministic ties by doc_id. ``where`` filters
        like :meth:`search`."""
        return self._constant_score_multi_term(
            self._expand_prefix(prefix, max_expansions), k, where
        )

    def search_terms(
        self,
        values: list[str],
        k: int = 10,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``terms`` query (constant_score): docs containing ANY of the
        given literal terms, score 1.0, doc_id-asc ties — the multi-value
        keyword filter of every ES dashboard. Same pruned-match-set plan
        as prefix/wildcard, minus the dictionary expansion."""
        return self._constant_score_multi_term(self._terms_values(values), k, where)

    @staticmethod
    def _lookup_values(rows: list[dict], field: str, max_terms: int | None) -> list[str]:
        """The value set of a terms lookup from its fetched lookup doc
        (``rows``; empty when absent): the whitespace values of ``field``,
        the first ``max_terms`` positions, then deduped in order."""
        toks = str(rows[0].get(field) or "").split() if rows else []
        if max_terms is not None:
            toks = toks[: int(max_terms)]
        return list(dict.fromkeys(toks))

    def search_terms_lookup_local(
        self,
        lookup_id: int,
        k: int = 10,
        *,
        lookup_field: str = "text",
        max_terms: int | None = None,
        where: list[tuple] | None = None,
        lookup_index: "Index | None" = None,
    ) -> list[tuple[int, float]]:
        """:meth:`search_terms_lookup` on the zero-Spark-job serving path:
        the value-set fetch was ALREADY a pyarrow point read, so composing
        it with :meth:`search_terms_local` makes the whole lookup query
        zero-job — two pruned pyarrow reads total. Same (doc_id, score)
        contract and `(col, op, value)` ``where`` tuples as the other
        local twins; rank-identical to the distributed form
        (tests/test_local_serving.py)."""
        src = lookup_index if lookup_index is not None else self
        vals = self._lookup_values(
            src.get_docs_local([int(lookup_id)]), lookup_field, max_terms
        )
        return self.search_terms_local(vals, k, where=where)

    def search_terms_lookup(
        self,
        lookup_id: int,
        k: int = 10,
        *,
        lookup_field: str = "text",
        max_terms: int | None = None,
        where: str | None = None,
        lookup_index: "Index | None" = None,
    ) -> DataFrame:
        """ES 1.x ``terms`` lookup (the ``{index, type, id, path}`` form of
        the terms filter — the reference's ES 1.5.1 resolves it with a GET
        against cluster state, never a search): fetch the lookup document
        DRIVER-SIDE over the zero-job serving path (one footer-pruned
        pyarrow point read), take the whitespace values of its
        ``lookup_field`` (the first ``max_terms`` positions, then deduped —
        ES caps lookup sizes the same way), and run the ordinary terms
        filter with them. ``lookup_index`` points at another Index for the
        cross-index form; default is self (ES allows both).

        100 TB shape: the lookup read touches one row group of one table;
        the query itself is the same pruned constant-score plan as
        :meth:`search_terms` — the lookup adds NO Spark job.
        """
        src = lookup_index if lookup_index is not None else self
        vals = self._lookup_values(
            src.get_docs_local([int(lookup_id)]), lookup_field, max_terms
        )
        return self.search_terms(vals, k, where=where)

    def scan_all(
        self,
        query_text: str,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES 1.x ``scan`` search type: EVERY matching document, unscored
        and unsorted (ES's bulk-export path — scan explicitly disables
        scoring and ordering so the engine never builds a top-k heap).
        Returns the full document rows; compose with ``.foreachPartition``
        or a parquet write for exports.

        This is the honest 100 TB export plan: a term-pruned match set,
        one semi join, NO orderBy/limit anywhere — the output streams
        straight from the scan partitions to the sink."""
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._docs_df().limit(0)
        return scoped

    def count_matches(
        self,
        query_text: str,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES ``_count`` API: how many live docs match, no scoring, no
        fetch — one term-pruned aggregation (count of the match set after
        filter/tombstone masks). Returns a single (n) row."""
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("n long", [(0,)])
        return scoped.agg(F.count("*").cast("long").alias("n"))

    def scan_scroll(
        self,
        query_text: str,
        page_size: int,
        after_doc_id: int | None = None,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES 1.x ``scan``-type ``_scroll`` cursor: the NEXT page of the
        unscored match set in stable doc_id order. ES's scroll id is a
        server-held cursor; the stateless batch equivalent is keyset
        pagination — the caller passes the last doc_id of the previous
        page (``after_doc_id``; None opens the cursor) and gets the next
        ``page_size`` docs with ``doc_id > after_doc_id``. Unlike
        offset/limit paging, page N never rescans pages 1..N-1.

        Plan shape: the same term-pruned match set as ``scan_all`` with
        the keyset predicate fused into the scan, then ONE
        TakeOrderedAndProject (per-partition top-``page_size`` heaps →
        driver merge) — no global sort, no offset skip-scan; each page
        costs the same bounded work at 10^12 turns. Resuming from a
        mid-corpus cursor prunes whole doc_id ranges once the match set
        is hive-partitioned by doc bucket.
        """
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._docs_df().limit(0)
        if after_doc_id is not None:
            scoped = scoped.filter(F.col("doc_id") > int(after_doc_id))
        return scoped.orderBy(F.asc("doc_id")).limit(int(page_size))

    def mterm_vectors(self, doc_ids: list[int], positions: bool = False) -> DataFrame:
        """ES ``_mtermvectors`` API: ``term_vectors`` for a batch of
        documents in one round trip — (doc_id, term, tf, df) rows,
        doc_id asc then term asc, df global across the whole index
        (``term_statistics=true``). ONE doc-pruned tokens scan for the
        whole batch (an ``isin`` over the requested ids — footer/partition
        pruning applies) and ONE driver-side dictionary lookup for the
        union of their terms, instead of n_docs separate passes.

        ``positions=True`` appends each term's token positions exactly as
        ``term_vectors(positions=True)`` does, re-running the index's own
        analysis chain per fetched doc — bounded by the batch size, never
        a corpus scan."""
        ids = sorted({int(d) for d in doc_ids})
        schema = "doc_id long, term string, tf long, df long" + (
            ", positions array<long>" if positions else ""
        )
        if not ids:
            return self._frame(schema)
        rows = (
            self._tokens_full_df()
            .filter(F.col("doc_id").isin(ids))
            .select("doc_id", "term", F.col("tf").cast("long").alias("tf"))
            .collect()  # bounded: the requested docs' own terms
        )
        terms = sorted({r["term"] for r in rows})
        if not terms:
            return self._frame(schema)
        df_by = self._term_dfs(terms)[0]
        if not positions:
            out = sorted(
                (int(r["doc_id"]), r["term"], int(r["tf"]), int(df_by.get(r["term"], 0)))
                for r in rows
            )
            return self._frame(schema, out)
        texts = {
            r["doc_id"]: r["text"]
            for r in self._docs_df()
            .filter(F.col("doc_id").isin(ids))
            .select("doc_id", "text")
            .collect()
        }
        pos_by: dict[tuple[int, str], list[int]] = {}
        for did in ids:
            slots, offsets = self._analyze_phrase(texts.get(did) or "")
            for t, p in zip(slots, offsets):
                pos_by.setdefault((did, t), []).append(int(p))
        out = sorted(
            (int(r["doc_id"]), r["term"], int(r["tf"]), int(df_by.get(r["term"], 0)),
             sorted(pos_by.get((int(r["doc_id"]), r["term"]), [])))
            for r in rows
        )
        return self._frame(schema, out)

    def term_vectors(self, doc_id: int, positions: bool = False) -> DataFrame:
        """ES ``_termvectors`` API: one document's (term, tf, df) rows,
        term asc — term stats are global (df across the whole index),
        exactly what ES returns with ``term_statistics=true``. The doc's
        terms come from a doc-pruned tokens scan; their dfs ride the
        driver-side dictionary lookup (no second corpus pass).

        ``positions=True`` adds each term's token positions (ascending,
        with the analyzer's position increments — stop-analyzer gaps
        preserved, exactly the positions the phrase kernel indexes):
        ES's ``?positions=true``. Computed by re-running the index's own
        analysis chain on the fetched document — one driver-side pass
        over one doc, never a corpus scan."""
        toks = (
            self._tokens_full_df()
            .filter(F.col("doc_id") == int(doc_id))
            .select("term", F.col("tf").cast("long").alias("tf"))
        )
        rows = toks.collect()  # one doc: bounded by its length
        terms = sorted({r["term"] for r in rows})
        schema = "term string, tf long, df long" + (
            ", positions array<long>" if positions else ""
        )
        if not terms:
            return self._frame(schema)
        df_by = self._term_dfs(terms)[0]
        if not positions:
            out = sorted(
                (r["term"], int(r["tf"]), int(df_by.get(r["term"], 0))) for r in rows
            )
            return self._frame(schema, out)
        doc = (
            self._docs_df().filter(F.col("doc_id") == int(doc_id)).select("text").first()
        )
        pos_by: dict[str, list[int]] = {}
        if doc is not None:
            slots, offsets = self._analyze_phrase(doc["text"] or "")
            for t, p in zip(slots, offsets):
                pos_by.setdefault(t, []).append(int(p))
        out = sorted(
            (r["term"], int(r["tf"]), int(df_by.get(r["term"], 0)),
             sorted(pos_by.get(r["term"], [])))
            for r in rows
        )
        return self._frame(schema, out)

    def analyze(self, text: str, analyzer: str | None = None) -> DataFrame:
        """ES ``_analyze`` API: the token stream the analysis chain emits
        for a text — (position, token) rows. What you index is what you
        debug with; this is the introspection surface ES users reach for
        first when a query mysteriously misses. Position gaps from a stop
        analyzer are preserved, exactly like ES's token positions.
        ``analyzer`` overrides the index's chain (ES's ``?analyzer=``
        parameter — compare what a different chain WOULD emit)."""
        from kafka_elasticsearch_standalone_consumer_spark.analysis import (
            analyze_positions,
        )

        if analyzer is None:
            slots, offsets = self._analyze_phrase(text)
        else:
            slots, offsets = analyze_positions(text, analyzer)
        return self._frame("position long, token string", list(zip(offsets, slots)))

    def search_wildcard(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = 50,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``wildcard`` query (constant_score rewrite): ``*`` and ``?``
        over terms, expanded by :meth:`_wildcard_terms` (a literal prefix
        before the first wildcard is required)."""
        return self._constant_score_multi_term(
            self._wildcard_terms(pattern, max_expansions), k, where
        )

    def search_fuzzy(
        self,
        term: str,
        k: int = 10,
        fuzziness: int = 1,
        prefix_length: int = 1,
        max_expansions: int = 50,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``fuzzy`` query (constant_score rewrite): match docs whose
        terms are within Damerau-Levenshtein ``fuzziness`` of ``term`` —
        the :meth:`_fuzzy_variants` expansion (prefix- and length-band
        pruned, ``prefix_length=0`` rejected) capped at ``max_expansions``
        in term order."""
        return self._constant_score_multi_term(
            list(self._fuzzy_variants(term, fuzziness, prefix_length))[:max_expansions],
            k, where,
        )

    def search_regexp(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = 50,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``regexp`` query (constant_score rewrite): terms fully
        matching ``pattern``, expanded by :meth:`_regexp_terms` (the
        pattern must open with a literal prefix)."""
        return self._constant_score_multi_term(
            self._regexp_terms(pattern, max_expansions), k, where
        )

    def _constant_score_multi_term(
        self,
        terms: list[str],
        k: int,
        where: str | None,
        boost: float = 1.0,
        min_should_match: int = 1,
    ) -> DataFrame:
        """Docs containing ≥``min_should_match`` of ``terms`` at constant
        score ``boost`` (the ES multi-term rewrite): one term-pruned
        tokens scan → distinct doc ids → filter/tombstone masks → first k
        by doc_id."""
        if not terms:
            return self._frame(TOPK_SCHEMA)
        matched = self._match_set(terms, min_should_match)
        return self._constant_topk(self._live(where, frame=matched), k, boost)

    @staticmethod
    def _constant_topk(live: DataFrame, k: int, boost: float) -> DataFrame:
        """The constant-score finish: (doc_id, ``boost``) of the ``live``
        docs, first k by doc_id."""
        return live.select(
            "doc_id", F.lit(float(boost)).alias("score")
        ).orderBy(F.asc("doc_id")).limit(k)

    def search_ids(self, ids: list[int], k: int = 10, boost: float = 1.0) -> DataFrame:
        """ES ``ids`` query: live docs whose id is in the given set, each
        at constant score ``boost`` (filter context — no BM25), first k by
        doc_id. Unknown ids are simply absent. The id list is a driver
        literal pushed into the doc-store scan (``isin`` reaches parquet
        min/max pruning), so cost is the pruned scan — never a shuffle."""
        if not ids:
            return self._frame(TOPK_SCHEMA)
        live = self._live(F.col("doc_id").isin([int(i) for i in ids]))
        return self._constant_topk(live, k, boost)

    def constant_score(
        self,
        query_text: str | None = None,
        where: str | None = None,
        boost: float = 1.0,
        k: int = 10,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES ``constant_score`` query: wraps a query and/or a filter in
        filter context — every matching live doc scores exactly ``boost``
        (relevance is discarded, which is how ES callers skip the scoring
        cost entirely). With only ``where`` this is the pure filtered
        match-all; with ``query_text`` the term match set is computed from
        the pruned postings scan like every multi-term rewrite."""
        if query_text is not None:
            terms = self._analyze(query_text)
            return self._constant_score_multi_term(
                terms, k, where, boost=boost, min_should_match=min_should_match
            )
        return self._constant_topk(self._live(where), k, boost)

    def match_all(self, k: int = 10, boost: float = 1.0) -> DataFrame:
        """ES ``match_all``: every live doc at constant score ``boost``,
        first k by doc_id (the degenerate constant_score with no wrapped
        query or filter)."""
        return self.constant_score(boost=boost, k=k)

    def search_exists(self, field: str, k: int = 10) -> DataFrame:
        """ES 1.x ``exists`` query: live docs with a non-NULL ``field``,
        constant score 1.0 (filter context). The NULL check is a pushed
        parquet predicate — null counts live in the footer stats, so
        all-null / no-null row groups never read the column."""
        return self.constant_score(where=f"{field} IS NOT NULL", k=k)

    def search_missing(self, field: str, k: int = 10) -> DataFrame:
        """ES 1.x ``missing`` query (removed in ES 5, core 1.x surface):
        live docs with a NULL ``field``, constant score 1.0."""
        return self.constant_score(where=f"{field} IS NULL", k=k)

    def search_bool(
        self,
        must: list[str] | None = None,
        should: list[str] | None = None,
        must_not: list[str] | None = None,
        phrases: list[tuple[str, int]] | None = None,
        filters: list[tuple[str, str]] | None = None,
        k: int = 10,
    ) -> DataFrame:
        """ES ``bool`` query, structured form — the same semantics the
        query_string DSL compiles to (querystring.py documents them):
        ``should``/``must`` terms score (BM25 sum, must also restricts),
        ``must_not`` excludes, ``phrases`` are (text, slop) match_phrase
        clauses summed ES-bool-should style with the term clause,
        ``filters`` are (column, value) metadata filter clauses. Corpus
        statistics stay global under every restriction."""
        from kafka_elasticsearch_standalone_consumer_spark.query.querystring import run_parsed

        return run_parsed(self, self._bool_query(must, should, must_not, phrases, filters), k)

    def _bool_query(self, must, should, must_not, phrases, filters=None):
        """The :class:`ParsedQuery` of a structured bool query: each
        clause string analyzed with the index's analyzer."""
        from kafka_elasticsearch_standalone_consumer_spark.query.querystring import ParsedQuery

        return ParsedQuery(
            should=[t for s in (should or []) for t in self._analyze(s)],
            must=[t for s in (must or []) for t in self._analyze(s)],
            must_not=[t for s in (must_not or []) for t in self._analyze(s)],
            phrases=[(p, int(slop)) for p, slop in (phrases or [])],
            filters=list(filters or []),
        )

    def search_dis_max(
        self,
        queries: list[str],
        tie_breaker: float = 0.0,
        k: int = 10,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``dis_max`` compound query: each element of ``queries`` is a
        disjunctive BM25 clause (same scoring as :meth:`search`); a doc's
        score is its BEST clause score plus ``tie_breaker`` × the sum of
        its other clauses' scores (ES/Lucene DisjunctionMaxQuery —
        ``multi_match best_fields`` is this compound over per-field
        clauses; here the clauses are arbitrary queries against the one
        indexed text field, the form the reference's ES 1.5 accepts
        through its indexing boundary, reference
        ``MessageHandler.java:135-139``).

        Plan shape: clause term plans are resolved driver-side once
        (shared idf), the postings scan covers the UNION of clause terms
        (one pruned scan, not one per clause), each shard computes every
        clause's exact score set over shared decoded postings
        (:func:`kernels.dismax_shard` — a term in several clauses is
        decoded once) and combines per doc; the coordinator unions
        per-shard top-k partials. Exact, because shards partition docs.
        ``where`` filters like :meth:`search`."""
        clause_plans = []
        buckets: set[int] = set()
        for q in queries:
            idfw_c, buckets_c = self._plan_terms(q)
            if idfw_c:
                clause_plans.append(idfw_c)
                buckets.update(buckets_c)
        if not clause_plans:
            return self._frame(TOPK_SCHEMA)
        all_terms = sorted({t for c in clause_plans for t in c})
        dps, avgdl, k1, b = self._bm25()
        args = (clause_plans, float(tie_breaker), k, avgdl, k1, b, dps)
        hits = self.postings.filter(
            F.col("term_bucket").isin(sorted(buckets))
            & F.col("term").isin(all_terms)
        )
        partials = self._shard_partials(
            hits, *self._mask_plan(where, dps),
            lambda pdf, allowed, blocked: pd.DataFrame(dict(zip(
                ("doc_id", "score"),
                kernels.dismax_shard(pdf, *args, allowed, blocked),
            ))),
            TOPK_SCHEMA,
        )
        return partials.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def more_like_this(
        self,
        doc_id: int,
        k: int = 10,
        max_query_terms: int = 25,
        min_term_freq: int = 1,
        min_doc_freq: int = 1,
    ) -> DataFrame:
        """ES ``more_like_this`` for one indexed document: pick the doc's
        ``max_query_terms`` best terms by tf·idf (classic MLT term
        selection; idf is the BM25 idf so selection and scoring agree),
        then run the disjunctive BM25 search with each selected term at
        weight 1 and the source doc excluded from the hits.

        The term selection is driver-side over ONE document (a pushed
        doc_id point-read of the doc store + the same footer-pruned
        term_stats lookup every query plans with) — never a corpus scan.
        The source doc is excluded AFTER scoring (fetch k+1, drop, cut to
        k): corpus statistics stay global, and no per-shard allowed-doc
        mask has to ship an "everything but one id" list."""
        import math
        from collections import Counter

        from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

        row = (
            self._docs_df()
            .filter(F.col("doc_id") == int(doc_id))
            .select("text")
            .collect()
        )
        if not row:
            return self._frame(TOPK_SCHEMA)
        selected = self._mlt_select(
            Counter(self._analyze(row[0]["text"])),
            max_query_terms, min_term_freq, min_doc_freq,
        )
        if not selected:
            return self._frame(TOPK_SCHEMA)
        out = self.search(" ".join(selected), k + 1)
        return (
            out.filter(F.col("doc_id") != int(doc_id))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _mlt_select(
        self, tf: "Counter", max_query_terms: int, min_term_freq: int, min_doc_freq: int
    ) -> list[str]:
        """Classic MLT term selection over a term-frequency bag: the
        ``max_query_terms`` best terms by tf·idf (BM25 idf, so selection
        and scoring agree), with the tf/df floors. Driver-side: one
        footer-pruned term_stats lookup, never a corpus scan."""
        import math

        cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
        if not cand:
            return []
        df_by = self._term_dfs(cand)[0]
        n = float(self.meta["n_docs"])
        mlt = [
            (
                -tf[t] * math.log(1.0 + (n - df_by[t] + 0.5) / (df_by[t] + 0.5)),
                t,
            )
            for t in cand
            if df_by.get(t, 0) >= min_doc_freq
        ]
        return [t for _, t in sorted(mlt)[:max_query_terms]]

    def more_like_this_text(
        self,
        like_text: str,
        k: int = 10,
        max_query_terms: int = 25,
        min_term_freq: int = 1,
        min_doc_freq: int = 1,
    ) -> DataFrame:
        """ES ``more_like_this`` with free text in ``like`` (no source
        document): the same tf·idf term selection over the ANALYZED input
        text, then the disjunctive BM25 search — nothing excluded from
        the hits (there is no source doc). Terms absent from the corpus
        drop at the dictionary lookup, exactly like ES's df floor."""
        from collections import Counter

        selected = self._mlt_select(
            Counter(self._analyze(like_text)),
            max_query_terms, min_term_freq, min_doc_freq,
        )
        if not selected:
            return self._frame(TOPK_SCHEMA)
        return self.search(" ".join(selected), k)

    def fuzzy_like_this(
        self,
        like_text: str,
        k: int = 10,
        fuzziness: int = 1,
        prefix_length: int = 1,
        max_query_terms: int = 25,
        where: str | None = None,
        mode: str = "bmw",
    ) -> DataFrame:
        """ES 1.x ``fuzzy_like_this`` (Lucene FuzzyLikeThisQuery —
        removed in ES 2): fuzzify every term of ``like_text``, keep the
        ``max_query_terms`` best variants, and run a SCORED disjunction
        (unlike the ``fuzzy`` query's constant_score rewrite).

        Lucene semantics kept: a variant does NOT use its own idf
        ("this would favor rarer terms, such as misspellings") — every
        variant of a source term shares one blended idf, computed here
        from the group's max df (the same BlendedTermQuery convention
        multi_match cross_fields uses); each variant is down-weighted by
        its edit similarity ``1 − d/min(|src|,|v|)`` (classic
        FuzzyTermEnum). Variant selection caps at ``max_query_terms`` by
        (weight desc, term asc) — the best differentiating terms.

        Scale shape: expansion is the same length-banded, prefix-pruned
        driver-side dictionary read as :meth:`search_fuzzy`
        (:meth:`_fuzzy_variants`); scoring
        reuses the kernel fast path via a (idfw, buckets) plan override,
        so the postings scan is pruned to exactly the selected variants."""
        import math

        groups: dict[str, dict[str, float]] = {}
        for t in sorted(set(self._analyze(like_text))):
            for v, d in self._fuzzy_variants(t, fuzziness, prefix_length).items():
                groups.setdefault(t, {})[v] = 1.0 - d / min(len(t), len(v))
        allvars = sorted({v for g in groups.values() for v in g})
        if not allvars:
            return self._frame(TOPK_SCHEMA)
        df_by, bucket_by = self._term_dfs(allvars)
        n = float(self.meta["n_docs"])
        sel: list[tuple[float, str, str]] = []
        for t, variants in groups.items():
            dmax = max(df_by.get(v, 0) for v in variants)
            if dmax == 0:
                continue
            idf = math.log(1.0 + (n - dmax + 0.5) / (dmax + 0.5))
            for v, sim in variants.items():
                if v in df_by:
                    sel.append((sim * idf, v, t))
        sel.sort(key=lambda x: (-x[0], x[1], x[2]))
        sel = sel[:max_query_terms]
        if not sel:
            return self._frame(TOPK_SCHEMA)
        idfw: dict[str, float] = {}
        for w, v, _t in sel:
            idfw[v] = idfw.get(v, 0.0) + w
        buckets = sorted({bucket_by[v] for v in idfw})
        return self.search(
            like_text, k, mode=mode, where=where, _plan=(idfw, buckets)
        )

    def validate_query(self, q: str) -> DataFrame:
        """ES ``_validate/query?explain=true``: parse the query_string DSL
        without executing it and render the Lucene-style clause rewrite
        (``text:foo +text:must -text:not text:"phrase"~slop #field:v``).
        A query that analyzes to no clause at all is invalid — the same
        emptiness ES reports for an unparseable body."""
        from kafka_elasticsearch_standalone_consumer_spark.query.querystring import (
            parse_query_string,
        )

        parsed = parse_query_string(q, self.meta.get("analyzer", "standard"))
        clauses = [f"text:{t}" for t in parsed.should]
        clauses += [f"+text:{t}" for t in parsed.must]
        clauses += [f"-text:{t}" for t in parsed.must_not]
        clauses += [f'text:"{p}"~{s}' for p, s in parsed.phrases]
        clauses += [f"#{f}:{v}" for f, v in parsed.filters]
        clauses += [
            f"#{f}:{'[' if li else '{'}{lo if lo is not None else '*'} TO "
            f"{hi if hi is not None else '*'}{']' if hi_i else '}'}"
            for f, lo, hi, li, hi_i in parsed.ranges
        ]
        clauses += [f"#_exists_:{f}" for f in parsed.exists]
        clauses += [f"#_missing_:{f}" for f in parsed.missing]
        valid = bool(clauses)
        return self._frame(
            "valid boolean, explanation string",
            [(bool(valid), " ".join(clauses) if valid else None)],
        )

    def query_string(self, q: str, k: int = 10) -> DataFrame:
        """ES ``query_string`` mini-DSL: bare terms (OR), ``+must``,
        ``-must_not``, ``"exact phrase"``/``"phrase"~slop``, ``field:value``
        filters, ``field:[a TO b]``/``{a TO b}`` ranges (``*`` = open end),
        ``_exists_:f``/``_missing_:f``, ``AND``. See query/querystring.py
        for the precise semantics and the mapping onto search /
        search_phrase / filters."""
        from kafka_elasticsearch_standalone_consumer_spark.query.querystring import (
            run_query_string,
        )

        return run_query_string(self, q, k)

    def simple_query_string(
        self, q: str, k: int = 10, default_operator: str = "or"
    ) -> DataFrame:
        """ES ``simple_query_string``: the lenient end-user syntax —
        ``foo bar`` / ``foo | bar`` (OR), ``foo + bar`` (AND), ``-foo``
        (negate), ``"a b"~2`` (phrase+slop), ``tab*`` (prefix clause,
        constant-score 1.0 summed bool-should style). Never raises on
        user input; :func:`~.querystring.parse_simple_query_string`
        documents the exact semantics and the lenient deviations.
        Compiles onto the same executor as query_string/bool
        (run_parsed)."""
        from kafka_elasticsearch_standalone_consumer_spark.query.querystring import (
            parse_simple_query_string,
            run_parsed,
        )

        parsed = parse_simple_query_string(
            q, self.meta.get("analyzer", "standard"), default_operator
        )
        return run_parsed(self, parsed, k)

    def search_phrase(
        self, phrase: str, k: int = 10, where: str | None = None, slop: int = 0
    ) -> DataFrame:
        """Phrase top-k (ES match_phrase) over the position streams;
        requires an index built with ``positions=True``.

        ``slop=0`` is the exact adjacent phrase; ``slop=s`` relaxes each
        non-anchor slot by ±s positions around its expected offset (an
        anchor at slot-0 position p₀ matches when every slot i occurs at
        some pᵢ with |pᵢ − p₀ − i| ≤ s — the windowed proximity semantic
        of ES match_phrase slop). Scoring: BM25 treating the phrase as one
        synthetic term — tf = matching anchors per doc, df = docs
        containing a match (aggregated across shards before the final
        scoring, so idf is globally exact), k1/b/avgdl as configured.
        Deterministic ties by doc_id. ``where`` filters like :meth:`search`.
        """
        slots, offsets = self._analyze_phrase(phrase)
        return self._phrase_topk([[t] for t in slots], k, where, slop, offsets)

    def search_phrase_prefix(
        self,
        phrase: str,
        k: int = 10,
        max_expansions: int = 50,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``match_phrase_prefix``: the final token of ``phrase`` is a
        PREFIX, expanded against the term dictionary (≤ ``max_expansions``
        in term order — ES's cap) and matched as an alternation in the
        last phrase slot. Scoring is the same synthetic-term BM25 as
        :meth:`search_phrase` (tf = anchors completed by ANY expansion,
        df = docs containing such a match) — the position kernel already
        unions multiple postings runs per slot, so the expansion costs one
        wider term predicate on the postings scan, not extra jobs."""
        slots, offsets = self._analyze_phrase(phrase)
        exp = self._expand_prefix(slots[-1], max_expansions) if slots else []
        return self._phrase_topk(
            [[t] for t in slots[:-1]] + [exp], k, where, 0, offsets
        )

    def search_span_first(
        self, term: str, end: int, k: int = 10, where: str | None = None
    ) -> DataFrame:
        """ES ``span_first`` (Lucene SpanFirstQuery): match ``term`` only
        when it occurs within the first ``end`` token positions of the
        document (0-based position < end — e.g. the opening words of a
        turn). Part of the ES 1.x span-query DSL the reference's indexed
        documents are queried with (reference ``MessageHandler.java:135-139``
        delegates the whole query surface to ES).

        Scoring: the positional match is one synthetic term — tf = number
        of qualifying occurrences, df = docs with ≥ 1 (aggregated globally
        across shards before scoring), BM25 impact with the configured
        k1/b/avgdl. ``where`` filters like :meth:`search` (corpus
        statistics stay global). Requires ``positions=True``."""
        return self._phrase_topk(
            [self._analyze(term)[:1]], k, where, 0, span=("first", int(end))
        )

    def _span_clause(self, clause: str | list[str] | dict) -> list[str]:
        """Analyze one span clause: a str is a span_term, a list is a
        span_or over its terms (each analyzed; one analyzed token per
        alternative — the single-token span model of this engine), and a
        ``{"prefix": stem}`` dict is ES ``span_multi`` wrapping a prefix
        query (Lucene SpanMultiTermQueryWrapper): the stem is analyzed,
        then expanded against the term dictionary — same pruned pyarrow
        range read as :meth:`search_prefix` — and the expansions become
        the slot's span_or alternatives (``max_expansions`` caps the
        rewrite, default 50 like ES)."""
        if isinstance(clause, dict):
            stem_toks = self._analyze(str(clause["prefix"]))
            if not stem_toks:
                return []
            return self._expand_prefix(
                stem_toks[0], int(clause.get("max_expansions", 50))
            )
        alts = [clause] if isinstance(clause, str) else list(clause)
        out: list[str] = []
        for a in alts:
            toks = self._analyze(a)
            if toks and toks[0] not in out:
                out.append(toks[0])
        return out

    def _span_near_slots(self, clauses: list, in_order: bool) -> "list[list[str]] | None":
        """The analyzed slots of span_near clauses (:meth:`_span_clause`),
        or None when there are none or one analyzes to nothing."""
        slots = []
        for c in clauses:
            slot = self._span_clause(c)
            if not slot:
                return None
            slots.append(slot)
        if not slots:
            return None
        flat = [t for s in slots for t in s]
        if not in_order and len(set(flat)) != len(flat):
            # Lucene's unordered SpanNear requires DISTINCT occurrences
            # per repeated clause; the windowed membership test would
            # accept one occurrence for both — refuse rather than deviate
            raise ValueError(
                "span_near with repeated terms requires in_order=True"
            )
        return slots

    def _span_not_slots(self, include, exclude) -> list[list[str]]:
        """span_not's slots: the include clause, then the exclude clause
        unless it analyzes to nothing (an absent exclude excludes
        nothing)."""
        inc, exc = self._span_clause(include), self._span_clause(exclude)
        return [inc, exc] if exc else [inc]

    def _span_contain_slots(self, little, big, in_order) -> "list[list[str]] | None":
        """span_containing / span_within's slots: the little clause, then
        the big span_near clauses (:meth:`_span_near_slots`, not compiled
        when the little clause analyzes to nothing); None when either
        analyzes to nothing."""
        lit = self._span_clause(little)
        slots = self._span_near_slots(big, in_order) if lit else None
        return None if slots is None else [lit] + slots

    def search_span_near(
        self,
        terms: list[str | list[str] | dict],
        slop: int = 0,
        in_order: bool = False,
        k: int = 10,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``span_near`` (Lucene SpanNearQuery): docs where every
        clause occurs inside a window of ``len(terms) + slop`` tokens —
        Lucene's span-width − n ≤ slop criterion — optionally in clause
        order (``in_order``). Each clause is a str (span_term), a list
        of strs (a nested ``span_or``: any alternative satisfies the
        clause — the postings runs of the alternatives are unioned per
        slot, no extra kernel work), or a ``{"prefix": stem}`` dict
        (``span_multi`` wrapping a prefix query — dictionary expansion
        becomes the slot's alternatives, see :meth:`_span_clause`).

        Match counting (the kernel docstring pins the exact deterministic
        definition; the DuckDB oracle recomputes it): unordered spans
        anchor on any clause-term position whose window covers every
        clause; ordered spans anchor on clause-0 positions whose
        greedy-earliest chain completes within the window. Scoring is the
        same synthetic-term BM25 as :meth:`search_phrase` (tf = spans per
        doc, globally aggregated span df → idf). Requires
        ``positions=True``."""
        return self._phrase_topk(
            self._span_near_slots(terms, in_order), k, where, 0,
            span=("near", int(slop), bool(in_order)),
        )

    def search_span_or(
        self, terms: list[str], k: int = 10, where: str | None = None
    ) -> DataFrame:
        """ES ``span_or`` (Lucene SpanOrQuery) at the top level: every
        occurrence of ANY clause term is a span. Expressed as a
        single-slot span_near (window checks are vacuous for n=1), so tf
        = total occurrences of any alternative per doc and df = docs
        containing any — the same synthetic-term BM25 contract as the
        rest of the span family. For a single term this is score-identical
        to :meth:`search` (same tf, df, and length normalization).
        Requires ``positions=True``."""
        return self._phrase_topk(
            [self._span_clause(list(terms))], k, where, 0, span=("near", 0, False)
        )

    def _span_contain_topk(
        self,
        little: str | list[str] | dict,
        big: list[str | list[str] | dict],
        slop: int,
        in_order: bool,
        mode: str,
        k: int,
        where: str | None,
    ) -> DataFrame:
        """Shared body of :meth:`search_span_containing` /
        :meth:`search_span_within`: analyze the little clause and the big
        span_near clauses (same clause grammar as :meth:`search_span_near`,
        including its repeated-terms guard for unordered bigs), then run
        the containment kernel (`query/kernels.py:shard_span_contain`)."""
        return self._phrase_topk(
            self._span_contain_slots(little, big, in_order), k, where, 0,
            span=(mode, int(slop), bool(in_order)),
        )

    def search_span_containing(
        self,
        little: str | list[str] | dict,
        big: list[str | list[str] | dict],
        slop: int = 0,
        in_order: bool = False,
        k: int = 10,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``span_containing`` (Lucene SpanContainingQuery; in the ES
        1.x span DSL the reference's indexed documents are queried with —
        ref:src/main/java/org/elasticsearch/kafka/indexer/MessageHandler.java:135-139
        delegates all query semantics to ES 1.5): matches are the BIG
        spans — span_near intervals over ``big`` clauses with ``slop`` /
        ``in_order``, extent pinned by
        :func:`kernels._span_near_intervals` — that enclose at least one
        occurrence of the ``little`` clause (str = span_term, list =
        span_or, ``{"prefix": ...}`` = span_multi). tf = qualifying big
        spans per doc; df = docs with ≥ 1; scored with the span family's
        synthetic-term BM25. Requires ``positions=True``."""
        return self._span_contain_topk(
            little, big, slop, in_order, "containing", k, where
        )

    def search_span_within(
        self,
        little: str | list[str] | dict,
        big: list[str | list[str] | dict],
        slop: int = 0,
        in_order: bool = False,
        k: int = 10,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``span_within`` (Lucene SpanWithinQuery): the mirror of
        :meth:`search_span_containing` — matches are the LITTLE clause
        occurrences enclosed by some big span, so tf = enclosed little
        occurrences per doc (a doc where the big span matches but never
        around the little term does NOT match). Same clause grammar,
        deterministic big-span extents, and synthetic-term scoring as
        ``span_containing``. Requires ``positions=True``."""
        return self._span_contain_topk(
            little, big, slop, in_order, "within", k, where
        )

    def search_span_not(
        self,
        include: str | list[str],
        exclude: str | list[str],
        pre: int = 0,
        post: int = 0,
        k: int = 10,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``span_not`` (Lucene SpanNotQuery): occurrences of
        ``include`` (str = span_term, list = span_or) with NO ``exclude``
        occurrence within ``pre`` tokens before through ``post`` tokens
        after (Lucene's pre/post overlap window; the default pre=post=0
        is pure position overlap, vacuous for distinct single-token
        spans — pass pre/post ≥ 1 for adjacency exclusion). An exclude
        absent from the dictionary excludes nothing. tf = surviving
        include occurrences, df = docs with ≥ 1, scored like the rest of
        the span family. Requires ``positions=True``."""
        return self._phrase_topk(
            self._span_not_slots(include, exclude), k, where, 0,
            span=("not", int(pre), int(post)),
        )

    def _positional_plan(
        self, slot_terms: list[list[str]] | None, span: tuple | None
    ) -> "tuple[list[int], list[str]] | None":
        """(buckets, present terms) of a compiled phrase/span clause — the
        one guard of the positional family, shared by both finishes. None
        when the clause analyzed to nothing (``slot_terms`` None, empty, or
        holding an empty slot) or a required slot has no term in the
        dictionary; span_not requires only its include slot (0): an absent
        exclude excludes nothing. An index built without positions raises
        between the two checks, so an empty query stays empty there while
        an absent term does not."""
        if not slot_terms or not all(slot_terms):
            return None
        if not self.meta.get("positions"):
            raise ValueError(
                "index built without positions=True — no phrase/span support"
            )
        _df_by, bucket_by = self._term_dfs(sorted({t for sl in slot_terms for t in sl}))
        required = slot_terms[:1] if span and span[0] == "not" else slot_terms
        if any(not (set(slot) & bucket_by.keys()) for slot in required):
            return None
        return sorted(set(bucket_by.values())), sorted(bucket_by)

    def _phrase_topk(
        self,
        slot_terms: list[list[str]] | None,
        k: int,
        where: str | None,
        slop: int,
        offsets: list[int] | None = None,
        span: tuple | None = None,
    ) -> DataFrame:
        """Positional-match core shared by match_phrase,
        match_phrase_prefix and the span queries: slot i matches when ANY
        of ``slot_terms[i]`` occurs at the expected offset (singleton
        slots = the exact phrase). ``span`` selects a span kernel instead
        of the phrase kernel: ``('first', end)`` or
        ``('near', slop, in_order)`` — same (doc, tf, dl, df) contract,
        same global-df synthetic-term scoring below. The guards are
        :meth:`_positional_plan`'s; :meth:`_positional_topk_local` is the
        driver finish of the same arguments.

        Finishes on the driver: the per-shard partials — at most k match
        rows per shard, plus a ``-1`` sentinel row where a shard's
        matches were all masked out — are collected and scored by
        :meth:`_positional_bm25`, the driver finish's scorer; the top k
        (score desc, doc_id asc) come back as a zero-job frame
        (:meth:`_frame`)."""
        plan = self._positional_plan(slot_terms, span)
        if plan is None:
            return self._frame(TOPK_SCHEMA)
        buckets, present = plan
        docs_per_shard, avgdl, k1, b = self._bm25()
        hits = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(present)
        )
        out_schema = "doc_id long, tfp int, dl int, shard long, n_shard_matches long"

        def score_shard(pdf: pd.DataFrame, allowed, blocked) -> pd.DataFrame:
            d, tfp, dl, n = kernels.positional_shard(
                pdf, slot_terms, span, slop, offsets, k, avgdl, k1, b,
                docs_per_shard, allowed, blocked,
            )
            shard = int(pdf["shard"].iloc[0])
            if n and len(d) == 0:
                # every match masked out — emit a sentinel row so the
                # shard's UNMASKED match count still reaches the global
                # phrase df (ES keeps stats global under filters;
                # tombstone stats stay frozen until compaction)
                return pd.DataFrame(
                    {"doc_id": [-1], "tfp": [0], "dl": [1],
                     "shard": [shard], "n_shard_matches": [n]}
                )
            return pd.DataFrame(
                {"doc_id": d, "tfp": tfp, "dl": dl, "shard": shard, "n_shard_matches": n}
            )

        mask = self._mask_plan(where, docs_per_shard)
        rows = self._shard_partials(hits, *mask, score_shard, out_schema).toPandas()
        n_matches = int(rows.groupby("shard")["n_shard_matches"].first().sum())
        rows = rows[rows["doc_id"] >= 0]
        dd, ss = self._positional_bm25(rows["doc_id"], rows["tfp"], rows["dl"], n_matches)
        top = np.lexsort((dd, -ss))[:k]
        return self._frame(TOPK_SCHEMA, {"doc_id": dd[top], "score": ss[top]})

    def search_phrase_oracle(
        self, phrase: str, k: int | None = 10, where: str | None = None, slop: int = 0
    ) -> DataFrame:
        """Declarative phrase verification path: m-way position self-join
        over the exploded token positions — no custom kernels. ``slop``
        relaxes slot i to ``|pᵢ − p₀ − i| ≤ slop`` via an exploded
        candidate-anchor join (same semantic as the fast path). ``k=None``
        returns the full unranked score set (clause composition)."""
        slots, offsets = self._analyze_phrase(phrase)
        if not slots:
            return self._frame(TOPK_SCHEMA)
        return self._phrase_oracle_slots([[t] for t in slots], k, where, slop, offsets)

    def search_phrase_prefix_oracle(
        self,
        phrase: str,
        k: int | None = 10,
        max_expansions: int = 50,
        where: str | None = None,
    ) -> DataFrame:
        """Declarative verification path for match_phrase_prefix: the
        last slot is the prefix expansion, matched via the same m-way
        position join as :meth:`search_phrase_oracle`."""
        slots, offsets = self._analyze_phrase(phrase)
        if not slots:
            return self._frame(TOPK_SCHEMA)
        exp = self._expand_prefix(slots[-1], max_expansions)
        if not exp:
            return self._frame(TOPK_SCHEMA)
        return self._phrase_oracle_slots(
            [[t] for t in slots[:-1]] + [exp], k, where, 0, offsets
        )

    def _phrase_oracle_slots(
        self,
        slot_terms: list[list[str]],
        k: int | None,
        where: str | None,
        slop: int,
        offsets: list[int] | None = None,
    ) -> DataFrame:
        import math

        from kafka_elasticsearch_standalone_consumer_spark.analysis import doc_term_freqs

        toks = self._tokens_all
        if "positions" not in toks.columns:
            toks = doc_term_freqs(
                self._docs_df(), positions=True,
                analyzer=self.meta.get("analyzer", "standard"),
            )
        if offsets is None:
            offsets = list(range(len(slot_terms)))
        base = offsets[0]
        all_terms = sorted({t for slot in slot_terms for t in slot})
        tp = toks.filter(F.col("term").isin(all_terms)).select(
            "doc_id", "term", F.explode("positions").alias("p")
        )
        m = tp.filter(F.col("term").isin(slot_terms[0])).select(
            "doc_id", F.col("p").alias("p0")
        )
        for i, slot in enumerate(slot_terms[1:], start=1):
            off = offsets[i] - base  # position-increment gap from the anchor
            nxt = tp.filter(F.col("term").isin(slot))
            if slop == 0:
                nxt = nxt.select("doc_id", (F.col("p") - off).alias("p0"))
            else:
                # every anchor position this occurrence is compatible with
                nxt = nxt.select(
                    "doc_id",
                    F.explode(
                        F.sequence(F.col("p") - off - slop, F.col("p") - off + slop)
                    ).alias("p0"),
                ).distinct()
            m = m.join(nxt, ["doc_id", "p0"])
        matches = m.groupBy("doc_id").agg(F.count("*").alias("tfp")).persist()
        # phrase df counted UNMASKED — the filter clause restricts the doc
        # set but corpus statistics stay global (ES), and tombstone stats
        # stay frozen until compaction; same rule as the fast path
        df_phrase = matches.count()
        if df_phrase == 0:
            matches.unpersist()
            return self._frame(TOPK_SCHEMA)
        matches = self._live(where, frame=matches)
        ds = self._doc_lengths
        _dps, avgdl, k1, b = self._bm25()
        idf = math.log(1.0 + (self.meta["n_docs"] - df_phrase + 0.5) / (df_phrase + 0.5))
        scored = matches.join(ds, "doc_id").select(
            "doc_id",
            (
                F.lit(idf)
                * F.col("tfp")
                / (F.col("tfp") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
            ).alias("score"),
        )
        if k is None:
            return scored
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search_many(
        self, queries: dict[str, str] | list[str], k: int = 10
    ) -> DataFrame:
        """Batched top-k BM25 (OR semantics) for a whole query set in ONE
        Spark job: (qid, doc_id, score, rank). Planning is one driver-side
        term-dictionary lookup over the union of query terms; the batch
        then runs the batched term seam — per shard ONE
        :func:`kernels.term_shard` call for every query, whose posting
        blocks are decoded once and reused by every query that shares the
        term (the _Run block cache), so Q queries cost far less than Q×
        one query — the shape that matters when the reference query set
        (or a training-data scoring sweep) runs as a batch. Each query's
        rows equal ``search(q, k, mode="bmw")``'s: :meth:`search` is the
        batch of one.

        Placement follows :meth:`search`: a batch whose summed planned
        posting volume is at most ``DRIVER_MAX_POSTINGS`` runs on the
        driver (:meth:`_local_topk`, one pruned pyarrow read, ranked per
        qid in NumPy in the Window's order, score desc, doc_id asc) and
        returns an Arrow LocalRelation: zero Spark jobs. Larger batches
        run as the one Spark job. Rows are identical either way.
        """
        if isinstance(queries, list):
            queries = {str(i): q for i, q in enumerate(queries)}
        per_q = {qid: self._plan_terms(q, with_volume=True) for qid, q in queries.items()}
        plans = {qid: (idfw, bs) for qid, (idfw, bs, _v) in per_q.items() if idfw}
        if not plans:
            return self._frame(MANY_SCHEMA)
        volume = sum(v for _, _, v in per_q.values())
        if volume <= DRIVER_MAX_POSTINGS:
            outs = self._local_topk(list(plans.values()), k, "bmw", *self._local_mask())
            n = [len(d) for d, _ in outs]
            return self._frame(MANY_SCHEMA, {
                "qid": np.repeat(np.asarray(list(plans), dtype=object), n),
                "doc_id": np.concatenate([d for d, _ in outs]),
                "score": np.concatenate([s for _, s in outs]),
                "rank": np.concatenate([np.arange(1, m + 1) for m in n]),
            })

        mask = self._mask_plan(None, self._bm25()[0])  # tombstones only
        partials = self._term_partials(plans, "bmw", k, mask)
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            partials.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    def facets(
        self,
        query_text: str,
        by: str,
        where: str | None = None,
        min_should_match: int = 1,
        include: str | None = None,
        exclude: str | None = None,
    ) -> DataFrame:
        """ES-style terms aggregation over ALL matching documents (not the
        top-k): (facet value, n_docs), descending. A doc matches when it
        contains ≥ ``min_should_match`` distinct query terms (ES
        query_string OR semantics at 1, AND at len(terms)).

        ``include`` / ``exclude`` are the ES 1.x terms-agg bucket-key
        regex knobs: ANCHORED full-value matches (Lucene RegExp
        semantics — ``"en|zh"`` matches exactly those values, not
        substrings), exclude applied after include like ES. Patterns
        must stay in the Java/RE2-shared regex dialect (the PII-pattern
        rule) so oracles run the identical expression. NULL bucket keys
        never match an include and are kept by an exclude (a NULL is
        not a value the regex can see) — documented choice.

        Facets touch every match, so the scalable plan is declarative end
        to end: term-pruned tokens scan → distinct matching doc → join the
        doc store on the facet column → groupBy; the key filter lands
        BEFORE the aggregation, so excluded rows never shuffle. Catalyst
        handles the pushdown; no kernels."""
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame(f"{by} string, n long")
        if include is not None:
            scoped = scoped.filter(F.col(by).rlike(f"^(?:{include})$"))
        if exclude is not None:
            scoped = scoped.filter(
                F.col(by).isNull() | ~F.col(by).rlike(f"^(?:{exclude})$")
            )
        return (
            scoped.groupBy(by)
            .agg(F.count("*").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc(by))
        )

    def facets_stats(
        self,
        query_text: str,
        key_field: str,
        value_field: str,
        where: str | None = None,
        min_should_match: int = 1,
        size: int = 10,
        order: str = "count",
    ) -> DataFrame:
        """ES 1.x ``terms_stats`` facet (the stats-per-term-bucket flavor
        of the facet API, the one facet the plain terms facet
        :meth:`facets` doesn't cover): buckets of ``key_field`` over ALL
        matching documents, each carrying count / total / min / max /
        mean of ``value_field``. Pinned semantics, documented: rows with
        a NULL key or NULL value don't contribute (ES reports those as a
        separate ``missing`` count the caller can get from
        :meth:`missing_agg`); ``order`` ∈ {count, total, min, max, mean,
        term} — metrics descend, term ascends, ties always break on the
        key ascending; ``size`` caps the bucket list after ordering.

        Determinism: count/min/max are exact; total is the native-type
        sum cast to double AFTER aggregating, so for integral value
        columns it is an exact integer in any partitioning/engine and
        mean = total/count is ONE IEEE division — bit-identical
        cross-engine, safe to order by raw (the BM25 raw-double rule).

        Scale shape: same as :meth:`facets` — term-pruned tokens scan →
        distinct matching docs → one keyed aggregation; the NULL filters
        land before the shuffle, the bucket list is bounded by the key
        cardinality and the size cap."""
        orders = {
            "count": (F.desc("n"),),
            "total": (F.desc("total"),),
            "min": (F.desc("min_v"),),
            "max": (F.desc("max_v"),),
            "mean": (F.desc("mean_v"),),
            "term": (),
        }
        if order not in orders:
            raise ValueError(f"order must be one of {sorted(orders)}, got {order!r}")
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            # derive the key column's type from the doc schema so the
            # empty-match frame matches the non-empty branch (a numeric
            # key_field must not come back string-typed)
            key_t = dict(
                (f.name, f.dataType.simpleString()) for f in self._docs_df().schema
            ).get(key_field, "string")
            return self._frame(
                f"{key_field} {key_t}, n long, total double, "
                "min_v double, max_v double, mean_v double",
            )
        agg = (
            scoped.filter(F.col(key_field).isNotNull())
            .filter(F.col(value_field).isNotNull())
            .groupBy(key_field)
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(value_field).cast("double").alias("total"),
                F.min(value_field).cast("double").alias("min_v"),
                F.max(value_field).cast("double").alias("max_v"),
            )
            .withColumn("mean_v", F.col("total") / F.col("n").cast("double"))
        )
        return agg.orderBy(*orders[order], F.asc(key_field)).limit(int(size))

    def _tokens_df(self) -> DataFrame:
        """(doc_id, term) token stream across all segments — column-pruned
        so a downstream term predicate reaches the parquet scan."""
        return self._tokens_all.select("doc_id", "term")

    def _tokens_full_df(self) -> DataFrame:
        """(doc_id, term, tf, dl) token stream across all segments —
        the frequency-bearing variant of :meth:`_tokens_df`."""
        return self._tokens_all.select("doc_id", "term", "tf", "dl")

    def _match_set(self, terms: list[str], min_should_match: int) -> DataFrame:
        """doc_ids containing ≥ ``min_should_match`` distinct terms of
        ``terms`` — a term-pruned tokens scan + one aggregation (the scan
        is column-pruned to (doc_id, term) and the predicate pushed)."""
        return (
            self._tokens_df().filter(F.col("term").isin(terms))
            .groupBy("doc_id")
            .agg(F.count_distinct("term").alias("nt"))
            .filter(F.col("nt") >= min_should_match)
            .select("doc_id")
        )

    def _agg_scope(
        self, query_text: str, where: str | None, min_should_match: int
    ) -> DataFrame | None:
        """The live, filtered document set matching ≥ ``min_should_match``
        distinct query terms — the doc scope every ES aggregation runs
        over. Declarative: term-pruned tokens scan → distinct matching
        docs → left-semi join the (column-pruned) doc store. Returns None
        for an empty query."""
        terms = sorted(set(self._analyze(query_text)))
        if not terms:
            return None
        return self._live(where, allowed=self._match_set(terms, min_should_match))

    def histogram(
        self,
        query_text: str,
        by: str,
        interval: float,
        where: str | None = None,
        min_should_match: int = 1,
        min_doc_count: int = 1,
        extended_bounds: tuple[float, float] | None = None,
    ) -> DataFrame:
        """ES histogram aggregation over all matching docs: fixed-width
        buckets of the numeric ``by`` column, (bucket, n) ascending;
        ``min_doc_count=0`` + ``extended_bounds`` fill empty buckets
        (see aggs.histogram)."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("bucket double, n long")
        return aggs.histogram(scoped, by, interval, min_doc_count, extended_bounds)

    def range_agg(
        self,
        query_text: str,
        by: str,
        bounds: list[float],
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES range aggregation: half-open [lo, hi) buckets with open ends
        ("*-b0", "b0-b1", …, "bn-*"), non-empty buckets only."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("range_label string, n long")
        return aggs.range_counts(scoped, by, bounds)

    def stats_agg(
        self,
        query_text: str,
        by: str,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES stats aggregation: count/min/max/sum/avg of ``by`` over the
        matching docs (one row)."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame(
                "n long, min_v double, max_v double, sum_v double, avg_v double"
            )
        return aggs.stats_summary(scoped, by)

    def date_histogram(
        self,
        query_text: str,
        by: str,
        unit: str = "day",
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES date_histogram aggregation: calendar buckets (hour/day/
        month/year) of the timestamp ``by`` column over matching docs."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("bucket string, n long")
        return aggs.date_histogram(scoped, by, unit)

    def percentiles_agg(
        self,
        query_text: str,
        by: str,
        pcts: list[float] | None = None,
        exact: bool = True,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES percentiles aggregation of ``by`` over the matching docs:
        (pct, value) rows. ``exact=False`` switches to the mergeable
        Greenwald–Khanna sketch (the 100 TB path — see aggs.percentiles)."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("pct double, value double")
        return aggs.percentiles(scoped, by, pcts, exact=exact)

    def extended_stats_agg(
        self,
        query_text: str,
        by: str,
        sigma: float = 2.0,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES extended_stats aggregation: the stats row plus
        sum_of_squares, population variance/std-deviation and the
        ``avg ± sigma·σ`` bounds (see aggs.extended_stats)."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame(
                "n long, min_v double, max_v double, sum_v double, "
                "avg_v double, sum_sq double, variance double, "
                "std_dev double, std_upper double, std_lower double",
            )
        return aggs.extended_stats(scoped, by, sigma=sigma)

    def percentile_ranks_agg(
        self,
        query_text: str,
        by: str,
        values: list[float],
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES percentile_ranks aggregation: for each probe value, the
        percent of matching docs with ``by`` ≤ value (exact empirical
        CDF — see aggs.percentile_ranks)."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("value double, pct double")
        return aggs.percentile_ranks(scoped, by, values)

    def date_range_agg(
        self,
        query_text: str,
        by: str,
        bounds: list[str],
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES date_range aggregation: half-open [from, to) buckets over
        ISO timestamp bounds with open ends; docs missing the timestamp
        are excluded (see aggs.date_range_counts)."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("range_label string, n long")
        return aggs.date_range_counts(scoped, by, bounds)

    def cardinality_agg(
        self,
        query_text: str,
        by: str,
        exact: bool = False,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES cardinality aggregation of ``by`` over the matching docs —
        HyperLogLog++ by default (ES parity), ``exact=True`` for
        verification scopes."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("n_distinct long")
        return aggs.cardinality(scoped, by, exact=exact)

    def top_hits_agg(
        self,
        query_text: str,
        bucket_by: str,
        sort_by: str,
        k: int = 3,
        ascending: bool = False,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES terms-bucket + top_hits sub-aggregation: the k best matching
        docs per ``bucket_by`` value, ordered by the ``sort_by`` field
        (ES top_hits with an explicit sort; ties broken by doc_id asc)."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame(
                f"{bucket_by} string, doc_id long, sort_value double, rank_in_bucket long"
            )
        return aggs.top_hits(scoped, bucket_by, sort_by, k, ascending=ascending)

    def terms_agg(
        self,
        query_text: str,
        bucket_by: str,
        metric_field: str,
        metrics: tuple[str, ...] = ("avg",),
        size: int = 10,
        where: str | None = None,
        min_should_match: int = 1,
        order_by: str | None = None,
        ascending: bool = False,
    ) -> DataFrame:
        """ES terms aggregation with nested metric sub-aggregations
        (avg/min/max/sum of ``metric_field`` per bucket) over the matching
        docs — the `terms + avg` idiom of every ES dashboard.
        ``order_by``/``ascending`` = ES 1.x ``order`` on a sub-agg
        (see aggs.terms_metric)."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            schema = f"{bucket_by} string, n long, " + ", ".join(
                f"{m}_v double" for m in metrics
            )
            return self._frame(schema)
        return aggs.terms_metric(
            scoped, bucket_by, metric_field, metrics, size, order_by, ascending
        )

    def terms_agg_sharded(
        self,
        size: int = 10,
        shard_size: int = 20,
        with_true: bool = True,
    ) -> DataFrame:
        """ES 1.x terms aggregation over the indexed TEXT field with the
        real distributed collection semantics (ES 1.4's accuracy
        surface): every shard returns only its local top ``shard_size``
        terms by document frequency (ties term asc, Lucene's ordinal
        determinism), the coordinator sums the per-shard counts of
        whatever arrived, and each reported term carries
        ``doc_count_error_upper_bound`` — the sum, over shards that did
        NOT return the term, of the last (smallest) count each such
        shard DID return; a shard that returned its whole vocabulary
        bounds its missing terms by 0. That is exactly ES 1.4's
        ``show_term_doc_count_error`` arithmetic, and it certifies
        ``df_est ≤ df_true ≤ df_est + err_bound``.

        Shards are the index's own layout (``doc_id DIV
        docs_per_shard`` — the terminate_after precedent), tombstones
        masked like every stats surface. ``with_true`` adds the exact
        recount column ``df_true`` as the verification twin (the
        heavy_hitters pattern); it is the only full-vocabulary pass, so
        a 100 TB deployment drops it.

        Plan shape: the distinct (doc, term) stream Catalyst already
        builds for df stats feeds ONE composite-key groupBy with
        map-side partials; the per-shard ranking window is
        hash-partitioned on the shard id over post-aggregation rows
        (vocab × shards, not doc rows); the per-shard floor counts are a
        tiny broadcast; the error anti-join touches only (size ×
        n_shards) candidate pairs. Returns (term, df_est[, df_true],
        err_bound), df_est desc / term asc."""
        from pyspark.sql import Window

        if shard_size < 1:
            raise ValueError("shard_size must be ≥ 1")
        dps = self._bm25()[0]
        toksd = self._live(frame=self._tokens_df()).distinct()
        per = (
            toksd.withColumn("shard", F.expr(f"doc_id DIV {dps}"))
            .groupBy("shard", "term")
            .agg(F.count("*").cast("long").alias("df_s"))
        )
        w = Window.partitionBy("shard").orderBy(F.desc("df_s"), F.asc("term"))
        ranked = per.withColumn("rn", F.row_number().over(w))
        returned = ranked.filter(F.col("rn") <= int(shard_size))
        shard_last = ranked.groupBy("shard").agg(
            F.when(F.count("*") <= int(shard_size), F.lit(0).cast("long"))
            .otherwise(F.max(F.when(F.col("rn") == int(shard_size), F.col("df_s"))))
            .alias("last_df")
        )
        est = returned.groupBy("term").agg(F.sum("df_s").cast("long").alias("df_est"))
        top = est.orderBy(F.desc("df_est"), F.asc("term")).limit(int(size))
        missing = top.crossJoin(F.broadcast(shard_last)).join(
            returned.select("shard", "term"), ["shard", "term"], "left_anti"
        )
        err = missing.groupBy("term").agg(
            F.sum("last_df").cast("long").alias("err_bound")
        )
        out = top.join(err, "term", "left")
        cols = ["term", "df_est"]
        if with_true:
            true_df = toksd.groupBy("term").agg(
                F.count("*").cast("long").alias("df_true")
            )
            out = out.join(true_df, "term")
            cols.append("df_true")
        return out.select(
            *cols,
            F.coalesce(F.col("err_bound"), F.lit(0).cast("long")).alias("err_bound"),
        ).orderBy(F.desc("df_est"), F.asc("term"))

    def nested_terms_agg(
        self,
        query_text: str,
        parent_by: str,
        child_by: str,
        metric_field: str | None = None,
        metrics: tuple[str, ...] = (),
        size: int = 10,
        child_size: int = 10,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES two-level bucket aggregation over the matching docs:
        ``terms(parent_by) → terms(child_by)`` with optional leaf metric
        sub-aggs. Either level may be a SQL expression, which is how ES
        nests date_histogram under terms (see aggs.nested_terms)."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            schema = "parent string, child string, n long, " + "".join(
                f"{m}_v double, " for m in metrics
            ) + "parent_n long"
            return self._frame(schema)
        return aggs.nested_terms(
            scoped, parent_by, child_by, metric_field, metrics, size, child_size
        )

    def filters_agg(
        self,
        query_text: str,
        filters: dict[str, str],
        other_bucket: bool = True,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES ``filters`` aggregation over the matching docs: one named
        bucket per SQL predicate (+ ES's ``_other_`` bucket), all counted
        in a single pass (see aggs.filters_counts)."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("bucket string, n long")
        return aggs.filters_counts(scoped, filters, other_bucket)

    def composite_agg(
        self,
        query_text: str,
        sources: list[tuple[str, str]],
        size: int = 10,
        after: tuple | None = None,
        metric_field: str | None = None,
        metrics: tuple[str, ...] = (),
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES ``composite`` aggregation over the matching docs: all
        buckets of the multi-source key in key order, paged by ``size``
        and resumable from the ``after`` key (see aggs.composite_buckets
        for the scale argument)."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            schema = ", ".join(f"{n} string" for n, _ in sources) + ", n long" + "".join(
                f", {m}_v double" for m in metrics
            )
            return self._frame(schema)
        return aggs.composite_buckets(
            scoped, sources, size, after, metric_field, metrics
        )

    def percolate(
        self,
        queries: list[tuple[int, str]],
        operator: str = "or",
        minimum_should_match: int = 1,
    ) -> DataFrame:
        """ES percolator over the live doc store: which registered
        queries match each document (see query/percolate.py). Deletes
        are honored — tombstoned docs never match."""
        from kafka_elasticsearch_standalone_consumer_spark.query.percolate import percolate

        return percolate(
            self._live(),
            queries,
            operator=operator,
            minimum_should_match=minimum_should_match,
            analyzer=self.meta.get("analyzer", "standard"),
        )

    def global_agg(self, field: str) -> DataFrame:
        """ES ``global`` bucket: statistics over ALL live documents,
        escaping the query scope entirely (the `compare matches vs the
        whole corpus` idiom). Deletes still apply — a global bucket never
        resurrects tombstoned docs."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        return aggs.stats_summary(self._live(), field)

    def missing_agg(
        self,
        query_text: str,
        field: str,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES ``missing`` aggregation: count of matching docs with a NULL
        ``field`` (one conditional count over the scoped set)."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("n_missing long")
        return aggs.missing_count(scoped, field)

    def value_count_agg(
        self,
        query_text: str,
        field: str,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES ``value_count`` aggregation: how many matching docs HAVE a
        value for ``field`` (non-NULL) — the dual of :meth:`missing_agg`,
        one conditional count over the scoped set."""
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("n_values long")
        return scoped.agg(F.count(F.col(field)).cast("long").alias("n_values"))

    def filter_agg(
        self,
        query_text: str,
        filter_where: str,
        field: str,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES single-bucket ``filter`` aggregation: narrow the match set
        by a filter expression, then run the metric sub-aggregation (ES's
        ubiquitous `filter: {...}, aggs: {stats: ...}` idiom). One scoped
        scan + one aggregate — the filter fuses into the scan stage."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame(
                "n long, min_v double, max_v double, sum_v double, avg_v double"
            )
        return aggs.stats_summary(scoped.filter(filter_where), field)

    def scripted_metric_agg(
        self,
        query_text: str,
        map_script: str,
        reduce_script: str = "sum(mapped)",
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES scripted_metric aggregation over the matching docs:
        ``map_script`` is a per-doc SQL expression, ``reduce_script`` an
        aggregate over its ``mapped`` column (see aggs.scripted_metric)."""
        from kafka_elasticsearch_standalone_consumer_spark.query import aggs

        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("value double")
        return aggs.scripted_metric(scoped, map_script, reduce_script)

    def explain_score(self, query_text: str, doc_id: int) -> DataFrame:
        """ES ``_explain`` parity: the per-term BM25 breakdown of one
        document's score for a query — (term, w, tf, df, idf,
        contribution) rows, term asc; the contributions sum to the
        document's :meth:`search` score bit-for-bit (idf weights come from
        the same driver-side plan the fast path uses).

        Cost shape: the term-dictionary lookup is the usual footer-pruned
        point read, and tf/dl come from a doc_id-pushed scan of the token
        stream — a point query, not a corpus pass."""
        import math

        from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

        out_schema = (
            "term string, w double, tf double, df double, idf double, contribution double"
        )
        weights = bm25.query_term_weights(
            query_text, self.meta.get("analyzer", "standard")
        )
        if not weights:
            return self._frame(out_schema)
        terms = sorted(weights)
        df_by = self._term_dfs(terms)[0]
        n = float(self.meta["n_docs"])
        _dps, avgdl, k1, b = self._bm25()
        doc_tf = (
            self._tokens_full_df()
            .filter((F.col("doc_id") == int(doc_id)) & F.col("term").isin(terms))
            .select("term", "tf", "dl")
            .collect()
        )
        if not doc_tf:
            return self._frame(out_schema)
        dl = float(doc_tf[0]["dl"])
        out = []
        for r in sorted(doc_tf, key=lambda r: r["term"]):
            t, tf = r["term"], float(r["tf"])
            df = float(df_by.get(t, 0))
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            w = float(weights[t])
            contrib = w * idf * tf / (tf + k1 * (1.0 - b + b * dl / avgdl))
            out.append((t, w, tf, df, idf, contrib))
        return self._frame(out_schema, out)

    def suggest_terms(
        self,
        text: str,
        max_edits: int = 1,
        prefix_length: int = 1,
        size: int = 3,
        suggest_mode: str = "missing",
    ) -> DataFrame:
        """ES term suggester ("did you mean"): per input token, dictionary
        terms within Damerau-Levenshtein ``max_edits``, ranked the way ES
        ranks candidates — distance asc, then document frequency desc,
        then term asc — top ``size`` each. ``suggest_mode='missing'``
        (ES default) only suggests for tokens absent from the index;
        ``'always'`` suggests for every token; ``'popular'`` suggests
        for every token but keeps only corrections STRICTLY more
        frequent than the input term itself (ES 1.x's third mode — the
        input's own df is 0 when absent, so popular ⊇ missing's
        corrections for absent tokens). The dictionary read is
        pruned by ``prefix_length`` exactly like :meth:`search_fuzzy`."""
        from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

        if suggest_mode not in ("missing", "always", "popular"):
            raise ValueError(f"unknown suggest_mode: {suggest_mode!r}")
        out_schema = "input string, suggestion string, dist int, freq long"
        toks = sorted(set(self._analyze(text)))
        if not toks:
            return self._frame(out_schema)
        own_df = self._term_dfs(toks)[0]
        out = []
        for tok in toks:
            if suggest_mode == "missing" and tok in own_df:
                continue
            near = [
                (t, d)
                for t, d in self._fuzzy_variants(tok, max_edits, prefix_length).items()
                if t != tok
            ]
            if not near:
                continue
            df_by = self._term_dfs([t for t, _ in near])[0]
            if suggest_mode == "popular":
                floor = own_df.get(tok, 0)
                near = [(t, d) for t, d in near if df_by.get(t, 0) > floor]
            ranked = sorted(near, key=lambda td: (td[1], -df_by.get(td[0], 0), td[0]))
            for t, d in ranked[:size]:
                out.append((tok, t, int(d), int(df_by.get(t, 0))))
        return self._frame(out_schema, out)

    def suggest_complete(
        self,
        prefix: str,
        size: int = 5,
        fuzziness: int = 0,
        prefix_length: int = 1,
        min_length: int = 3,
    ) -> DataFrame:
        """ES completion suggester over the term dictionary: terms
        starting with ``prefix`` ranked by document frequency desc (the
        popularity weight ES completion fields default to), term asc
        ties. Pure driver-side dictionary range read — serving-latency
        cheap, like :meth:`search_local`.

        ``fuzziness > 0`` enables the ES 1.4 fuzzy completion option
        (defaults mirror ES: ``prefix_length=1`` initial chars must match
        exactly, inputs shorter than ``min_length`` stay exact): a
        dictionary term matches when SOME prefix of it within
        ``fuzziness`` of the input's length is within Damerau-Levenshtein
        distance ``fuzziness`` of the input (the Lucene fuzzy-automaton
        acceptance, stated as the j-window rule so the DuckDB oracle can
        run it verbatim). Ranking stays (-freq, term) — ES scores fuzzy
        completions by weight, not by distance. The expansion scan is
        pruned by the literal ``prefix_length`` prefix plus the
        edit-distance length pigeonhole pushed into the parquet read, and
        capped by MAX_EXPANSION_SCAN like every other fuzzy surface."""
        out_schema = "suggestion string, freq long"
        if fuzziness and len(prefix) >= int(min_length):
            if prefix_length < 1:
                raise ValueError(
                    "prefix_length must be ≥1: an unpruned fuzzy completion "
                    "scans the whole term dictionary (same guard as search_fuzzy)"
                )
            lp, f = len(prefix), int(fuzziness)
            cand = [
                t
                for t in self._expand_prefix(
                    prefix[:prefix_length],
                    1 << 20,
                    length_band=(max(lp - f, 1), 1 << 20),
                )
                if any(
                    _damerau_levenshtein(prefix, t[:j], f) <= f
                    for j in range(max(lp - f, 1), lp + f + 1)
                )
            ]
        else:
            cand = self._expand_prefix(prefix, 1 << 20)
        if not cand:
            return self._frame(out_schema)
        df_by = self._term_dfs(cand)[0]
        ranked = sorted(df_by.items(), key=lambda tf: (-tf[1], tf[0]))[:size]
        return self._frame(out_schema, [(t, int(f)) for t, f in ranked])

    def suggest_complete_context(
        self,
        prefix: str,
        context: list[tuple],
        size: int = 5,
    ) -> DataFrame:
        """ES 1.x CONTEXT suggester (the category-context completion field,
        added in ES 1.4): suggestions ranked by their document frequency
        WITHIN the context — the docs matching the ``(col, op, value)``
        filters — instead of the global dictionary df
        :meth:`suggest_complete` uses (a suggestion popular globally but
        absent from the user's category must not surface).

        Zero Spark jobs, like the rest of the serving path: prefix
        expansion over the term-sorted dictionary (bounded by
        MAX_EXPANSION_SCAN), the context doc set from one pyarrow
        doc-store read (:meth:`_local_mask`), ONE pruned postings
        decode for the candidate terms, and an ``np.isin`` per term.
        Tombstones excluded — this is a live doc COUNT inside the
        context, not a corpus statistic, so unlike idf it must not count
        deleted docs. Ties (-freq, term asc); zero-freq candidates drop.
        """
        out_schema = "suggestion string, freq long"
        cand = self._expand_prefix(prefix, 1 << 20)
        if not cand:
            return self._frame(out_schema)
        per_term = self._local_term_docs(cand, "suggest_complete() or rebuild")
        if not per_term:
            return self._frame(out_schema)
        allowed, blocked = self._local_mask(context or None)
        ranked = []
        for term, d in per_term.items():
            keep = kernels._apply_doc_masks(d, allowed, blocked)
            n = len(d) if keep is None else int(keep.sum())
            if n:
                ranked.append((term, n))
        ranked.sort(key=lambda tf: (-tf[1], tf[0]))
        top = ranked[: int(size)]
        return self._frame(
            out_schema, {"suggestion": [t for t, _ in top], "freq": [n for _, n in top]}
        )

    def suggest_phrase(
        self,
        text: str,
        size: int = 3,
        max_edits: int = 1,
        prefix_length: int = 1,
        gen_size: int = 5,
        real_word_error_likelihood: float = 0.95,
        error_likelihood: float = 0.5,
        confidence: float = 1.0,
        max_combinations: int = 10_000,
        collate: bool = False,
    ) -> DataFrame:
        """ES phrase suggester ("did you mean" for whole phrases): per-slot
        candidates from the term dictionary (prefix-pruned, Damerau-
        Levenshtein ≤ ``max_edits`` — the same direct generator as
        :meth:`suggest_terms`), candidate *sequences* ranked by a
        Laplace-smoothed bigram language model over the corpus plus an
        edit channel:

        * ``P(w_0) = (uni(w_0)+0.5)/(N+0.5·V)``;
          ``P(w_i|w_{i-1}) = (big(w_{i-1},w_i)+0.5)/(uni(w_{i-1})+0.5·V)``
          (uni = total occurrences, big = adjacent-pair count, N = corpus
          token count, V = vocabulary size);
        * channel: a kept token contributes ``ln(real_word_error_
          likelihood)`` (ES's knob of the same name), a replaced token
          ``dist·ln(error_likelihood)``;
        * only sequences beating the input phrase's own score ×
          ``confidence`` are returned (ES's confidence gate), the input
          sequence itself never is.

        Distribution shape: candidate generation is a driver-side pruned
        dictionary read. LM counts come from the MATERIALIZED
        ``lm_unigrams``/``lm_bigrams`` tables when the warehouse has them
        (index/lm.py: built once, then resolved per call with driver-side
        footer-pruned pyarrow point reads — zero Spark jobs, cost
        independent of corpus size). Without them — no LM built, or
        a warehouse with post-LM appended segments whose counts the LM
        tables don't cover — the on-demand fallback runs ONE term-pruned
        tokens aggregation (unigrams) and ONE corpus pass producing
        adjacent pairs filtered to the ~|slots|·gen_size² candidate
        bigrams before the count. Both paths yield identical counts on
        the same corpus, so scores are bit-for-bit equal (asserted in
        tests). Sequence enumeration is over ≤ gen_size^|slots|
        driver-side combinations, capped."""
        import math

        from kafka_elasticsearch_standalone_consumer_spark.analysis import (
            tokenize_col,
            tokenize_text,
        )

        out_schema = "suggestion string, score double"
        toks = self._analyze(text)
        if not toks or prefix_length < 1:
            return self._frame(out_schema)

        # per-slot candidates: original always kept; near terms ranked
        # (dist asc, df desc, term asc) top gen_size — suggest_terms' rule
        slot_cands: dict[str, list[tuple[str, int]]] = {}
        for tok in dict.fromkeys(toks):
            cands = [(tok, 0)]
            near = [
                (t, d)
                for t, d in self._fuzzy_variants(tok, max_edits, prefix_length).items()
                if t != tok
            ]
            if near:
                df_by = self._term_dfs([t for t, _ in near])[0]
                near.sort(key=lambda td: (td[1], -df_by.get(td[0], 0), td[0]))
                cands += near[:gen_size]
            slot_cands[tok] = cands

        all_terms = sorted({t for cs in slot_cands.values() for t, _ in cs})
        pair_keys = set()
        for a_tok, b_tok in zip(toks, toks[1:]):
            for ta, _ in slot_cands[a_tok]:
                for tb, _ in slot_cands[b_tok]:
                    pair_keys.add(f"{ta} {tb}")

        # LM counts: prefer the materialized tables (pyarrow point reads,
        # no Spark job); fall back to the on-demand corpus passes. The
        # materialized path is only trusted while the warehouse has no
        # appended segments beyond the base the LM was built over.
        looked = None
        if len(self._seg_whs) == 1:
            from kafka_elasticsearch_standalone_consumer_spark.index import lm as lm_mod

            looked = lm_mod.lookup_counts(self.wh, all_terms, sorted(pair_keys))
        if looked is not None:
            uni, big, n_tokens, vocab = looked
            vocab = vocab or 1.0
        else:
            # one pruned tokens aggregation + one corpus pair pass
            tokens = self._tokens_full_df()
            uni = {
                r["term"]: float(r["c"])
                for r in tokens.filter(F.col("term").isin(all_terms))
                .groupBy("term").agg(F.sum("tf").alias("c")).collect()
            }
            n_tokens = float(
                tokens.select("doc_id", "dl").distinct().agg(F.sum("dl")).collect()[0][0] or 0.0
            )
            vocab = float(self.term_stats.select("term").distinct().count()) or 1.0
            big = {}
            if pair_keys:
                pairs = (
                    self._docs_df()
                    .select(
                        tokenize_col(
                            F.col("text"), analyzer=self.meta.get("analyzer", "standard")
                        ).alias("w")
                    )
                    .select(
                        F.explode(
                            # sequence() counts DOWN when stop < start, so docs
                            # with <2 tokens must short-circuit to an empty array
                            F.expr(
                                "CASE WHEN size(w) >= 2 THEN "
                                "transform(sequence(0, size(w) - 2), "
                                "i -> concat(w[i], ' ', w[i + 1])) "
                                "ELSE array() END"
                            )
                        ).alias("pair")
                    )
                    .filter(F.col("pair").isin(sorted(pair_keys)))
                    .groupBy("pair").agg(F.count("*").alias("c"))
                )
                big = {r["pair"]: float(r["c"]) for r in pairs.collect()}

        def lm(seq: list[str]) -> float:
            s = math.log((uni.get(seq[0], 0.0) + 0.5) / (n_tokens + 0.5 * vocab))
            for a, b in zip(seq, seq[1:]):
                s += math.log(
                    (big.get(f"{a} {b}", 0.0) + 0.5) / (uni.get(a, 0.0) + 0.5 * vocab)
                )
            return s

        def channel(seq: list[str]) -> float:
            s = 0.0
            for inp, w in zip(toks, seq):
                if w == inp:
                    s += math.log(real_word_error_likelihood)
                else:
                    d = _damerau_levenshtein(inp, w, max_edits)
                    s += d * math.log(error_likelihood)
            return s

        base = lm(toks) + channel(toks)
        combos: list[list[str]] = [[]]
        for tok in toks:
            nxt = [c + [t] for c in combos for t, _ in slot_cands[tok]]
            if len(nxt) > max_combinations:
                nxt = nxt[:max_combinations]
            combos = nxt
        scored = []
        thresh = base + math.log(confidence) if confidence > 0 else -math.inf
        for seq in combos:
            if seq == toks:
                continue
            sc = lm(seq) + channel(seq)
            if sc > thresh:
                scored.append((" ".join(seq), sc))
        scored.sort(key=lambda x: (-x[1], x[0]))
        if collate:
            # ES 1.x `collate`: prune suggestions whose collate query
            # matches nothing — here a conjunctive match on the suggested
            # terms over live docs (the pruned postings decode). Walk the
            # LM ranking until `size` suggestions survive.
            kept = []
            allowed, blocked = self._local_mask()
            for phrase, sc in scored:
                terms = phrase.split()
                d = self._local_match_set(terms, len(set(terms)))
                keep = kernels._apply_doc_masks(d, allowed, blocked)
                if len(d) if keep is None else keep.any():
                    kept.append((phrase, sc))
                    if len(kept) >= size:
                        break
            return self._frame(out_schema, kept)
        return self._frame(out_schema, scored[:size])

    def search_after(
        self,
        query_text: str,
        after: tuple[float, int],
        k: int = 10,
        where: str | None = None,
        mode: str = "bmw",
    ) -> DataFrame:
        """ES ``search_after`` deep pagination: the next ``k`` hits
        strictly after the cursor ``(score, doc_id)`` in the total order
        (score desc, doc_id asc).

        ``mode='bmw'`` (the default) reuses the block-max WAND kernel of
        :meth:`search` — the scorer the cursor came from — with a
        doubling top-K: run WAND top-kk, keep the rows strictly after the
        cursor; if fewer than ``k`` survive, quadruple kk and retry. The
        result is provably the true next page — every doc outside the
        WAND top-kk ranks below ALL kk returned rows, so it cannot
        displace any kept hit. Shallow-to-moderate pages stay on the
        pruned postings scan (cost ~pages·|q|·n_shards rows, on the
        driver when :meth:`search` places the query there) and only
        pathologically deep cursors degrade toward the score-all cost ES
        itself pays.

        ``mode='oracle'`` runs the declarative score-all path instead —
        every page re-scores the full match set as Spark jobs (ES pays
        the same deepening cost; its own docs route deep pages through
        search_after for exactly this reason)."""
        s0, d0 = float(after[0]), int(after[1])
        if mode == "bmw":
            n = int(self.meta["n_docs"]) or 1
            kk = max(4 * k, 40)
            while True:
                top = self.search(query_text, kk, mode="bmw", where=where).collect()
                nxt = [
                    r for r in top
                    if r["score"] < s0 or (r["score"] == s0 and r["doc_id"] > d0)
                ]
                if len(nxt) >= k or len(top) < kk or kk >= n:
                    break
                kk *= 4
            return self._frame(
                TOPK_SCHEMA, [(int(r["doc_id"]), float(r["score"])) for r in nxt[:k]]
            )
        scored = self.search_oracle(query_text, None, where=where)
        nxt = scored.filter(
            (F.col("score") < s0) | ((F.col("score") == s0) & (F.col("doc_id") > d0))
        )
        return nxt.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def function_score(
        self,
        query_text: str,
        field: str,
        k: int = 10,
        factor: float = 1.0,
        modifier: str = "none",
        missing: float = 1.0,
        boost_mode: str = "multiply",
        where: str | None = None,
    ) -> DataFrame:
        """ES ``function_score`` with a ``field_value_factor`` function:
        rescore every BM25 match by a per-document field value —
        ``fv = modifier(field · factor)`` (modifiers none | log1p | sqrt |
        square | reciprocal, ES's set), combined via ``boost_mode``
        (multiply — ES's default — | sum | min | max | avg | replace, the
        full ES enum). Nulls take ``missing``.

        Declarative end to end: the score-all path joins the (doc_id,
        field) projection of the doc store — one column-pruned join keyed
        on doc_id, then TopK; Catalyst owns the plan, so at 100 TB this is
        the BM25 agg plus one cheap join, not a rerank pass."""
        scored = self.search_oracle(query_text, None, where=where)
        fv = F.coalesce(F.col(field).cast("double"), F.lit(float(missing))) * F.lit(
            float(factor)
        )
        mods = {
            "none": lambda c: c,
            "log1p": lambda c: F.log1p(c),
            "sqrt": lambda c: F.sqrt(c),
            "square": lambda c: c * c,
            "reciprocal": lambda c: F.lit(1.0) / c,
        }
        if modifier not in mods:
            raise ValueError(f"unknown field_value_factor modifier: {modifier}")
        fv = mods[modifier](fv)
        docs = self._docs_df().select("doc_id", field)
        j = scored.join(docs, "doc_id")
        new_score = _boost_combine(F.col("score"), fv, boost_mode)
        return (
            j.select("doc_id", new_score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _function_value(self, spec: dict) -> "F.Column":
        """One function_score function spec → its per-doc value Column
        (weight already applied). Typed specs, ES's function set:

        * ``{"field_value_factor": {"field", "factor", "modifier",
          "missing"}}``
        * ``{"gauss"|"exp"|"linear": {"field", "origin", "scale",
          "decay", "offset"}}``
        * ``{"random_score": {"seed"}}`` — the portable (doc_id, seed)
          hash :meth:`random_score` uses
        * ``{"script_score": "<sql expr over doc columns>"}``
        * weight-only (none of the above): value = weight

        plus optional ``"weight"`` (default 1.0) on any of them."""
        import math

        w = float(spec.get("weight", 1.0))
        if "field_value_factor" in spec:
            f = spec["field_value_factor"]
            fv = F.coalesce(
                F.col(f["field"]).cast("double"), F.lit(float(f.get("missing", 1.0)))
            ) * F.lit(float(f.get("factor", 1.0)))
            mods = {
                "none": lambda c: c,
                "log1p": F.log1p,
                "sqrt": F.sqrt,
                "square": lambda c: c * c,
                "reciprocal": lambda c: F.lit(1.0) / c,
            }
            return F.lit(w) * mods[f.get("modifier", "none")](fv)
        for fn in ("gauss", "exp", "linear"):
            if fn in spec:
                f = spec[fn]
                origin, scale = float(f["origin"]), float(f["scale"])
                decay = float(f.get("decay", 0.5))
                offset = float(f.get("offset", 0.0))
                d = F.greatest(
                    F.lit(0.0),
                    F.abs(F.col(f["field"]).cast("double") - F.lit(origin))
                    - F.lit(offset),
                )
                if fn == "gauss":
                    sigma2 = -(scale**2) / (2.0 * math.log(decay))
                    mult = F.exp(-(d * d) / F.lit(2.0 * sigma2))
                elif fn == "exp":
                    mult = F.exp(F.lit(math.log(decay) / scale) * d)
                else:
                    s = scale / (1.0 - decay)
                    mult = F.greatest(F.lit(0.0), (F.lit(s) - d) / F.lit(s))
                return F.lit(w) * mult
        if "random_score" in spec:
            seed = int(spec["random_score"].get("seed", 0))
            key = F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(str(seed)))
            r = (
                F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double")
                / F.lit(4294967296.0)
            )
            return F.lit(w) * r
        if "script_score" in spec:
            return F.lit(w) * F.expr(spec["script_score"]).cast("double")
        return F.lit(w)  # weight-only function

    def function_score_multi(
        self,
        query_text: str,
        functions: list[dict],
        k: int = 10,
        score_mode: str = "sum",
        boost_mode: str = "multiply",
        where: str | None = None,
    ) -> DataFrame:
        """ES ``function_score`` with MULTIPLE functions — the full
        compound: each function optionally carries a ``"filter"`` (SQL
        over doc columns; non-matching docs skip that function, ES's
        filtered-function semantics) and a ``"weight"``; the values of
        the MATCHING functions combine via ``score_mode`` (multiply |
        sum | avg | max | min | first — ES's enum), and when NO function
        matches a doc the factor is 1.0 (ES: the query score passes
        through). The combined factor then meets the query score via
        ``boost_mode`` (:func:`_boost_combine`).

        Everything is row-level Column algebra on the score-all + one
        column-pruned doc join — the N functions add zero extra scans or
        shuffles at 100 TB."""
        specs = list(functions)
        if not specs:
            raise ValueError("function_score_multi needs at least one function")
        scored = self.search_oracle(query_text, None, where=where)
        j = scored.join(self._docs_df(), "doc_id")
        matches = [
            F.expr(s["filter"]) if s.get("filter") else F.lit(True) for s in specs
        ]
        vals = [
            F.when(m, self._function_value(s)).otherwise(F.lit(None).cast("double"))
            for m, s in zip(matches, specs)
        ]
        n_matched = sum(m.cast("int") for m in matches)
        if score_mode == "multiply":
            combined = vals[0] if len(vals) == 1 else F.coalesce(vals[0], F.lit(1.0))
            for v in vals[1:]:
                combined = combined * F.coalesce(v, F.lit(1.0))
        elif score_mode in ("sum", "avg"):
            total = F.coalesce(vals[0], F.lit(0.0))
            for v in vals[1:]:
                total = total + F.coalesce(v, F.lit(0.0))
            combined = total if score_mode == "sum" else total / n_matched
        elif score_mode == "max":
            combined = F.greatest(*vals) if len(vals) > 1 else vals[0]
        elif score_mode == "min":
            combined = F.least(*vals) if len(vals) > 1 else vals[0]
        elif score_mode == "first":
            combined = F.coalesce(*vals) if len(vals) > 1 else vals[0]
        else:
            raise ValueError(f"unknown function_score score_mode: {score_mode}")
        factor = F.when(n_matched == F.lit(0), F.lit(1.0)).otherwise(combined)
        new_score = _boost_combine(F.col("score"), factor, boost_mode)
        return (
            j.select("doc_id", new_score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def decay_score(
        self,
        query_text: str,
        field: str,
        origin: float,
        scale: float,
        k: int = 10,
        decay: float = 0.5,
        offset: float = 0.0,
        fn: str = "gauss",
        boost_mode: str = "multiply",
        where: str | None = None,
    ) -> DataFrame:
        """ES ``function_score`` decay functions (gauss | exp | linear):
        multiply each match's BM25 score by a distance decay of a numeric
        field from ``origin`` — ES's standard recency/proximity boost.
        Exactly ES's formulas: with ``d = max(0, |field − origin| −
        offset)``,

        * gauss:  ``exp(−d² / (2σ²))``, ``σ² = −scale²/(2·ln(decay))``
        * exp:    ``exp(λ·d)``, ``λ = ln(decay)/scale``
        * linear: ``max(0, (s − d)/s)``, ``s = scale/(1 − decay)``

        so a doc at distance ``scale`` gets exactly ``decay``. Same plan
        shape as field_value_factor: score-all + one column-pruned doc
        join + TopK — never a rerank pass."""
        import math

        scored = self.search_oracle(query_text, None, where=where)
        d = F.greatest(
            F.lit(0.0),
            F.abs(F.col(field).cast("double") - F.lit(float(origin))) - F.lit(float(offset)),
        )
        if fn == "gauss":
            sigma2 = -(float(scale) ** 2) / (2.0 * math.log(float(decay)))
            mult = F.exp(-(d * d) / F.lit(2.0 * sigma2))
        elif fn == "exp":
            lam = math.log(float(decay)) / float(scale)
            mult = F.exp(F.lit(lam) * d)
        elif fn == "linear":
            s = float(scale) / (1.0 - float(decay))
            mult = F.greatest(F.lit(0.0), (F.lit(s) - d) / F.lit(s))
        else:
            raise ValueError(f"unknown decay function: {fn}")
        docs = self._docs_df().select("doc_id", field)
        j = scored.join(docs, "doc_id")
        new_score = _boost_combine(F.col("score"), mult, boost_mode)
        return (
            j.select("doc_id", new_score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def random_score(
        self,
        query_text: str,
        seed: int = 0,
        k: int = 10,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``function_score`` random_score: a deterministic per-doc
        pseudo-random score in [0, 1) keyed on (seed, doc_id) — ES seeds
        on the doc's _id the same way so pagination stays consistent.
        Implemented as a JVM-side portable hash (md5 prefix → unit
        interval — the same cross-engine trick as ops/dedup.py's
        simhash); the BM25 match set only gates WHICH docs participate
        (ES: the query still selects, the function replaces the score)."""
        scored = self.search_oracle(query_text, None, where=where).select("doc_id")
        key = F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(str(int(seed))))
        r = (
            F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double")
            / F.lit(4294967296.0)
        )
        return (
            scored.select("doc_id", r.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def script_score(
        self,
        query_text: str,
        score_expr: str,
        k: int = 10,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``script_score``: replace each match's score with an
        arbitrary expression over the BM25 score (``_score``) and the
        document's fields — Painless swapped for a SQL expression, the
        Spark-native scripting surface (e.g.
        ``"_score * log1p(turn_idx)"``). The expression compiles into the
        plan (whole-stage codegen), so unlike ES's interpreted scripts it
        costs nothing per row at 100 TB beyond the one column-pruned doc
        join."""
        scored = self.search_oracle(query_text, None, where=where).withColumnRenamed(
            "score", "_score"
        )
        j = scored.join(self._docs_df(), "doc_id")
        return (
            j.select("doc_id", F.expr(score_expr).cast("double").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def get_docs(self, doc_ids: list[int]) -> DataFrame:
        """ES ``_mget``: fetch full documents by id, input order ignored,
        missing ids silently absent (ES marks them found=false; a left
        join would say the same). Tombstoned docs are not returned."""
        return self._live(F.col("doc_id").isin([int(d) for d in doc_ids])).orderBy("doc_id")

    def percolate_existing(
        self,
        doc_ids: list[int],
        queries: list[tuple[int, str]],
        operator: str = "or",
        minimum_should_match: int = 1,
        queries_meta: dict[int, dict] | None = None,
        query_where=None,
        size: int | None = None,
    ) -> DataFrame:
        """ES 1.x percolate-EXISTING-document
        (``GET /index/type/{id}/_percolate`` — the second percolate
        flavor the reference's ES 1.5.1 ships, ref pom.xml:22): the
        document is NOT shipped by the caller, it is the STORED
        ``_source``, fetched here by the zero-job pyarrow point read and
        then matched
        against the registered set by the ordinary broadcast percolate
        pass. Tombstoned / missing ids percolate nothing — the
        ``_mget`` contract, same as ES after a delete. Analysis uses
        THIS index's analyzer, so stored-doc analysis matches
        index-time analysis (the ES query/index symmetry invariant).
        Returns (doc_id, query_id, n_matched), doc_id asc, query_id
        asc — the single-doc percolate shape per requested id."""
        from kafka_elasticsearch_standalone_consumer_spark.query.percolate import (
            percolate,
        )

        analyzer = self.meta.get("analyzer", "standard")
        rows = self.get_docs_local(list(doc_ids))
        docs = self.spark.createDataFrame(
            [(int(r["doc_id"]), r.get("text")) for r in rows],
            "doc_id long, text string",
        )
        return percolate(
            docs,
            queries,
            operator=operator,
            minimum_should_match=minimum_should_match,
            analyzer=analyzer,
            queries_meta=queries_meta,
            query_where=query_where,
            size=size,
        )

    def search_collapse(
        self,
        query_text: str,
        collapse_by: str,
        k: int = 10,
        where: str | None = None,
    ) -> DataFrame:
        """ES field collapsing (``collapse``): the single best hit per
        ``collapse_by`` value (score desc, doc_id asc within the group),
        groups then ranked by their best hit. One window keyed on the
        collapse field — a single shuffle, no per-group jobs."""
        scored = self.search_oracle(query_text, None, where=where)
        docs = self._docs_df().select("doc_id", collapse_by)
        j = scored.join(docs, "doc_id")
        w = Window.partitionBy(collapse_by).orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(collapse_by, "doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_post_filter(
        self,
        query_text: str,
        post_filter: str,
        k: int = 10,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``post_filter``: score the FULL match set (corpus stats and
        any aggregation scope stay pre-filter — that is the entire point
        of post_filter vs a bool filter clause), then drop hits failing
        the predicate before the page is returned. Output carries
        ``total_prefilter`` — the unfiltered match count ES reports as
        ``hits.total`` alongside the filtered page.

        Plan shape: one declarative score-all, a column-pruned semi-join
        against the predicate's doc set for the page, and a count
        aggregate for the total — both sides reduce before anything wide
        moves, so this is two cheap passes at 100 TB, never a fetch of
        the unfiltered page."""
        scored = self.search_oracle(query_text, None, where=where)
        total = scored.agg(F.count("*").cast("long").alias("total_prefilter"))
        hits = (
            self._live(post_filter, frame=scored)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        return hits.crossJoin(total)

    def search_named(
        self,
        clauses: dict[str, str],
        k: int = 10,
        where: str | None = None,
    ) -> DataFrame:
        """ES named queries: a bool ``should`` where every clause carries
        ``_name``; each hit reports ``matched_queries`` — the sorted
        comma-joined names of the clauses that matched it (ES returns the
        same set as an array per hit). Scores are the ES bool-should sum
        of the per-clause BM25 scores.

        One pass: clause term plans are resolved driver-side (shared idf
        via _plan_terms), flattened to a broadcast (qname, term, idfw)
        map, and the tokens scan — pruned to the UNION of clause terms —
        is joined once; per-(doc, clause) rollup then per-doc rollup.
        Never one scan per clause."""
        rows = []
        for name in sorted(clauses):
            idfw_c, _ = self._plan_terms(clauses[name])
            rows += [(name, t, float(w)) for t, w in sorted(idfw_c.items())]
        schema = "doc_id long, score double, matched_queries string"
        if not rows:
            return self._frame(schema)
        tokens, doc_stats = self._oracle_tokens()
        qmap = self.spark.createDataFrame(rows, "qname string, term string, idfw double")
        all_terms = sorted({t for _, t, _ in rows})
        _dps, avgdl, k1, b = self._bm25()
        matched = (
            tokens.select("doc_id", "term", "tf")
            .filter(F.col("term").isin(all_terms))
            .join(F.broadcast(qmap), "term")
            .join(doc_stats, "doc_id")
            .withColumn(
                "contrib",
                F.col("idfw")
                * F.col("tf")
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
            )
        )
        per_clause = matched.groupBy("doc_id", "qname").agg(
            F.sum("contrib").alias("cscore")
        )
        return (
            self._live(where, frame=per_clause).groupBy("doc_id")
            .agg(
                F.sum("cscore").alias("score"),
                F.array_join(F.sort_array(F.collect_set("qname")), ",").alias(
                    "matched_queries"
                ),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def script_fields(self, hits: DataFrame, exprs: dict[str, str]) -> DataFrame:
        """ES ``script_fields``: per-hit computed fields attached at fetch
        time — Painless swapped for SQL expressions over the document's
        columns (same scripting surface as :meth:`script_score`). The
        expressions compile into the plan (whole-stage codegen) and run
        only on the fetched page: hits broadcast, doc scan column-pruned
        to the referenced fields."""
        j = self._docs_df().join(F.broadcast(hits), "doc_id")
        cols = [F.col(c) for c in hits.columns] + [
            F.expr(e).alias(n) for n, e in sorted(exprs.items())
        ]
        return j.select(*cols)

    def search_template(
        self, template: str, params: dict[str, object], k: int = 10
    ) -> DataFrame:
        """ES 1.x ``/_search/template``: render the mustache-style
        ``{{param}}`` placeholders with ``params`` and run the result
        through the query_string DSL (ES renders into the query body; the
        DSL string is this engine's query-body surface). Rendering is
        driver-side string work — the query itself keeps the DSL's plan."""
        from kafka_elasticsearch_standalone_consumer_spark.query.querystring import (
            render_template,
        )

        return self.query_string(render_template(template, params), k)

    def search_has_child(
        self,
        query_text: str,
        k: int = 10,
        score_mode: str = "max",
        min_children: int = 1,
        max_children: int | None = None,
        group_col: str = "conv_id",
        where: str | None = None,
    ) -> DataFrame:
        """ES ``has_child`` over the transcripts' natural parent/child
        shape (``conv_id`` parent, turns children): the top ``k``
        conversations ranked by an aggregate of their matching turns'
        BM25 scores — "conversations containing a matching turn", the
        first query a transcripts user reaches for. ES 1.x served this
        via parent/child mappings behind the same ``prepareIndex``
        boundary the reference delegates to (ref:
        ``MessageHandler.java:135-139``).

        ``score_mode``: max (ES default) | sum | avg | min | none (count
        matches, parents score 1.0). ``min_children`` / ``max_children``:
        parents whose matching-child count falls outside the band are
        dropped (ES 1.3's knobs of the same names; ``max_children=None``
        = unbounded). ``where`` filters the scored children like
        :meth:`search`.

        Plan shape: the declarative score-all BM25 aggregation → one
        column-pruned join to (doc_id, conv_id) → ONE groupBy on the
        parent key (map-side partial aggregation; key cardinality =
        n_conversations) → TakeOrderedAndProject. No window, no global
        sort — the same cost class as a terms aggregation at 100 TB.

        Returns (``group_col``, score, n_hits), score desc / parent asc.
        """
        fns = {"max": F.max, "sum": F.sum, "avg": F.avg, "min": F.min}
        if score_mode not in fns and score_mode != "none":
            raise ValueError(f"unknown has_child score_mode: {score_mode}")
        scored = self.search_oracle(query_text, None, where=where)
        docs = self._docs_df().select("doc_id", group_col)
        j = scored.join(docs, "doc_id")
        if score_mode == "none":
            grouped = j.groupBy(group_col).agg(
                F.count("*").cast("long").alias("n_hits")
            ).withColumn("score", F.lit(1.0))
        else:
            grouped = j.groupBy(group_col).agg(
                fns[score_mode]("score").alias("score"),
                F.count("*").cast("long").alias("n_hits"),
            )
        grouped = grouped.filter(F.col("n_hits") >= int(min_children))
        if max_children is not None:
            grouped = grouped.filter(F.col("n_hits") <= int(max_children))
        return (
            grouped.select(group_col, "score", "n_hits")
            .orderBy(F.desc("score"), F.asc(group_col))
            .limit(k)
        )

    def search_has_child_inner(
        self,
        query_text: str,
        k: int = 10,
        inner_k: int = 3,
        score_mode: str = "max",
        group_col: str = "conv_id",
        where: str | None = None,
    ) -> DataFrame:
        """ES 1.5.0 ``inner_hits`` on a ``has_child`` query: the top ``k``
        parent conversations (same ranking as :meth:`search_has_child`)
        each carrying their top ``inner_k`` matching child turns — "show
        me the best conversations AND the turns that made them match",
        flattened to one row per (parent, child) pair. ES 1.5 (the
        reference's exact ES line, ref: ``pom.xml:22``) introduced
        inner_hits precisely because has_child otherwise discards the
        child evidence.

        Children rank within their parent by BM25 score desc, doc_id asc
        (Lucene's tie order). Output (``group_col``, parent_score,
        child_doc_id, child_score, child_rank), ordered parent score
        desc / parent asc / child_rank asc.

        Plan shape: the score-all BM25 aggregation → one column-pruned
        join to the parent key → ONE parent groupBy +
        TakeOrderedAndProject for the top-k parents (exactly
        has_child's cost) → the ≤k parent rows BROADCAST back against
        the scored children, so the per-parent row_number window runs
        over only the survivors' children — never a global window. At
        10^12 turns the added cost over has_child is one broadcast
        probe of the match set.
        """
        fns = {"max": F.max, "sum": F.sum, "avg": F.avg, "min": F.min}
        if score_mode not in fns:
            raise ValueError(f"unknown has_child score_mode: {score_mode}")
        scored = self.search_oracle(query_text, None, where=where)
        j = scored.join(self._docs_df().select("doc_id", group_col), "doc_id")
        parents = (
            j.groupBy(group_col)
            .agg(fns[score_mode]("score").alias("parent_score"))
            .orderBy(F.desc("parent_score"), F.asc(group_col))
            .limit(k)
        )
        w = Window.partitionBy(group_col).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            j.join(F.broadcast(parents), group_col)
            .withColumn("child_rank", F.row_number().over(w))
            .filter(F.col("child_rank") <= int(inner_k))
            .select(
                group_col,
                "parent_score",
                F.col("doc_id").alias("child_doc_id"),
                F.col("score").alias("child_score"),
                "child_rank",
            )
            .orderBy(
                F.desc("parent_score"), F.asc(group_col), F.asc("child_rank")
            )
        )

    def search_has_parent(
        self,
        query_text: str,
        k: int = 10,
        group_col: str = "conv_id",
        where: str | None = None,
    ) -> DataFrame:
        """ES ``has_parent`` (default ``score=false``): every child turn
        belonging to a conversation that contains ≥1 matching turn —
        "give me the whole conversation around any hit", constant score
        1.0, first ``k`` by doc_id (the deterministic unscored order,
        same as the constant_score multi-term rewrites).

        Declarative: the live filtered match set (one term-pruned tokens
        scan) → distinct parent keys → one left-semi join back to the doc
        store on the parent key. Two aggregation-sized shuffles keyed on
        conv_id; the doc-store scan is column-pruned and never widens."""
        scoped = self._agg_scope(query_text, where, 1)
        if scoped is None:
            return self._frame(
                f"doc_id long, {group_col} string, score double"
            )
        groups = scoped.select(group_col).distinct()
        return (
            self._live().join(groups, group_col, "left_semi")
            .select("doc_id", group_col, F.lit(1.0).alias("score"))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def children_agg(
        self,
        query_text: str,
        parents: DataFrame,
        bucket_by: str,
        parent_key: str = "conv_id",
        metric: str | None = None,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES ``children`` aggregation (1.4+): buckets over a PARENT
        field, each stepping into the bucket's matching CHILD docs — the
        parent/child counterpart of :meth:`nested_terms_agg` and the agg
        face of :meth:`search_has_child`. ``parents`` is the parent-side
        table carrying (``parent_key``, ``bucket_by``); the child scope
        is the live filtered match set of ``query_text`` (same
        ``_agg_scope`` as every aggregation).

        Output (bucket, n_children[, avg_v of the SQL ``metric``
        expression]) in ES terms-agg order (count desc, bucket asc).

        Plan shape: term-pruned match-set scan → column-pruned join
        children→parents keyed on the parent key (at 10^12 turns vs
        10^10 conversations neither side broadcasts — a standard shuffle
        join on the corpus's natural conv partitioning, AQE picks the
        strategy) → ONE groupBy on the bucket value (map-side partial
        agg, key cardinality = parent-field vocabulary)."""
        schema = "bucket string, n_children long" + (
            ", avg_v double" if metric is not None else ""
        )
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame(schema)
        joined = scoped.join(
            parents.select(
                parent_key, F.col(bucket_by).cast("string").alias("bucket")
            ),
            parent_key,
        )
        agg_cols = [F.count("*").cast("long").alias("n_children")]
        if metric is not None:
            agg_cols.append(F.round(F.avg(F.expr(metric)), 6).alias("avg_v"))
        return (
            joined.groupBy("bucket")
            .agg(*agg_cols)
            .orderBy(F.desc("n_children"), F.asc("bucket"))
        )

    def search_nested(
        self,
        query_text: str,
        k: int = 10,
        *,
        nested_col: str,
        inner_where: str,
        score_mode: str = "avg",
        inner_score: str | None = None,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``nested`` query: the document store carries an
        array-of-struct column (``nested_col``) — ES 1.x's nested field
        type, mapped behind the same ``prepareIndex`` boundary the
        reference delegates documents through (ref:
        ``MessageHandler.java:135-139``) — and a document matches only if
        AT LEAST ONE nested object satisfies ``inner_where`` as a whole.
        That per-object scoping is the entire point of ``nested`` vs a
        flattened object field: ``x.a = 1 AND x.b = 2`` must hold inside
        the SAME object, so a doc with one object {a:1,b:9} and another
        {a:0,b:2} does NOT match (a flattened index would false-match it).

        ``inner_where`` is a SQL boolean over the object ``x`` (e.g.
        ``x.event_type = 'error' AND x.value >= 9``). ``inner_score`` is
        an optional SQL double over ``x`` scored per matching object
        (default 1.0 — Lucene's constant-score filter rewrite);
        ``score_mode`` rolls matching objects up into the clause score:
        avg (ES default) | sum | max | min | none (clause contributes 0).
        With ``query_text`` non-empty the clause sits in a bool must next
        to the parent text match (scores add, both must match); empty
        ``query_text`` is a nested-only query.

        Plan shape: the nested clause compiles to higher-order Column
        functions (``filter``/``transform``/``aggregate`` over the array)
        — a per-row predicate fused into the column-pruned doc scan by
        whole-stage codegen, NO explode and NO shuffle; the only exchange
        is the doc_id equi-join against the scored match set. At 10^12
        turns the clause costs one scan of (doc_id, nested_col).
        """
        if score_mode not in ("avg", "sum", "max", "min", "none"):
            raise ValueError(f"unknown nested score_mode: {score_mode}")
        matched = f"filter({nested_col}, x -> ({inner_where}))"
        scores = (
            f"transform({matched}, x -> CAST({inner_score or '1.0'} AS DOUBLE))"
        )
        total = f"aggregate({scores}, CAST(0 AS DOUBLE), (a, v) -> a + v)"
        nexpr = {
            "sum": total,
            "avg": f"{total} / size({scores})",
            "max": f"array_max({scores})",
            "min": f"array_min({scores})",
            "none": "CAST(0 AS DOUBLE)",
        }[score_mode]
        nested = (
            self._live(where).filter(F.expr(f"size({matched}) >= 1"))
            .select("doc_id", F.expr(nexpr).alias("nscore"))
        )
        if not self._analyze(query_text or ""):
            # nested-only query: the clause score IS the score
            return (
                nested.select("doc_id", F.col("nscore").alias("score"))
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
        scored = self.search_oracle(query_text, None)
        return (
            scored.join(nested, "doc_id")
            .select("doc_id", (F.col("score") + F.col("nscore")).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_nested_inner(
        self,
        query_text: str,
        k: int = 10,
        inner_k: int = 3,
        *,
        nested_col: str,
        inner_where: str,
        inner_score: str | None = None,
        score_mode: str = "avg",
        where: str | None = None,
    ) -> DataFrame:
        """ES 1.5.0 ``inner_hits`` on a ``nested`` query: the top ``k``
        documents of :meth:`search_nested` (same query, same score), each
        carrying its top ``inner_k`` MATCHING nested objects ranked by
        their per-object score — the nested-object evidence ES 1.5 added
        inner_hits to surface (reference ES line, ref: ``pom.xml:22``).

        Inner hits rank by ``inner_score`` desc with ties broken by array
        position asc (the array is stored sorted, so position order is a
        stable document order — Lucene's inner-hit tie rule). Output
        (doc_id, score, inner_rank, iscore, hit) where ``hit`` is the
        nested object struct; one row per surfaced object, ordered parent
        score desc / doc_id asc / inner_rank asc.

        Plan shape: :meth:`search_nested`'s plan for the top-k parents,
        then the ≤k parent rows BROADCAST against the column-pruned doc
        scan; ranking/slicing the matching objects is pure higher-order
        Column algebra (filter → transform-with-index → array_sort →
        slice) fused into that single probe, and only the ≤ k×inner_k
        surviving objects ever explode into rows. No window, no extra
        shuffle beyond search_nested's own.
        """
        top = self.search_nested(
            query_text,
            k,
            nested_col=nested_col,
            inner_where=inner_where,
            score_mode=score_mode,
            inner_score=inner_score,
            where=where,
        )
        iscore = inner_score or "1.0"
        matched = f"filter({nested_col}, x -> ({inner_where}))"
        ranked = (
            f"array_sort(transform({matched}, (x, i) -> "
            f"struct(CAST({iscore} AS DOUBLE) AS iscore, i AS pos, x AS hit)), "
            "(l, r) -> CASE WHEN l.iscore > r.iscore THEN -1 "
            "WHEN l.iscore < r.iscore THEN 1 "
            "WHEN l.pos < r.pos THEN -1 ELSE 1 END)"
        )
        docs = self._docs_df().select("doc_id", nested_col)
        return (
            docs.join(F.broadcast(top), "doc_id")
            .select(
                "doc_id",
                "score",
                F.posexplode(F.expr(f"slice({ranked}, 1, {int(inner_k)})")).alias(
                    "ipos", "ranked"
                ),
            )
            .select(
                "doc_id",
                "score",
                (F.col("ipos") + 1).cast("int").alias("inner_rank"),
                F.col("ranked.iscore").alias("iscore"),
                F.col("ranked.hit").alias("hit"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("inner_rank"))
        )

    def nested_agg(
        self,
        query_text: str,
        nested_col: str,
        bucket_by: str,
        metric: str | None = None,
        inner_where: str | None = None,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES ``nested`` aggregation (+ implicit ``reverse_nested``): step
        from the matching documents INTO their nested objects, bucket by a
        nested field, and report per bucket the nested-doc count, the
        distinct PARENT count (what ES's reverse_nested sub-agg answers:
        "how many documents", not "how many objects"), and optionally the
        avg of a SQL ``metric`` over the object ``x``. ``inner_where``
        optionally pre-filters the objects (an ES filter sub-agg under
        nested). Output in ES terms-agg order (count desc, bucket asc).

        Plan shape: term-pruned match-set scan → ONE explode of the array
        column (bounded per-row blowup = objects/doc, no join) → ONE
        groupBy on the bucket value with map-side partial aggregation.
        The distinct-parent count rides the same shuffle keyed by bucket.
        """
        schema = "bucket string, n_nested long, n_parents long" + (
            ", avg_v double" if metric is not None else ""
        )
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame(schema)
        arr = (
            f"filter({nested_col}, x -> ({inner_where}))"
            if inner_where is not None
            else nested_col
        )
        exploded = scoped.select("doc_id", F.explode(F.expr(arr)).alias("x"))
        agg_cols = [
            F.count("*").cast("long").alias("n_nested"),
            F.countDistinct("doc_id").cast("long").alias("n_parents"),
        ]
        if metric is not None:
            agg_cols.append(F.round(F.avg(F.expr(metric)), 6).alias("avg_v"))
        return (
            exploded.groupBy(
                F.expr(f"CAST(x.{bucket_by} AS STRING)").alias("bucket")
            )
            .agg(*agg_cols)
            .orderBy(F.desc("n_nested"), F.asc("bucket"))
        )

    def reverse_nested_agg(
        self,
        query_text: str,
        nested_col: str,
        bucket_by: str,
        parent_metric: str,
        inner_where: str | None = None,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES explicit ``reverse_nested`` aggregation: nested-terms
        buckets (step INTO the objects, bucket by a nested field), then
        step BACK OUT to the parent documents and aggregate a
        PARENT-side SQL metric over each bucket's distinct parents —
        "for every tool name, the average length of the documents that
        used it". :meth:`nested_agg`'s ``n_parents`` answers only the
        reverse_nested COUNT; this is the general metric form, where a
        parent contributes once per bucket no matter how many of its
        objects land there (ES's join-back-to-root semantics).

        Output (bucket, n_parents, avg_parent_v) ordered parent-count
        desc, bucket asc. ``parent_metric`` is SQL over the parent row's
        columns; ``inner_where`` pre-filters objects like
        :meth:`nested_agg`.

        Plan shape: term-pruned match-set scan → ONE explode (bounded
        blowup = objects/doc) → distinct on (bucket, parent) — the
        dedup shuffle that IS reverse_nested's semantics — → ONE groupBy
        on bucket. No join back to the doc store: the parent metric is
        computed before the explode and rides the nested rows."""
        schema = "bucket string, n_parents long, avg_parent_v double"
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame(schema)
        arr = (
            f"filter({nested_col}, x -> ({inner_where}))"
            if inner_where is not None
            else nested_col
        )
        pairs = (
            scoped.select(
                "doc_id",
                F.expr(parent_metric).cast("double").alias("pv"),
                F.explode(F.expr(arr)).alias("x"),
            )
            .select(
                F.expr(f"CAST(x.{bucket_by} AS STRING)").alias("bucket"),
                "doc_id",
                "pv",
            )
            .distinct()  # pv is a function of doc_id → one row per (bucket, parent)
        )
        return (
            pairs.groupBy("bucket")
            .agg(
                F.count("*").cast("long").alias("n_parents"),
                F.round(F.avg("pv"), 6).alias("avg_parent_v"),
            )
            .orderBy(F.desc("n_parents"), F.asc("bucket"))
        )

    @staticmethod
    def _haversine_sql(lat_col: str, lon_col: str, lat: float, lon: float) -> str:
        """Great-circle distance (km) from (``lat_col``, ``lon_col``) to a
        fixed origin as a SQL expression — pure trig Column algebra that
        whole-stage codegen fuses into the doc scan (the same formula ES
        1.x's ``geo_distance`` arc computation uses; R = mean earth
        radius)."""
        return (
            f"2 * 6371.0088 * asin(sqrt("
            f"pow(sin(radians({lat_col} - ({float(lat)})) / 2), 2) + "
            f"cos(radians({lat_col})) * cos(radians({float(lat)})) * "
            f"pow(sin(radians({lon_col} - ({float(lon)})) / 2), 2)))"
        )

    def search_geo_distance(
        self,
        query_text: str,
        k: int = 10,
        *,
        origin: tuple[float, float],
        radius_km: float,
        lat_col: str = "lat",
        lon_col: str = "lon",
        where: str | None = None,
    ) -> DataFrame:
        """ES ``geo_distance`` filter around a text match: docs within
        ``radius_km`` of ``origin`` (haversine), scored by BM25 with
        GLOBAL corpus statistics — a filter-context clause, exactly like
        every other ``where=``. The distance predicate compiles into the
        column-pruned doc scan (two doubles per row, no shuffle beyond
        the ordinary filter semi-join); ES 1.x served this from the same
        mapping boundary the reference delegated documents through
        (ref: ``MessageHandler.java:135-139``)."""
        geo = f"{self._haversine_sql(lat_col, lon_col, *origin)} <= {float(radius_km)}"
        combined = geo if where is None else f"({geo}) AND ({where})"
        return self.search(query_text, k, where=combined)

    def search_geo_distance_range(
        self,
        query_text: str,
        k: int = 10,
        *,
        origin: tuple[float, float],
        from_km: float | None = None,
        to_km: float | None = None,
        lat_col: str = "lat",
        lon_col: str = "lon",
        where: str | None = None,
    ) -> DataFrame:
        """ES ``geo_distance_range`` filter (the annulus): docs whose
        haversine distance from ``origin`` lies in [from_km, to_km], both
        bounds inclusive like ES's default ``include_lower``/``include_upper``
        and either side open when omitted. Same filter-context shape as
        :meth:`search_geo_distance` — the trig is computed once per row
        inside codegen and compared against both constants."""
        if from_km is None and to_km is None:
            raise ValueError("geo_distance_range needs from_km and/or to_km")
        d = self._haversine_sql(lat_col, lon_col, *origin)
        parts = []
        if from_km is not None:
            parts.append(f"{d} >= {float(from_km)}")
        if to_km is not None:
            parts.append(f"{d} <= {float(to_km)}")
        geo = " AND ".join(parts)
        combined = geo if where is None else f"({geo}) AND ({where})"
        return self.search(query_text, k, where=combined)

    def search_geo_bbox(
        self,
        query_text: str,
        k: int = 10,
        *,
        top_left: tuple[float, float],
        bottom_right: tuple[float, float],
        lat_col: str = "lat",
        lon_col: str = "lon",
        where: str | None = None,
    ) -> DataFrame:
        """ES ``geo_bounding_box`` filter: four range comparisons fused
        into the doc scan (no trig at all). Boxes crossing the antimeridian
        are rejected loudly rather than silently matching nothing."""
        (top, left), (bottom, right) = top_left, bottom_right
        if left > right:
            raise ValueError(
                "bounding box crosses the antimeridian; split it into two boxes"
            )
        geo = (
            f"{lat_col} <= {float(top)} AND {lat_col} >= {float(bottom)} AND "
            f"{lon_col} >= {float(left)} AND {lon_col} <= {float(right)}"
        )
        combined = geo if where is None else f"({geo}) AND ({where})"
        return self.search(query_text, k, where=combined)

    def geo_distance_agg(
        self,
        query_text: str,
        *,
        origin: tuple[float, float],
        bounds_km: list[float],
        lat_col: str = "lat",
        lon_col: str = "lon",
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES ``geo_distance`` aggregation: ring buckets of haversine
        distance from ``origin`` over the live match set —
        ``bounds_km=[b1, b2]`` yields ``*-b1``, ``b1-b2``, ``b2-*`` with
        doc counts, ES range-agg labeling and ordering (bucket asc by
        lower bound). One scan + one groupBy on the ring label; the trig
        runs inside codegen, never a UDF."""
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("range_label string, n long")
        dist = F.expr(self._haversine_sql(lat_col, lon_col, *origin))
        bounds = [float(b) for b in bounds_km]
        label = F.when(dist < bounds[0], F.lit(f"*-{bounds[0]}"))
        for lo, hi in zip(bounds, bounds[1:]):
            label = label.when(dist < hi, F.lit(f"{lo}-{hi}"))
        label = label.otherwise(F.lit(f"{bounds[-1]}-*"))
        order_key = F.when(dist < bounds[0], F.lit(0.0))
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            order_key = order_key.when(dist < hi, F.lit(lo))
        order_key = order_key.otherwise(F.lit(bounds[-1]))
        return (
            scoped.select(label.alias("range_label"), order_key.alias("_lo"))
            .groupBy("range_label", "_lo")
            .agg(F.count("*").cast("long").alias("n"))
            .orderBy(F.asc("_lo"))
            .select("range_label", "n")
        )

    GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"

    @classmethod
    def geohash_col(
        cls, lat_col: str, lon_col: str, precision: int = 5
    ) -> "F.Column":
        """Standard base-32 geohash of (lat, lon) as PURE Column algebra —
        cell indices by scaling, bit interleave (even bits longitude from
        the MSB, odd latitude), 5-bit groups mapped through the geohash
        alphabet. ~5·precision integer ops per row, all inside
        whole-stage codegen; no UDF. ``precision ≤ 12`` (ES's own cap);
        the interleaved value fits int64 for every legal precision."""
        if not 1 <= int(precision) <= 12:
            raise ValueError("geohash precision must be in 1..12")
        p = int(precision)
        total = 5 * p
        lon_bits = (total + 1) // 2
        lat_bits = total // 2
        x = F.least(
            F.floor((F.col(lon_col) + 180.0) / 360.0 * float(1 << lon_bits)),
            F.lit(float((1 << lon_bits) - 1)),
        ).cast("long")
        y = F.least(
            F.floor((F.col(lat_col) + 90.0) / 180.0 * float(1 << lat_bits)),
            F.lit(float((1 << lat_bits) - 1)),
        ).cast("long")
        inter = F.lit(0).cast("long")
        for i in range(total):  # i = position from the MSB
            if i % 2 == 0:
                src, src_bit = x, lon_bits - 1 - i // 2
            else:
                src, src_bit = y, lat_bits - 1 - i // 2
            bit = F.shiftright(src, src_bit).bitwiseAND(F.lit(1))
            inter = inter + F.shiftleft(bit, total - 1 - i)
        chars = F.array(*[F.lit(c) for c in cls.GEOHASH_ALPHABET])
        return F.concat(
            *[
                F.element_at(
                    chars,
                    (
                        F.shiftright(inter, 5 * (p - 1 - j)).bitwiseAND(F.lit(31))
                        + F.lit(1)
                    ).cast("int"),
                )
                for j in range(p)
            ]
        )

    def geohash_grid_agg(
        self,
        query_text: str,
        precision: int = 5,
        lat_col: str = "lat",
        lon_col: str = "lon",
        size: int | None = None,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES ``geohash_grid`` aggregation (1.4+): bucket the match set by
        geohash cell at ``precision``, count per cell, ES ordering (count
        desc, key asc), optional ``size`` cap like ES's shard_size. One
        scan + ONE groupBy whose key cardinality is bounded by the live
        cell count — the canonical map-tile heat-map query."""
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("geohash string, n long")
        out = (
            scoped.select(
                self.geohash_col(lat_col, lon_col, precision).alias("geohash")
            )
            .groupBy("geohash")
            .agg(F.count("*").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("geohash"))
        )
        return out.limit(int(size)) if size is not None else out

    @staticmethod
    def _point_in_polygon_sql(
        lat_sql: str, lon_sql: str, polygon: list[tuple[float, float]]
    ) -> str:
        """Divisionless ray-casting point-in-polygon as a portable SQL
        boolean (crossing-number parity, the same planar lat/lon test ES
        1.x's ``geo_polygon`` filter runs per doc). Each non-horizontal
        edge contributes one CASE term; the quotient test
        ``px < x1 + (py-y1)(x2-x1)/(y2-y1)`` is cleared of the division
        (sign folded at compile time) so Spark and DuckDB evaluate the
        byte-identical float arithmetic — no engine-specific
        divide-by-zero semantics can diverge. Only ``*``/``-``/``<`` and
        boolean equality appear, so the string runs verbatim in both."""
        if len(polygon) < 3:
            raise ValueError("polygon needs >= 3 vertices")
        pts = [(float(la), float(lo)) for la, lo in polygon]
        if pts[0] != pts[-1]:
            pts.append(pts[0])
        terms = []
        for (y1, x1), (y2, x2) in zip(pts, pts[1:]):
            if y1 == y2:
                continue  # horizontal edge: the straddle test is always false
            dy, dx = y2 - y1, x2 - x1
            op = "<" if dy > 0 else ">"
            cross = (
                f"((({lon_sql}) - ({x1!r})) * ({dy!r}) - "
                f"(({lat_sql}) - ({y1!r})) * ({dx!r})) {op} 0"
            )
            straddle = (
                f"(({y1!r}) > ({lat_sql})) <> (({y2!r}) > ({lat_sql}))"
            )
            terms.append(
                f"CASE WHEN ({straddle}) AND ({cross}) THEN 1 ELSE 0 END"
            )
        if not terms:
            raise ValueError("degenerate polygon: every edge is horizontal")
        return f"(({' + '.join(terms)}) % 2 = 1)"

    def search_geo_polygon(
        self,
        query_text: str,
        k: int = 10,
        *,
        polygon: list[tuple[float, float]],
        lat_col: str = "lat",
        lon_col: str = "lon",
        where: str | None = None,
    ) -> DataFrame:
        """ES ``geo_polygon`` filter around a text match: docs strictly
        inside the (lat, lon) vertex ring, filter context (BM25 stats
        stay global). The crossing-parity predicate is a constant-folded
        Column expression fused into the column-pruned doc scan — ~4
        float ops per edge per row inside whole-stage codegen, no UDF,
        no shuffle beyond the ordinary filter semi-join."""
        geo = self._point_in_polygon_sql(lat_col, lon_col, polygon)
        combined = geo if where is None else f"({geo}) AND ({where})"
        return self.search(query_text, k, where=combined)

    def geo_shape_where(
        self,
        shape: dict,
        relation: str = "intersects",
        lat_col: str = "lat",
        lon_col: str = "lon",
    ) -> str:
        """Compile an ES 1.x ``geo_shape`` query (GeoJSON-style payload,
        LON-FIRST coordinates) against geo_point doc fields into a SQL
        predicate. Point fields make the relation algebra simple:
        ``within`` ≡ ``intersects`` (a point intersects a shape iff it
        lies within it) and ``disjoint`` is the complement; ``contains``
        is meaningless for points and raises. Supported shape types:

        - ``envelope``: ``[[minLon, maxLat], [maxLon, minLat]]`` — four
          range comparisons, no trig (the geo_bounding_box plan).
        - ``circle``: center + ``radius`` ("6000km"/"250m"/plain metres,
          the ES unit grammar subset) — one haversine per row.
        - ``polygon``: single outer ring (holes raise loudly) — the
          crossing-parity predicate of :meth:`search_geo_polygon`.
        - ``point``: exact coordinate equality.

        Everything stays a constant-folded Column expression fused into
        the doc scan; reference parity: the reference delegates all query
        semantics to ES 1.5 (MessageHandler.java posts raw bulk JSON)."""
        return self._geo_shape_pred(shape, relation, lat_col, lon_col)

    @staticmethod
    def _parse_geo_radius_km(radius) -> float:
        """ES unit grammar subset: "6000km"/"250m"/"10mi"/bare metres."""
        if isinstance(radius, str):
            r = radius.strip().lower()
            if r.endswith("km"):
                return float(r[:-2])
            if r.endswith("mi"):
                return float(r[:-2]) * 1.609344
            if r.endswith("m"):
                return float(r[:-1]) / 1000.0
            return float(r) / 1000.0  # ES default unit: metres
        return float(radius) / 1000.0

    def _geo_shape_pred(
        self,
        shape: dict,
        relation: str,
        lat_col: str,
        lon_col: str,
    ) -> str:
        typ = str(shape.get("type", "")).lower()
        coords = shape.get("coordinates")
        if typ == "envelope":
            (min_lon, max_lat), (max_lon, min_lat) = coords
            if float(min_lon) > float(max_lon):
                raise ValueError(
                    "envelope crosses the antimeridian; split it into two"
                )
            pred = (
                f"{lat_col} <= {float(max_lat)} AND {lat_col} >= {float(min_lat)} "
                f"AND {lon_col} >= {float(min_lon)} AND {lon_col} <= {float(max_lon)}"
            )
        elif typ == "circle":
            lon, lat = coords
            radius_km = self._parse_geo_radius_km(shape.get("radius", 0.0))
            d = self._haversine_sql(lat_col, lon_col, float(lat), float(lon))
            pred = f"{d} <= {radius_km}"
        elif typ == "polygon":
            if len(coords) != 1:
                raise ValueError("polygon holes are not supported")
            ring = [(float(lat), float(lon)) for lon, lat in coords[0]]
            if len(ring) >= 2 and ring[0] == ring[-1]:
                ring = ring[:-1]  # GeoJSON closes the ring; the parity scan doesn't
            pred = self._point_in_polygon_sql(lat_col, lon_col, ring)
        elif typ == "point":
            lon, lat = coords
            pred = f"{lat_col} = {float(lat)} AND {lon_col} = {float(lon)}"
        else:
            raise ValueError(f"unsupported geo_shape type: {shape.get('type')!r}")
        rel = relation.lower()
        if rel in ("intersects", "within"):
            return pred
        if rel == "disjoint":
            return f"NOT ({pred})"
        raise ValueError(
            f"unsupported geo_shape relation for point fields: {relation!r}"
        )

    def search_geo_shape(
        self,
        query_text: str,
        k: int = 10,
        *,
        shape: dict,
        relation: str = "intersects",
        lat_col: str = "lat",
        lon_col: str = "lon",
        where: str | None = None,
    ) -> DataFrame:
        """ES ``geo_shape`` query in filter context (BM25 stats stay
        global): the shape compiles via :meth:`geo_shape_where` and fuses
        into the column-pruned doc scan like every other geo filter."""
        geo = self.geo_shape_where(shape, relation, lat_col, lon_col)
        combined = geo if where is None else f"({geo}) AND ({where})"
        return self.search(query_text, k, where=combined)

    # ---- geo_shape over INDEXED shape fields (per-document polygons) ----

    @staticmethod
    def shape_ring_contains_point_sql(
        ring_sql: list[tuple[str, str]], lon: float, lat: float
    ) -> str:
        """Crossing-parity point-in-polygon where the POLYGON is per-row:
        ``ring_sql`` is one (lon_sql, lat_sql) SQL-expression pair per
        vertex (GeoJSON lon-first; ring closed implicitly), e.g. accessors
        into a stored ``array<struct<lon,lat>>`` column, and the POINT is
        the constant query coordinate — the role-reversal of
        :meth:`_point_in_polygon_sql`, whose compile-time edge-direction
        folding is impossible here because each row's edge slopes differ.
        The quotient test is cleared of the division with the sign resolved
        at RUNTIME instead: edge crossing iff the straddle test passes AND
        (dy > 0 AND cross < 0) OR (dy < 0 AND cross > 0), with
        ``cross = (px-x1)·dy − (py-y1)·dx``. Only ``*``/``-``/``<``/``>``
        and boolean ops appear, so the string runs verbatim in Spark and
        DuckDB with byte-identical float arithmetic. A horizontal edge
        fails straddle for every point, contributing 0 — same geometry as
        the compile-time skip in the constant-polygon form."""
        if len(ring_sql) < 3:
            raise ValueError("polygon needs >= 3 vertices")
        px, py = float(lon), float(lat)
        verts = list(ring_sql) + [ring_sql[0]]
        terms = []
        for (x1, y1), (x2, y2) in zip(verts, verts[1:]):
            dy = f"(({y2}) - ({y1}))"
            cross = (
                f"((({px!r}) - ({x1})) * {dy} - "
                f"(({py!r}) - ({y1})) * (({x2}) - ({x1})))"
            )
            straddle = f"((({y1}) > ({py!r})) <> (({y2}) > ({py!r})))"
            crossing = (
                f"({straddle} AND (({dy} > 0 AND {cross} < 0) "
                f"OR ({dy} < 0 AND {cross} > 0)))"
            )
            terms.append(f"CASE WHEN {crossing} THEN 1 ELSE 0 END")
        return f"(({' + '.join(terms)}) % 2 = 1)"

    def geo_shape_indexed_where(
        self,
        ring_sql: list[tuple[str, str]],
        point: tuple[float, float],
        relation: str = "intersects",
    ) -> str:
        """ES 1.x ``geo_shape`` against an INDEXED shape field: each doc
        stores its own polygon ring (``ring_sql`` — per-vertex (lon_sql,
        lat_sql) accessors into the stored representation) and the query
        supplies a GeoJSON point (lon, lat). Relations for a point query
        against polygon docs: ``intersects`` ≡ ``contains`` (the doc
        shape intersects a point iff it contains it), ``disjoint`` is the
        complement, and ``within`` (doc shape inside a point) is
        degenerate and raises. ES 1.x resolves this with prefix-tree terms
        (approximate); this predicate is the exact planar test fused into
        the doc scan — no UDF, no shuffle. Reference parity: the reference
        delegates all query semantics to ES 1.5
        (MessageHandler.java:135-139 posts raw bulk JSON)."""
        lon, lat = float(point[0]), float(point[1])
        pred = self.shape_ring_contains_point_sql(ring_sql, lon, lat)
        rel = relation.lower()
        if rel in ("intersects", "contains"):
            return pred
        if rel == "disjoint":
            return f"NOT ({pred})"
        raise ValueError(
            f"unsupported geo_shape relation for a point query against "
            f"polygon docs: {relation!r}"
        )

    def search_geo_shape_indexed(
        self,
        query_text: str,
        k: int = 10,
        *,
        ring_sql: list[tuple[str, str]],
        point: tuple[float, float],
        relation: str = "intersects",
        where: str | None = None,
    ) -> DataFrame:
        """ES ``geo_shape`` query over per-document shapes in filter
        context (BM25 stats stay global): the point-in-doc-shape parity
        predicate fuses into the column-pruned doc scan like every other
        geo filter."""
        geo = self.geo_shape_indexed_where(ring_sql, point, relation)
        combined = geo if where is None else f"({geo}) AND ({where})"
        return self.search(query_text, k, where=combined)

    # ---- geohash driver-side reference codec (bisection form) ----

    @classmethod
    def geohash_encode(cls, lat: float, lon: float, precision: int) -> str:
        """Textbook bisection geohash encoder — the driver-side reference
        twin of :meth:`geohash_col` (the Column encoder is proven equal
        to this form in tests). Used to turn a query point into its cell
        string for ``geohash_cell``."""
        if not 1 <= int(precision) <= 12:
            raise ValueError("geohash precision must be in 1..12")
        lat_lo, lat_hi, lon_lo, lon_hi = -90.0, 90.0, -180.0, 180.0
        bits: list[int] = []
        even = True
        while len(bits) < 5 * int(precision):
            if even:
                mid = (lon_lo + lon_hi) / 2
                if lon >= mid:
                    bits.append(1)
                    lon_lo = mid
                else:
                    bits.append(0)
                    lon_hi = mid
            else:
                mid = (lat_lo + lat_hi) / 2
                if lat >= mid:
                    bits.append(1)
                    lat_lo = mid
                else:
                    bits.append(0)
                    lat_hi = mid
            even = not even
        out = []
        for g in range(0, len(bits), 5):
            v = 0
            for b in bits[g : g + 5]:
                v = (v << 1) | b
            out.append(cls.GEOHASH_ALPHABET[v])
        return "".join(out)

    @classmethod
    def geohash_decode_box(cls, cell: str) -> tuple[float, float, float, float]:
        """(lat_lo, lat_hi, lon_lo, lon_hi) bounding box of a geohash
        cell — bisection replayed from the cell's bits."""
        lat_lo, lat_hi, lon_lo, lon_hi = -90.0, 90.0, -180.0, 180.0
        even = True
        for ch in cell:
            v = cls.GEOHASH_ALPHABET.index(ch)
            for i in range(4, -1, -1):
                bit = (v >> i) & 1
                if even:
                    mid = (lon_lo + lon_hi) / 2
                    if bit:
                        lon_lo = mid
                    else:
                        lon_hi = mid
                else:
                    mid = (lat_lo + lat_hi) / 2
                    if bit:
                        lat_lo = mid
                    else:
                        lat_hi = mid
                even = not even
        return lat_lo, lat_hi, lon_lo, lon_hi

    @classmethod
    def geohash_neighbors(cls, cell: str) -> list[str]:
        """The <= 8 adjacent cells at the same precision (fewer at the
        poles), via decode-center -> offset by one cell width/height ->
        re-encode: robust at longitude wrap, no lookup tables."""
        lat_lo, lat_hi, lon_lo, lon_hi = cls.geohash_decode_box(cell)
        clat, clon = (lat_lo + lat_hi) / 2, (lon_lo + lon_hi) / 2
        dlat, dlon = lat_hi - lat_lo, lon_hi - lon_lo
        out = set()
        for dy in (-1, 0, 1):
            nlat = clat + dy * dlat
            if not -90.0 <= nlat <= 90.0:
                continue  # no cell beyond the poles
            for dx in (-1, 0, 1):
                if dy == 0 and dx == 0:
                    continue
                nlon = ((clon + dx * dlon + 180.0) % 360.0) - 180.0
                out.add(cls.geohash_encode(nlat, nlon, len(cell)))
        out.discard(cell)
        return sorted(out)

    @classmethod
    def geohash_cell_int(cls, cell: str) -> int:
        """A geohash cell as its interleaved integer (5 bits/char,
        big-endian) — precision-p cell membership becomes ONE int64
        equality against the row's interleave, no string building."""
        v = 0
        for ch in cell:
            v = (v << 5) | cls.GEOHASH_ALPHABET.index(ch)
        return v

    @classmethod
    def _geohash_int_sql(
        cls, lat_sql: str, lon_sql: str, precision: int
    ) -> str:
        """The interleaved geohash integer at ``precision`` as a Spark
        SQL scalar — the same scale/clamp/interleave arithmetic as
        :meth:`geohash_col`, stopping before the base-32 string (integer
        ops only, exact)."""
        if not 1 <= int(precision) <= 12:
            raise ValueError("geohash precision must be in 1..12")
        p = int(precision)
        total = 5 * p
        lon_bits = (total + 1) // 2
        lat_bits = total // 2
        x = (
            f"CAST(least(floor((({lon_sql}) + 180.0) / 360.0 * "
            f"{float(1 << lon_bits)!r}), {float((1 << lon_bits) - 1)!r}) AS BIGINT)"
        )
        y = (
            f"CAST(least(floor((({lat_sql}) + 90.0) / 180.0 * "
            f"{float(1 << lat_bits)!r}), {float((1 << lat_bits) - 1)!r}) AS BIGINT)"
        )
        terms = []
        for i in range(total):  # i = position from the MSB
            if i % 2 == 0:
                src, src_bit = x, lon_bits - 1 - i // 2
            else:
                src, src_bit = y, lat_bits - 1 - i // 2
            terms.append(
                f"shiftleft(shiftright({src}, {src_bit}) & 1, {total - 1 - i})"
            )
        return f"({' + '.join(terms)})"

    def search_geohash_cell(
        self,
        query_text: str,
        k: int = 10,
        *,
        point: tuple[float, float],
        precision: int = 5,
        neighbors: bool = False,
        lat_col: str = "lat",
        lon_col: str = "lon",
        where: str | None = None,
    ) -> DataFrame:
        """ES ``geohash_cell`` filter (1.4+): docs in the same geohash
        cell as ``point`` at ``precision`` (optionally + the adjacent
        cells, ES's ``neighbors: true``). The <= 9 target cells are
        resolved DRIVER-side with the bisection codec; per row only the
        integer interleave runs (~5·precision int ops in codegen) and
        membership is an int64 IN over constants — no string building,
        no UDF, filter context as always."""
        lat, lon = point
        cell = self.geohash_encode(float(lat), float(lon), precision)
        cells = [cell] + (self.geohash_neighbors(cell) if neighbors else [])
        ints = sorted(self.geohash_cell_int(c) for c in cells)
        geo = (
            f"{self._geohash_int_sql(lat_col, lon_col, precision)} IN "
            f"({', '.join(str(v) for v in ints)})"
        )
        combined = geo if where is None else f"({geo}) AND ({where})"
        return self.search(query_text, k, where=combined)

    def geo_bounds_agg(
        self,
        query_text: str,
        lat_col: str = "lat",
        lon_col: str = "lon",
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES ``geo_bounds`` aggregation (1.3+): the smallest lat/lon box
        enclosing every matching document, reported ES-style as top_left
        (max lat, min lon) / bottom_right (min lat, max lon). One scan,
        one 4-accumulator partial agg, a single result row — the
        cheapest aggregation in the family at any scale."""
        schema = (
            "top_left_lat double, top_left_lon double, "
            "bottom_right_lat double, bottom_right_lon double"
        )
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame(schema)
        # explicit DOUBLE: a decimal-typed geo column would otherwise make
        # round() return DECIMAL (Spark's literal-typing trap) and the
        # box would surface as decimals instead of doubles
        la = F.col(lat_col).cast("double")
        lo = F.col(lon_col).cast("double")
        # ES omits "bounds" when no matching doc has a geo point; the
        # global agg's one all-null row is that case — drop it (1-row filter)
        return scoped.agg(
            F.round(F.max(la), 6).alias("top_left_lat"),
            F.round(F.min(lo), 6).alias("top_left_lon"),
            F.round(F.min(la), 6).alias("bottom_right_lat"),
            F.round(F.max(lo), 6).alias("bottom_right_lon"),
        ).where(F.col("top_left_lat").isNotNull())

    def search_geo_distance_sort(
        self,
        query_text: str,
        k: int = 10,
        *,
        origin: tuple[float, float],
        ascending: bool = True,
        lat_col: str = "lat",
        lon_col: str = "lon",
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES ``_geo_distance`` sort: the k matching docs nearest to
        (farthest from) ``origin``, haversine km as the sort key —
        scoring skipped entirely like every ES field sort. Ordering and
        ties use the km value ROUNDED to 4 decimals (sub-meter) so the
        ranking is stable under last-ulp libm differences across
        engines; ties break by doc_id asc. Plan: term-pruned match set →
        trig in codegen → TakeOrderedAndProject (per-partition top-k +
        k-row merge, never a global sort)."""
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("doc_id long, dist_km double")
        dist = F.round(
            F.expr(self._haversine_sql(lat_col, lon_col, *origin)), 4
        ).alias("dist_km")
        order = F.asc("dist_km") if ascending else F.desc("dist_km")
        return (
            scoped.select("doc_id", dist)
            .orderBy(order, F.asc("doc_id"))
            .limit(k)
        )

    def search_nested_sort(
        self,
        query_text: str,
        k: int = 10,
        *,
        nested_col: str,
        sort_expr: str,
        inner_where: str | None = None,
        mode: str = "max",
        ascending: bool = False,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES sort-by-nested-field (the 1.x sort spec's ``mode`` +
        ``nested_filter``): the k matching docs ordered by ``mode`` (max |
        min | avg | sum) of ``sort_expr`` over the nested objects that
        satisfy ``inner_where`` — per-object scoping like
        :meth:`search_nested`, scoring skipped entirely like every ES
        field sort. Docs whose array has NO matching object sort LAST in
        either direction (ES ``missing: _last`` default), key NULL. The
        sort key is ROUNDED to 4 decimals before ordering (the
        geo-distance-sort rule) so float accumulation order can never
        reorder engines; ties break by doc_id asc.

        Plan shape: term-pruned match set → higher-order array functions
        fused into the column-pruned doc scan (no explode, no extra
        shuffle) → TakeOrderedAndProject."""
        if mode not in ("max", "min", "avg", "sum"):
            raise ValueError(f"unknown nested sort mode: {mode}")
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("doc_id long, sort_v double")
        matched = f"filter({nested_col}, x -> ({inner_where or 'true'}))"
        vals = f"transform({matched}, x -> CAST({sort_expr} AS DOUBLE))"
        total = f"aggregate({vals}, CAST(0 AS DOUBLE), (a, v) -> a + v)"
        keyed = {
            "max": f"array_max({vals})",
            "min": f"array_min({vals})",
            "avg": f"IF(size({vals}) = 0, NULL, {total} / size({vals}))",
            "sum": f"IF(size({vals}) = 0, NULL, {total})",
        }[mode]
        key_col = F.round(F.expr(keyed), 4).alias("sort_v")
        order = (
            F.asc_nulls_last("sort_v") if ascending else F.desc_nulls_last("sort_v")
        )
        return (
            scoped.select("doc_id", key_col)
            .orderBy(order, F.asc("doc_id"))
            .limit(k)
        )

    def search_sort(
        self,
        query_text: str,
        sort_by: str,
        k: int = 10,
        ascending: bool = False,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES ``sort``-by-field search: the top ``k`` matching documents
        ordered by a document field instead of relevance (ES skips
        scoring entirely when a field sort replaces ``_score``; so do we
        — no BM25 work at all). Ties break by doc_id asc, ES's
        deterministic tiebreak. ``sort_by`` accepts any SQL expression,
        not just a field name — that IS the ES 1.x ``_script`` sort
        (script fields over doc values), compiled into codegen instead
        of interpreted per row.

        Declarative: term-pruned match set → semi-join the (doc_id,
        expression) projection → TakeOrderedAndProject on the computed
        key. No global sort — at 100 TB this is a per-partition top-k +
        a k-row merge on the driver side of the exchange."""
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            return self._frame("doc_id long, sort_value double")
        proj = scoped.select(
            "doc_id", F.expr(sort_by).cast("double").alias("sort_value")
        )
        order = F.asc("sort_value") if ascending else F.desc("sort_value")
        return proj.orderBy(order, F.asc("doc_id")).limit(k)

    def search_common_terms(
        self,
        query_text: str,
        k: int = 10,
        cutoff_frequency: float = 0.01,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``common`` (common_terms) query: query terms are split by
        document frequency at ``cutoff_frequency`` (fraction of the
        corpus). LOW-frequency terms *select* — a doc must contain at
        least one — while HIGH-frequency terms only *score* docs already
        selected (ES 1.x's dynamic stopword strategy: "the brown fox"
        never scans the "the" postings list for selection).

        The split is planned driver-side from the broadcast term_stats
        (tiny); docs then come from a low-term-pruned match set — at
        100 TB the selection scan touches only the SHORT postings lists,
        which is the entire point of the operator — and the score-all
        aggregation over all query terms is semi-joined down to it.
        With no low-frequency term, ES scores everything: plain BM25."""
        terms = sorted(set(self._analyze(query_text)))
        if not terms:
            return self._frame(TOPK_SCHEMA)
        n_docs = float(self.meta["n_docs"]) or 1.0
        dfs = {
            r["term"]: float(r["df"])
            for r in self.term_stats.filter(F.col("term").isin(terms))
            .select("term", "df")
            .collect()
        }
        low = [t for t in terms if dfs.get(t, 0.0) / n_docs <= cutoff_frequency]
        scored = self.search_oracle(query_text, None, where=where)
        if low and len(low) < len(terms):
            scored = scored.join(self._match_set(low, 1), "doc_id", "left_semi")
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search_boosting(
        self,
        positive: str,
        negative: str,
        negative_boost: float = 0.2,
        k: int = 10,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``boosting`` query: docs matching the ``positive`` query
        keep their BM25 score unless they also match the ``negative``
        query, in which case the score is multiplied by
        ``negative_boost`` (demoted, never excluded — the difference
        from a ``must_not`` clause).

        Declarative: the score-all path for the positive query, a
        term-pruned match set for the negative terms, one left-semi-
        shaped left join to flag demotions, TopK. The negative side never
        scores — membership only — so its cost is a pruned tokens scan +
        one aggregation regardless of corpus width."""
        scored = self.search_oracle(positive, None, where=where)
        neg_terms = sorted(set(self._analyze(negative)))
        if neg_terms:
            neg = self._match_set(neg_terms, 1).withColumn("neg", F.lit(True))
            scored = scored.join(neg, "doc_id", "left").select(
                "doc_id",
                F.when(
                    F.col("neg"), F.col("score") * F.lit(float(negative_boost))
                ).otherwise(F.col("score")).alias("score"),
            )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def rescore(
        self,
        query_text: str,
        rescore_phrase: str,
        k: int = 10,
        window_size: int = 50,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
        slop: int = 0,
        where: str | None = None,
    ) -> DataFrame:
        """ES ``rescore``: rerank the top ``window_size`` BM25 hits by
        adding a match_phrase score — ``query_weight·bm25 +
        rescore_weight·phrase`` for window docs (docs without the phrase
        keep their weighted BM25 score, ES's default score_mode=total).

        This is the canonical precision pattern: the cheap pruned WAND
        pass fetches the window, the expensive positional query runs
        ONCE over it. Requires a positions index."""
        base = self.search(query_text, window_size, where=where)
        phrase = self.search_phrase_oracle(rescore_phrase, None, slop=slop).select(
            "doc_id", F.col("score").alias("p_score")
        )
        combined = F.lit(float(query_weight)) * F.col("score") + F.lit(
            float(rescore_weight)
        ) * F.coalesce(F.col("p_score"), F.lit(0.0))
        return (
            base.join(phrase, "doc_id", "left")
            .select("doc_id", combined.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def significant_terms(
        self,
        query_text: str,
        size: int = 10,
        min_doc_count: int = 1,
        where: str | None = None,
        min_should_match: int = 1,
        background_where: str | None = None,
        heuristic: str = "jlh",
    ) -> DataFrame:
        """ES significant_terms over the indexed text: terms over-represented
        in the foreground (docs matching the query, post-filter) versus the
        background (all live docs), scored with ES's JLH heuristic
        ``(fg% − bg%) · (fg% / bg%)`` on distinct-doc frequencies; only
        terms with fg% > bg% qualify (ES's positive-signal rule).

        ``background_where`` is ES 1.x's ``background_filter``: it narrows
        the BACKGROUND statistics scope (bg counts and bg size) without
        touching the foreground match set — "significant vs my category"
        instead of "significant vs the whole corpus".

        ``heuristic`` selects the scoring function (ES 1.4 added pluggable
        significance heuristics next to the JLH default — the reference's
        ES 1.5.1, ``ref:pom.xml:22``, ships all four):

        - ``"jlh"`` (default): ``(fg% − bg%) · (fg% / bg%)``.
        - ``"mutual_information"``: pointwise MI of the 2×2 contingency
          table, Manning et al. *Introduction to Information Retrieval*
          §13.5.1 (the formula ES's docs cite), in bits (log2), with the
          0·log 0 = 0 convention. Background is the superset (ES's
          ``background_is_superset=true``): N = bg_size, N11 = fg_n,
          N1. = fg_size, N.1 = bg_n.
        - ``"chi_square"``: Manning §13.5.2,
          ``N·(N11·N00 − N10·N01)² / (N1.·N.1·N0.·N.0)``.
        - ``"gnd"``: Google Normalized Distance (Cilibrasi & Vitányi 2007,
          the paper ES's docs cite): ``gnd = (max(ln fg_size, ln bg_n) −
          ln fg_n) / (ln N − min(ln fg_size, ln bg_n))``; reported as
          ``exp(−gnd)`` so larger = more significant (documented transform
          choice — ES 1.x also maps the distance onto an ascending score).
        - ``"percentage"`` (ES 1.5.0, the reference's exact minor): the
          fraction of the term's documents that are in the foreground,
          ``fg_n / bg_n`` — ONE IEEE division of two exact
          integers-as-doubles, bit-identical cross-engine.

        ES applies ``include_negatives=false`` by default to the NXY
        heuristics; we keep the same positive-signal qualifier
        (fg% > bg%) across all four, which is that default.

        Plan shape: one distinct over the (doc_id, term) token stream
        feeds BOTH frequency sides (foreground via a left-semi join on the
        match set), the two one-row size aggregates are broadcast — so the
        cost at 100 TB is the token-stream aggregation Catalyst already
        does for df stats, not a per-term loop. Returns
        (term, fg_n, bg_n, score_r) — score desc, term asc, top ``size``.
        """
        terms = sorted(set(self._analyze(query_text)))
        out_schema = "term string, fg_n long, bg_n long, score_r double"
        if not terms:
            return self._frame(out_schema)
        fg = self._live(where, allowed=self._match_set(terms, min_should_match)).select("doc_id")
        bg = self._live(background_where).select("doc_id")
        toks = self._live(frame=self._tokens_df()).distinct()
        fg_counts = (
            toks.join(fg, "doc_id", "left_semi")
            .groupBy("term")
            .agg(F.count("*").cast("long").alias("fg_n"))
        )
        bg_counts = (
            toks.join(bg, "doc_id", "left_semi")
            .groupBy("term")
            .agg(F.count("*").cast("long").alias("bg_n"))
        )
        sizes = fg.agg(F.count("*").cast("double").alias("fg_size")).crossJoin(
            bg.agg(F.count("*").cast("double").alias("bg_size"))
        )
        j = fg_counts.join(bg_counts, "term").crossJoin(F.broadcast(sizes))
        fg_pct = F.col("fg_n") / F.col("fg_size")
        bg_pct = F.col("bg_n") / F.col("bg_size")
        # 2x2 contingency table, background-is-superset framing (doubles);
        # the score expressions live in _significance_score, shared with
        # the field-values variant so both agg flavors score identically.
        score = _significance_score(
            heuristic,
            F.col("bg_size"),
            F.col("fg_n").cast("double"),
            F.col("fg_size"),
            F.col("bg_n").cast("double"),
        )
        scored = j.filter(
            (fg_pct > bg_pct) & (F.col("fg_n") >= int(min_doc_count))
        ).select(
            "term",
            "fg_n",
            "bg_n",
            F.round(score, 6).alias("score_r"),
        )
        return scored.orderBy(F.desc("score_r"), F.asc("term")).limit(size)

    def significant_terms_field(
        self,
        query_text: str,
        field: str,
        size: int = 10,
        min_doc_count: int = 1,
        where: str | None = None,
        min_should_match: int = 1,
        heuristic: str = "jlh",
    ) -> DataFrame:
        """ES significant_terms over a METADATA field (ES 1.x runs the agg
        on any field, not just analyzed text): field values
        over-represented among the docs matching the query versus the
        whole live corpus — "which languages/roles/tools are distinctive
        for this query". NULL field values are skipped (ES terms-agg
        missing-value behavior). Same 2×2 heuristics, same
        positive-signal fg% > bg% qualifier, same output shape as
        :meth:`significant_terms` with the field value in ``term``
        (cast to string).

        Plan shape: the match set joins the docs scan ONCE, two
        field-keyed aggregations + broadcast 1-row sizes — cheaper than
        the text variant (no token explosion)."""
        terms = sorted(set(self._analyze(query_text)))
        out_schema = "term string, fg_n long, bg_n long, score_r double"
        if not terms:
            return self._frame(out_schema)
        def values(docs: DataFrame) -> DataFrame:
            v = F.col(field).cast("string")
            return docs.filter(v.isNotNull()).select("doc_id", v.alias("v"))

        live = values(self._live())
        fg = values(self._live(where, allowed=self._match_set(terms, min_should_match)))
        fg_counts = fg.groupBy("v").agg(F.count("*").cast("long").alias("fg_n"))
        bg_counts = live.groupBy("v").agg(F.count("*").cast("long").alias("bg_n"))
        sizes = fg.agg(F.count("*").cast("double").alias("fg_size")).crossJoin(
            live.agg(F.count("*").cast("double").alias("bg_size"))
        )
        j = fg_counts.join(bg_counts, "v").crossJoin(F.broadcast(sizes))
        fg_pct = F.col("fg_n") / F.col("fg_size")
        bg_pct = F.col("bg_n") / F.col("bg_size")
        score = _significance_score(
            heuristic,
            F.col("bg_size"),
            F.col("fg_n").cast("double"),
            F.col("fg_size"),
            F.col("bg_n").cast("double"),
        )
        scored = j.filter(
            (fg_pct > bg_pct) & (F.col("fg_n") >= int(min_doc_count))
        ).select(
            F.col("v").alias("term"),
            "fg_n",
            "bg_n",
            F.round(score, 6).alias("score_r"),
        )
        return scored.orderBy(F.desc("score_r"), F.asc("term")).limit(size)

    def _oracle_tokens(self) -> tuple[DataFrame, DataFrame]:
        """(tokens(doc_id, term, tf), doc_stats(doc_id, dl)) for the
        declarative scoring paths: the memoized segment unions."""
        return self._tokens_all.select("doc_id", "term", "tf"), self._doc_lengths

    def search_oracle(
        self,
        query_text: str,
        k: int | None = 10,
        where: str | None = None,
        min_should_match: "int | str" = 1,
    ) -> DataFrame:
        """Verification path: pure DataFrame BM25 over the tokens table.
        ``where``/``min_should_match`` restrict the returned doc set
        (left-semi joins) with global stats — same as search().
        ``k=None`` returns the FULL unranked score set (used by clause
        composition, e.g. query_string's term+phrase sum). A string
        ``min_should_match`` runs the ES spec parser (see search)."""
        min_should_match = self._msm(min_should_match, query_text)
        tokens, doc_stats = self._oracle_tokens()
        idfw, _buckets = self._plan_terms(query_text)
        _dps, avgdl, k1, b = self._bm25()
        scores = bm25.bm25_scores_oracle(
            tokens,
            self.term_stats,
            doc_stats,
            query_text,
            n_docs=self.meta["n_docs"],
            avgdl=avgdl,
            k1=k1,
            b=b,
            idfw=idfw or None,
            analyzer=self.meta.get("analyzer", "standard"),
        )
        matched = None
        if min_should_match > 1:
            terms = sorted(set(self._analyze(query_text)))
            if min_should_match > len(terms):
                return self._frame(TOPK_SCHEMA)
            matched = self._match_set(terms, min_should_match)
        scores = self._live(where, frame=scores, allowed=matched)
        return scores if k is None else bm25.topk(scores, k)

    def search_similarity(
        self,
        query_text: str,
        k: int = 10,
        similarity: str = "classic",
        mu: float = 2000.0,
        lam: float = 0.1,
    ) -> DataFrame:
        """ES 1.x per-field similarity modules: score the same match set
        under a ranking model other than BM25 — the ``similarity``
        mapping knob ES 1.5 exposes (the reference's ES line, ref:
        ``pom.xml:22``; BM25 there is opt-in, these are the others).

        * ``classic`` — Lucene's practical TF-IDF (ES 1.x DEFAULT):
          coord(m/|q|) · Σ √tf · idf² / √dl with idf = 1 + ln(n/(df+1)).
          queryNorm is omitted: it is constant per query and cannot
          change ranking (documented deviation).
        * ``lm_dirichlet`` — Dirichlet-smoothed query likelihood
          (Zhai & Lafferty 2001; Lucene LMDirichletSimilarity):
          Σ_matched ln(1 + tf/(μ·p_t)) + |q|·ln(μ/(dl+μ)) with
          p_t = cf_t/total (collection frequency, not df).
        * ``lm_jm`` — Jelinek-Mercer smoothing:
          Σ_matched ln(1 + ((1-λ)/λ)·(tf/dl)/p_t).
        * ``dfr_inl2`` — Divergence From Randomness (Amati & van
          Rijsbergen 2002; Lucene DFRSimilarity with basic model I(n),
          after-effect L, normalization H2, c=1):
          tfn = tf·log2(1 + avgdl/dl), then
          Σ (tfn/(1+tfn)) · log2((N+1)/(df+0.5)).
        * ``ib_ll`` — Information-Based (Clinchant & Gaussier 2010;
          Lucene IBSimilarity, log-logistic distribution, lambda=DF,
          normalization H2): λ_t = (df+1)/(N+1), same tfn, then
          Σ −log2(λ_t/(λ_t+tfn)).

        Rank-determinism contract: scores involve ln (last-ulp skew
        across libms), so cross-engine assertions must round to 4 dp
        BEFORE ordering (the geo-sort rule); ties break doc_id asc.
        avgdl is recomputed as total_tokens/n_docs — ONE IEEE division
        of two exact integers-as-doubles, bit-identical cross-engine
        (never the meta avgdl·n product, which is ulp-off). Deleted docs
        never rank: the score set passes :meth:`_live` before the top-k,
        while the corpus statistics stay frozen like every surface's.

        Plan shape: identical to the BM25 oracle — term-pruned tokens
        scan, broadcast per-term stats (plus one term-keyed cf
        aggregation over the SAME pruned scan for the LM models), one
        doc-keyed aggregation, TakeOrderedAndProject. Corpus-scale cost
        is unchanged from search_oracle.
        """
        if similarity not in ("classic", "lm_dirichlet", "lm_jm", "dfr_inl2", "ib_ll"):
            raise ValueError(f"unknown similarity: {similarity}")
        tokens, doc_stats = self._oracle_tokens()
        terms = sorted(set(self._analyze(query_text)))
        if not terms:
            return self._frame(TOPK_SCHEMA)
        nq = float(len(terms))
        matched = tokens.filter(F.col("term").isin(terms)).select(
            "doc_id", "term", F.col("tf").cast("double").alias("tf")
        )
        mu_l = F.lit(float(mu))
        if similarity == "classic":
            n = F.lit(float(self.meta["n_docs"]))
            stats = self.term_stats.filter(F.col("term").isin(terms)).select(
                "term", F.col("df").cast("double").alias("df")
            )
            idf = F.lit(1.0) + F.log(n / (F.col("df") + F.lit(1.0)))
            j = (
                matched.join(F.broadcast(stats), "term")
                .join(doc_stats.select("doc_id", F.col("dl").cast("double").alias("dl")), "doc_id")
                .withColumn(
                    "contrib", F.sqrt(F.col("tf")) * idf * idf / F.sqrt(F.col("dl"))
                )
            )
            scores = j.groupBy("doc_id").agg(
                (
                    (F.count("*").cast("double") / F.lit(nq)) * F.sum("contrib")
                ).alias("score")
            )
        elif similarity in ("dfr_inl2", "ib_ll"):
            n = float(self.meta["n_docs"])
            total = float(
                doc_stats.agg(F.sum(F.col("dl").cast("double"))).collect()[0][0]
            )
            # ONE IEEE division of two exact integers-as-doubles — the
            # oracle recomputes the same division on the same operands.
            avgdl = F.lit(total / n)
            stats = self.term_stats.filter(F.col("term").isin(terms)).select(
                "term", F.col("df").cast("double").alias("df")
            )
            j = matched.join(F.broadcast(stats), "term").join(
                doc_stats.select(
                    "doc_id", F.col("dl").cast("double").alias("dl")
                ),
                "doc_id",
            )
            # math.log(2), correctly rounded — a shared float LITERAL in
            # both engines so log2 = ln/LN2 has no ln(2) libm seam.
            ln2 = F.lit(0.6931471805599453)
            tfn = F.col("tf") * (
                F.log(F.lit(1.0) + avgdl / F.col("dl")) / ln2
            )
            if similarity == "dfr_inl2":
                contrib = (tfn / (F.lit(1.0) + tfn)) * (
                    F.log(
                        (F.lit(n) + F.lit(1.0)) / (F.col("df") + F.lit(0.5))
                    )
                    / ln2
                )
            else:  # ib_ll
                lam = (F.col("df") + F.lit(1.0)) / (F.lit(n) + F.lit(1.0))
                contrib = -(F.log(lam / (lam + tfn)) / ln2)
            scores = j.groupBy("doc_id").agg(F.sum(contrib).alias("score"))
        else:
            total = float(
                doc_stats.agg(F.sum(F.col("dl").cast("double"))).collect()[0][0]
            )
            cf = matched.groupBy("term").agg(
                F.sum("tf").cast("double").alias("cf")
            )
            j = matched.join(F.broadcast(cf), "term").join(
                doc_stats.select(
                    "doc_id", F.col("dl").cast("double").alias("dl")
                ),
                "doc_id",
            )
            if similarity == "lm_dirichlet":
                part = F.log(
                    F.lit(1.0)
                    + (F.col("tf") * F.lit(total)) / (mu_l * F.col("cf"))
                )
                scores = (
                    j.groupBy("doc_id", "dl")
                    .agg(F.sum(part).alias("s"))
                    .select(
                        "doc_id",
                        (
                            F.col("s")
                            + F.lit(nq) * F.log(mu_l / (F.col("dl") + mu_l))
                        ).alias("score"),
                    )
                )
            else:  # lm_jm
                ratio = F.lit((1.0 - float(lam)) / float(lam))
                part = F.log(
                    F.lit(1.0)
                    + ratio
                    * (F.col("tf") * F.lit(total))
                    / (F.col("dl") * F.col("cf"))
                )
                scores = j.groupBy("doc_id").agg(F.sum(part).alias("score"))
        return self._live(frame=scores).orderBy(
            F.desc(F.round(F.col("score"), 4)), F.asc("doc_id")
        ).limit(k)

    def search_params(
        self, query_text: str, k: int = 10, *, k1: float, b: float
    ) -> DataFrame:
        """ES 1.x tunable BM25 similarity parameters — the ``similarity``
        mapping setting (``{"type": "BM25", "k1": ..., "b": ...}``) the
        reference's ES 1.5 exposes per field (ref MessageHandler.java
        delegates mapping/search to ES).

        Runs the DECLARATIVE score-all path with the overridden
        constants. The posting lists' block-max impacts are baked with
        the index's build-time (k1, b), so BMW pruning is deliberately
        NOT used here — pruning against impacts computed under different
        constants would be unsound (could prune a block whose true upper
        bound under the query's k1/b is higher). Plan shape = search_oracle:
        term-pruned tokens scan, broadcast per-term stats, ONE doc-keyed
        aggregation, TakeOrderedAndProject — same corpus-scale cost.

        Scores stay raw doubles (BM25 arithmetic is bit-identical
        cross-engine when the constants are shared decimal literals);
        ties break doc_id asc."""
        tokens, doc_stats = self._oracle_tokens()
        scores = bm25.bm25_scores_oracle(
            tokens,
            self.term_stats,
            doc_stats,
            query_text,
            n_docs=self.meta["n_docs"],
            avgdl=self._bm25()[1],
            k1=float(k1),
            b=float(b),
            analyzer=self.meta.get("analyzer", "standard"),
        )
        return bm25.topk(self._live(frame=scores), k)

    def count(
        self,
        query_text: str = "",
        where: str | None = None,
        min_should_match: "int | str" = 1,
    ) -> DataFrame:
        """ES 1.x ``_count`` API (also ``search_type=count``): the number
        of live, filtered documents matching ≥ ``min_should_match``
        distinct analyzed query terms — no fetch, no scoring, no top-k.
        An empty / all-stopword query counts every live doc (ES
        ``match_all`` default). Returns one row ``total`` (long).
        Reference parity: the reference delegates the search API family
        to ES 1.5 (ref MessageHandler.java:135-139).

        Scale shape: the match set is the same term-pruned tokens scan +
        one aggregation every agg runs over (:meth:`_agg_scope`); the
        count itself is a partial-agg reduce — nothing is fetched, no
        window, no sort. A string ``min_should_match`` runs the ES spec
        parser (see search)."""
        min_should_match = self._msm(min_should_match, query_text)
        scoped = self._agg_scope(query_text, where, min_should_match)
        if scoped is None:
            scoped = self._live(where)
        return scoped.agg(F.count("*").cast("long").alias("total"))

    def count_local(
        self,
        query_text: str = "",
        where: list[tuple] | None = None,
        min_should_match: int = 1,
    ) -> int:
        """Zero-Spark-job twin of :meth:`count`: pruned postings decode
        for the match set, then :meth:`_local_mask` with the filter and
        the tombstones — same semantics, returns the bare int. ``where``
        is the serving-path ``(col, op, value)`` tuple surface."""
        terms = sorted(set(self._analyze(query_text)))
        if not terms:  # match_all: every doc the filter keeps
            allowed, _ = self._local_mask(where or [])
            return int(allowed.size)
        if min_should_match > len(terms):
            return 0
        allowed, _ = self._local_mask(where, self._local_match_set(terms, min_should_match))
        return int(allowed.size)

    def search_terminate_after(
        self,
        query_text: str,
        k: int = 10,
        *,
        terminate_after: int,
        where: str | None = None,
        min_should_match: int = 1,
    ) -> DataFrame:
        """ES 1.4 ``terminate_after``: every SHARD stops collecting after
        ``terminate_after`` matching documents. Lucene collects in index
        order, so the eligible set is exactly the first N matching
        doc_ids of each shard — deterministic, not sampled — and the
        response carries ES's ``terminated_early`` flag (true iff some
        shard actually hit the cap). Scoring statistics stay GLOBAL (the
        cap limits collection, not idf/avgdl).

        Declarative shape: the full tombstone-masked score set gets ONE
        shard-keyed window (hash-partitioned on the shard id, never
        SinglePartition) for the per-shard collection rank; the global
        flag is a 1-row aggregate broadcast back (the accepted 1-row
        crossJoin pattern). Returns (doc_id, score, terminated_early),
        score desc / doc_id asc, top k."""
        if terminate_after < 1:
            raise ValueError("terminate_after must be ≥ 1")
        from pyspark.sql import Window

        dps = self._bm25()[0]
        scores = self.search_oracle(
            query_text, None, where=where, min_should_match=min_should_match
        ).withColumn("shard", F.expr(f"doc_id DIV {dps}"))
        w = Window.partitionBy("shard").orderBy(F.asc("doc_id"))
        ranked = scores.withColumn("rn", F.row_number().over(w))
        flag = ranked.groupBy("shard").agg(F.count("*").alias("c")).agg(
            (F.max("c") > int(terminate_after)).alias("terminated_early")
        )
        hits = (
            ranked.filter(F.col("rn") <= int(terminate_after))
            .select("doc_id", "score")
            .crossJoin(F.broadcast(flag))
        )
        return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))


# -- filtered aliases ---------------------------------------------------------

def _filters_to_sql(filters: list[tuple]) -> str:
    """Compile a conjunction of ``(col, op, value)`` tuples — the same
    surface :meth:`Index._local_mask` takes — into a Spark SQL boolean,
    each op spelled as in :data:`_FILTER_OPS` and checked by
    :func:`_filter_op`. One filter definition serves BOTH execution paths:
    tuples go verbatim to the pyarrow serving twins (through
    :meth:`Index._local_mask`), and through here to every distributed
    ``where=`` surface. String literals escape ``\\`` (Spark's escape
    character) before doubling ``'``."""
    def lit(v):
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
        if isinstance(v, (int, float)):
            return repr(v)
        raise ValueError(f"unsupported filter literal {v!r}")

    parts = []
    for col, op, val in filters:
        if not col.replace("_", "").isalnum():
            raise ValueError(f"bad filter column {col!r}")
        sql = f"{col} {_filter_op(op, val)[1]}"
        if op == "in":
            sql += " (" + ", ".join(lit(v) for v in val) + ")"
        elif op not in _NULL_OPS:
            sql += f" {lit(val)}"
        parts.append(sql)
    return " AND ".join(parts)


class FilteredIndex:
    """ES *filtered alias*, read-side only: a view of an :class:`Index`
    whose every query surface gets the alias filter applied as if the
    caller had passed it via ``where=``.

    ES 1.x applies an alias's filter at SEARCH time only — never at
    index time, never on the get API — and partially applying it (some
    surfaces filtered, others silently not) is the classic trap. This
    wrapper takes the safe subset: any method of the wrapped Index that
    accepts a ``where`` parameter gets the filter AND-ed in (SQL form on
    the distributed surfaces, tuple form on the ``*_local`` pyarrow
    serving twins — the SAME stored tuples compile to both); a method
    with no filter surface either passes through because ES itself does
    not filter it there (the get/fetch/suggest/term_vectors family), or
    raises loudly instead of returning silently-unfiltered hits.

    Corpus statistics (df/avgdl/idf) stay GLOBAL, exactly like
    ``where=`` everywhere else in this engine and like an ES filtered
    alias (the filter narrows the doc set, not the index statistics).
    """

    # ES does not apply alias filters on these read paths (get API,
    # fetch/_source, suggesters, analysis, metadata) — pass through
    _UNFILTERED_OK = frozenset({
        "fetch", "highlight", "get_docs", "get_docs_local",
        "highlight_local", "term_vectors", "analyze", "stats",
        "doc_keys", "validate_query", "explain_score", "suggest_terms",
        "suggest_complete", "suggest_phrase",
        # the context suggester's context is the CALLER's query-side
        # category — ES 1.x applies no alias filter to _suggest, same as
        # the rest of the suggest family above
        "suggest_complete_context",
        # percolate-existing-doc is a get (_source fetch) + a match over
        # REGISTERED QUERIES — neither side is the aliased doc set, and
        # ES 1.x applies no alias filter to the get API (its query_where
        # filters percolator queries, not documents)
        "percolate_existing",
    })

    def __init__(self, index: Index, filters: list[tuple]):
        filters = [tuple(f) for f in filters]
        self._index = index
        self._filters = filters
        self._where_sql = _filters_to_sql(filters)

    def __getattr__(self, name):
        attr = getattr(self._index, name)
        if not callable(attr) or name.startswith("_"):
            return attr
        try:
            sig = inspect.signature(attr)
        except (TypeError, ValueError):
            return attr
        if "where" not in sig.parameters:
            if name in self._UNFILTERED_OK:
                return attr
            raise NotImplementedError(
                f"Index.{name} has no filter surface; a filtered alias "
                "cannot apply its filter there (partial application is the "
                "ES-1.x alias trap). Open the concrete index and pass the "
                "filter explicitly, or use a where=-taking variant."
            )
        local = name.endswith("_local")

        @functools.wraps(attr)
        def call(*args, **kwargs):
            bound = sig.bind_partial(*args, **kwargs)
            user = bound.arguments.get("where")
            if local:
                bound.arguments["where"] = list(self._filters) + list(user or [])
            elif user is None:
                bound.arguments["where"] = self._where_sql
            else:
                bound.arguments["where"] = f"({self._where_sql}) AND ({user})"
            return attr(*bound.args, **bound.kwargs)

        return call
