"""The one driver filter surface and its two front ends. The driver mask
(pyarrow, through ``engine._FILTER_OPS``) of ``(col, op, value)`` tuples
and their SQL rendering (``_filters_to_sql``) must select the same rows
for every op over planted nulls — SQL is the reference — and both front
ends refuse a ``None`` literal, alone or inside an ``in`` list. A SQL
``where`` compiles to the same driver mask (``Index._where_expr``) or,
where Spark's pushdown translation cannot express it whole, stays on the
executors."""

from __future__ import annotations

import ast
import pathlib
import random
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.errors import AnalysisException

from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index
from kafka_elasticsearch_standalone_consumer_spark.query.engine import (
    FilteredIndex,
    Index,
    _filters_to_sql,
)

OPS = ("=", "!=", "<", "<=", ">", ">=", "in", "isnull", "notnull")


def _cases(col, lit, lits):
    return [
        (col, op, lits if op == "in" else None if op in ("isnull", "notnull") else lit)
        for op in OPS
    ]


# string literals holding a quote, a backslash, a LIKE wildcard and
# non-ASCII text (UTF-8 byte order: 'Z' < 'z' < 'é' < '日本')
TRICKY = ["it's", "a\\b", "50%", "a%b'c\\", "\\'", "Z", "z", "é", "héllo", "日本"]
T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def null_idx(spark, tmp_path_factory):
    """120 docs with nulls planted in a string column (``tool``), a
    numeric one (``n``) and in both fields of the nested ``calls``
    objects — and in the columns the SQL ``where`` strings of the suite
    and ``__spark_entry__`` name, a timestamp, a struct ``x`` and a
    double ``d`` with NaN."""
    rng = random.Random(11)
    rows = []
    for i in range(120):
        calls = [
            {"name": rng.choice(["a", "b", None]), "ms": rng.choice([1.0, 5.0, 9.0, None])}
            for _ in range(rng.randint(0, 3))
        ]
        text = " ".join(rng.choices(["alpha", "beta", "gamma", "delta"], k=rng.randint(1, 5)))
        x = rng.choice([
            None, {"name": rng.choice(["a", "b", None]), "ms": rng.choice([1.0, 5.0, None])},
        ])
        rows.append((
            f"c{i:04d}", rng.randint(0, 4), text, rng.choice(["grep", "ls", "sed", None]),
            rng.choice([1, 2, 3, 5, None]), calls,
            rng.choice(["user", "assistant", "tool", None]), rng.choice(["en", "zh", None]),
            rng.choice([50, 150, 250, 400]), rng.randint(0, 5), rng.choice(TRICKY + [None]),
            rng.choice([T0 + timedelta(hours=6 * h) for h in range(8)] + [None]), x,
            rng.choice([1.0, 2.5, float("nan"), None]),
        ))
    docs = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, text string, tool string, n long, "
        "calls array<struct<name:string,ms:double>>, role string, lang string, "
        "n_chars int, label int, s string, ts timestamp, x struct<name:string,ms:double>, "
        "d double",
    )
    wh = str(tmp_path_factory.mktemp("nulls") / "idx")
    build_index(spark, docs, wh, docs_per_shard=32, n_buckets=4)
    return Index(spark, wh)


def test_driver_mask_equals_sql_over_planted_nulls(null_idx):
    docs = null_idx._docs_df()
    assert docs.filter("tool IS NULL").count() and docs.filter("n IS NULL").count()
    cases = [[t] for t in _cases("tool", "ls", ("grep", "ls"))]
    cases += [[t] for t in _cases("n", 3, (1, 3))]
    cases.append([("tool", "!=", "grep"), ("n", "in", (1, 5))])
    for where in cases:
        want = sorted(
            r["doc_id"] for r in docs.filter(_filters_to_sql(where)).select("doc_id").collect()
        )
        assert null_idx._local_mask(where)[0].tolist() == want, where
        assert null_idx.count_local(where=where) == len(want), where


def test_nested_local_equals_sql_per_op(null_idx):
    """Per-object predicates over null struct fields: each op's tuple on
    the driver equals its SQL form on the distributed nested query."""
    cases = _cases("name", "a", ("a", "b")) + _cases("ms", 5.0, (1.0, 9.0))
    for t in cases:
        for q in ("", "alpha") if t[1] == "!=" else ("",):
            dist = [
                (r["doc_id"], r["score"])
                for r in null_idx.search_nested(
                    q, 200, nested_col="calls", inner_where="x." + _filters_to_sql([t]),
                    score_mode="sum",
                ).collect()
            ]
            loc = null_idx.search_nested_local(
                q, 200, nested_col="calls", inner=[t], score_mode="sum"
            )
            assert loc == dist, (t, q)


@pytest.mark.parametrize(
    "t", [("tool", "=", None), ("n", "!=", None), ("tool", "in", [None, "grep"])]
)
def test_none_literal_refused_on_both_front_ends(null_idx, t):
    match = "unsupported filter literal None"
    with pytest.raises(ValueError, match=match):
        _filters_to_sql([t])
    with pytest.raises(ValueError, match=match):
        FilteredIndex(null_idx, [t])
    with pytest.raises(ValueError, match=match):
        null_idx.search_local("alpha", 5, where=[t])
    with pytest.raises(ValueError, match=match):
        null_idx.count_local(where=[t])
    with pytest.raises(ValueError, match=match):
        null_idx.search_nested_local("", 5, nested_col="calls", inner=[("name",) + t[1:]])


def _spark_ids(docs, where: str) -> list[int]:
    return sorted(r["doc_id"] for r in docs.filter(where).select("doc_id").collect())


def test_filters_to_sql_round_trips_every_op(null_idx):
    """Every op over literals holding ``'``, ``\\``, ``%`` and non-ASCII
    text: the tuple's SQL rendering selects its driver rows in Spark, and
    the rendering's driver compile selects them too."""
    docs = null_idx._docs_df()
    cases = {_filters_to_sql(w): w for lit in TRICKY for w in ([t] for t in _cases("s", lit, (lit, "z")))}
    want = {sql: null_idx._local_mask(where)[0].tolist() for sql, where in cases.items()}
    assert want[_filters_to_sql([("s", "=", "a\\b")])]
    for sql in cases:
        assert _spark_ids(docs, sql) == want[sql], sql
    for sql in cases:
        assert null_idx._local_mask(sql)[0].tolist() == want[sql], sql


# SQL wheres the driver compiles: planted nulls under NOT, <>, IN and OR;
# timestamp literals (session TZ UTC, cast to the column's Arrow type); a
# nested field; string order on UTF-8 bytes; a LIKE prefix
COMPILED = [
    "tool <> 'grep'", "NOT (tool = 'grep')", "tool IN ('grep', 'ls')",
    "NOT (tool IN ('grep', 'ls'))", "tool = 'ls' OR n > 2", "NOT (tool = 'ls' OR n > 2)",
    "tool IS NULL OR n IN (1, 5)", "NOT (n <> 3)", "n <> 3 OR role IS NULL",
    "ts >= '2026-01-01 12:00:00'", "ts < TIMESTAMP '2026-01-02 06:00:00'",
    "ts = '2026-01-01 06:00:00' OR ts IS NULL", "NOT (ts IN (TIMESTAMP '2026-01-01 00:00:00'))",
    "x.ms IS NOT NULL", "x.name = 'a'", "NOT (x.name = 'a') OR x.ms IS NULL",
    "s > 'z'", "s < 'é'", "s >= 'Z' AND s <= 'é'", "s LIKE 'a%'",
]
# float comparisons stay on the executors: Spark orders NaN above every
# value and equals it to itself, Arrow follows IEEE (and Parquet
# statistics, which skip NaN, prune NaN rows out of a negation)
ON_EXECUTORS_FLOAT = ["d > 1.0", "NOT (d > 1.0)", "d = 'NaN'", "d IN (1.0, 2.5)", "x.ms >= 5.0"]


def test_compiled_where_equals_spark_filter(spark, null_idx):
    docs = null_idx._docs_df()
    assert null_idx._docs_declared.schema == docs.schema
    for where in COMPILED:
        want = _spark_ids(docs, where)
        assert 0 < len(want) < 120, where
        assert null_idx._where_expr(where) is not None, where
        assert null_idx._local_mask(where)[0].tolist() == want, where
    nan = _spark_ids(docs, "isnan(d)")
    assert nan and set(nan) <= set(_spark_ids(docs, "d > 1.0"))  # Spark's NaN rule
    for where in ON_EXECUTORS_FLOAT:
        assert null_idx._where_expr(where) is None, where
        before = _jobs(spark)
        got = [r["doc_id"] for r in null_idx.search("alpha", 200, where=where).collect()]
        assert _jobs(spark) > before, where
        assert got and set(got) <= set(_spark_ids(docs, where)), where


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _where_literals() -> set[str]:
    """Every string literal passed as a doc-store predicate (``where=``,
    ``background_where=``) in tests/ and ``__spark_entry__.py``."""
    root = pathlib.Path(__file__).resolve().parents[1]
    out = set()
    for path in [root / "__spark_entry__.py", *sorted((root / "tests").glob("*.py"))]:
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.keyword) and node.arg in ("where", "background_where")
                and isinstance(node.value, ast.Constant) and isinstance(node.value.value, str)
            ):
                out.add(node.value.value)
    return out


# the where literals Spark's pushdown translation cannot express whole
ON_EXECUTORS = {"doc_id % 37 = 0", "label % 3 = 0", "turn_idx % 2 = 0"}


def test_where_strings_compile_or_stay_on_executors(spark, null_idx):
    """Each where literal of the suite and of ``__spark_entry__`` either
    compiles to the driver mask (rows equal to Spark's filter) or runs
    its search on the executors. The ``list_contains`` one is DuckDB
    oracle SQL: Spark has no such function and both placements raise."""
    wheres = _where_literals()
    assert len(wheres) >= 20 and ON_EXECUTORS <= wheres
    docs = null_idx._docs_df()
    for where in sorted(wheres):
        if "list_contains(" in where:
            with pytest.raises(AnalysisException):
                null_idx._where_expr(where)
            with pytest.raises(AnalysisException):
                null_idx.search("alpha", 5, where=where)
        elif where in ON_EXECUTORS:
            assert null_idx._where_expr(where) is None, where
            before = _jobs(spark)
            null_idx.search("alpha", 5, where=where).collect()
            assert _jobs(spark) > before, where
        else:
            assert null_idx._where_expr(where) is not None, where
            assert null_idx._local_mask(where)[0].tolist() == _spark_ids(docs, where), where
