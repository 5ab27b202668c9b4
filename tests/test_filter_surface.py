"""The one ``(col, op, value)`` filter surface. The driver mask (pyarrow,
through ``engine._FILTER_OPS``) and its SQL rendering
(``_filters_to_sql``) must select the same rows for every op over
planted nulls — SQL is the reference — and both front ends refuse a
``None`` literal, alone or inside an ``in`` list."""

from __future__ import annotations

import random

import pytest

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


@pytest.fixture(scope="module")
def null_idx(spark, tmp_path_factory):
    """120 docs with nulls planted in a string column (``tool``), a
    numeric one (``n``) and in both fields of the nested ``calls``
    objects."""
    rng = random.Random(11)
    rows = []
    for i in range(120):
        calls = [
            {"name": rng.choice(["a", "b", None]), "ms": rng.choice([1.0, 5.0, 9.0, None])}
            for _ in range(rng.randint(0, 3))
        ]
        text = " ".join(rng.choices(["alpha", "beta", "gamma", "delta"], k=rng.randint(1, 5)))
        rows.append((
            f"c{i:04d}", 0, text, rng.choice(["grep", "ls", "sed", None]),
            rng.choice([1, 2, 3, 5, None]), calls,
        ))
    docs = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, text string, tool string, n long, "
        "calls array<struct<name:string,ms:double>>",
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
        assert null_idx._local_allowed(where).tolist() == want, where
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
