"""Randomized multi-seed rank-identity armor: adversarially quirky
corpora (empty docs, punctuation-only, unicode, heavy repetition, huge
tf skew) must keep every execution path identical — bmw == exact ==
oracle == local, phrase kernel == m-way-join oracle — across random
queries including absent and duplicated terms. Fixture corpora can't
cover these shapes; seeded randomness can, reproducibly."""

from __future__ import annotations

import random

import pytest

from kafka_elasticsearch_standalone_consumer_spark.analysis import (
    tokenize_text,
    tokens_from,
)
from kafka_elasticsearch_standalone_consumer_spark.query.engine import Index

VOCAB = ["alpha", "beta", "gamma", "delta", "x9", "q", "omega", "Zeta", "η-mix"]


def _random_corpus(rng: random.Random, n: int) -> list[tuple[int, str]]:
    docs = []
    for i in range(n):
        shape = rng.randrange(6)
        if shape == 0:
            text = ""  # empty doc (dl = 0)
        elif shape == 1:
            text = "!!! ;;; --- ..."  # punctuation-only (tokenizes to nothing)
        elif shape == 2:
            text = " ".join([rng.choice(VOCAB)] * rng.randint(1, 50))  # tf skew
        elif shape == 3:
            text = "naïve café 東京 " + " ".join(
                rng.choices(VOCAB, k=rng.randint(0, 5))
            )
        else:
            text = " ".join(rng.choices(VOCAB, k=rng.randint(1, 30)))
        docs.append((i, text))
    return docs


def _queries(rng: random.Random) -> list[str]:
    qs = []
    for _ in range(6):
        terms = rng.choices(VOCAB + ["zzabsent"], k=rng.randint(1, 3))
        qs.append(" ".join(terms))
    qs.append("alpha alpha beta")  # duplicate query terms (weight ×2)
    qs.append("zzabsent")
    return qs


@pytest.mark.parametrize("seed", [101, 202])
def test_all_paths_rank_identical_on_quirky_corpora(spark, tmp_path, seed, placements):
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index

    rng = random.Random(seed)
    rows = _random_corpus(rng, 120)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    eph = Index.ephemeral(docs, docs_per_shard=16, n_buckets=4, positions=True)

    # a persisted twin for the serving path (needs warehouse files)
    t = docs.selectExpr(
        "concat('c', lpad(cast(doc_id as string), 6, '0')) AS conv_id",
        "CAST(0 AS INT) AS turn_idx",
        "'user' AS role",
        "text",
        "CAST(NULL AS STRING) AS tool",
        "current_timestamp() AS ts",
    )
    wh = str(tmp_path / f"idx{seed}")
    build_index(spark, t, wh, docs_per_shard=16, n_buckets=4)
    per = Index(spark, wh)

    for q in _queries(rng):
        oracle = [
            (r["doc_id"], round(r["score"], 9))
            for r in eph.search_oracle(q, 10).collect()
        ]
        for mode in ("bmw", "exact"):
            got = [
                (r["doc_id"], round(r["score"], 9))
                for r in eph.search(q, 10, mode=mode).collect()
            ]
            assert got == oracle, (seed, q, mode)
        # serving path on the persisted twin: identical to ITS distributed
        # run, in both placements
        loc = [(d, round(s, 9)) for d, s in per.search_local(q, 10)]
        for placement in placements():
            dist = [
                (r["doc_id"], round(r["score"], 9))
                for r in per.search(q, 10, mode="bmw").collect()
            ]
            assert loc == dist, (seed, q, placement)

    # phrase kernel vs m-way-join oracle on a bigram that actually occurs
    source = next(
        (txt for _, txt in rows if len(set(tokenize_text(txt))) >= 2), None
    )
    if source is not None:
        toks = tokenize_text(source)
        phrase = " ".join(toks[:2])
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in eph.search_phrase(phrase, 10).collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in eph.search_phrase_oracle(phrase, 10).collect()
        ]
        assert got == want and got, (seed, phrase)


@pytest.mark.parametrize("seed", [7])
def test_tokenizer_paths_agree_on_quirky_text(spark, seed):
    """Fused Arrow tokenizer == SQL tokenizer on the quirky corpus, for
    every analyzer — the invariant CLAUDE.md pins, exercised beyond the
    fixture corpus."""
    from kafka_elasticsearch_standalone_consumer_spark.analysis import doc_term_freqs

    rng = random.Random(seed)
    docs = spark.createDataFrame(_random_corpus(rng, 80), "doc_id long, text string")
    for analyzer in ("standard", "stop", "porter", "english", "simple",
                     "whitespace", "keyword"):
        fused = {
            (r["doc_id"], r["term"]): r["tf"]
            for r in doc_term_freqs(docs, analyzer=analyzer).collect()
        }
        sql = {
            (r["doc_id"], r["term"]): r["tf"]
            for r in tokens_from(docs, id_cols=("doc_id",), method="sql",
                                 analyzer=analyzer).collect()
        }
        assert fused == sql, analyzer


def _sqs_queries(rng: random.Random) -> list[str]:
    """Random simple_query_string inputs: bare/negated terms, prefix
    stars, quoted phrases with slop, and |/+ operators."""
    qs = []
    for _ in range(8):
        parts = []
        for _ in range(rng.randint(1, 3)):
            shape = rng.randrange(5)
            t = rng.choice(VOCAB + ["zzabsent"])
            if shape == 0 or shape == 4:
                parts.append(t)
            elif shape == 1:
                parts.append("-" + t)
            elif shape == 2:
                parts.append(t[:2] + "*")
            else:
                a, b = rng.choice(VOCAB), rng.choice(VOCAB)
                parts.append(f'"{a} {b}"~{rng.randint(0, 2)}')
        op = rng.choice(["", "|", "+"])
        qs.append((f" {op} " if op else " ").join(parts))
    return qs


@pytest.mark.parametrize("seed", [313, 626])
def test_simple_query_string_local_identity_randomized(spark, tmp_path, seed):
    """simple_query_string: the zero-job serving twin must stay rank- AND
    score-identical to the distributed executor on random lenient-syntax
    queries (prefix stars, phrases+slop, negation, |/+) over a quirky
    corpus — both paths share the parser, so any drift is an executor
    divergence."""
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index

    rng = random.Random(seed)
    rows = _random_corpus(rng, 100)
    t = spark.createDataFrame(rows, "doc_id long, text string").selectExpr(
        "concat('c', lpad(cast(doc_id as string), 6, '0')) AS conv_id",
        "CAST(0 AS INT) AS turn_idx",
        "'user' AS role",
        "text",
        "CAST(NULL AS STRING) AS tool",
        "current_timestamp() AS ts",
    )
    wh = str(tmp_path / f"sqs{seed}")
    build_index(spark, t, wh, docs_per_shard=16, n_buckets=4, positions=True)
    idx = Index(spark, wh)
    n_nonempty = 0
    for q in _sqs_queries(rng):
        dist = [
            (r["doc_id"], round(r["score"], 9))
            for r in idx.simple_query_string(q, 10).collect()
        ]
        loc = [(d, round(s, 9)) for d, s in idx.simple_query_string_local(q, 10)]
        assert loc == dist, (seed, q)
        n_nonempty += bool(dist)
    assert n_nonempty >= 3  # the armor actually exercised scoring


@pytest.mark.parametrize("seed", [313, 424])
def test_nested_scoping_matches_python_randomized(spark, seed):
    """Random nested arrays: search_nested's per-object scoping and every
    score_mode must equal a pure-Python recomputation; the flattened
    false-match set must differ on at least one seed-corpus doc (so the
    fixtures keep exercising the distinction)."""
    rng = random.Random(seed)
    rows = []
    for i in range(60):
        arr = [
            {"name": rng.choice(["a", "b", "c"]), "ms": float(rng.randint(0, 9))}
            for _ in range(rng.randint(0, 4))
        ]
        rows.append((i, " ".join(rng.choices(VOCAB, k=rng.randint(1, 8))), arr))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, calls array<struct<name:string,ms:double>>"
    )
    idx = Index.ephemeral(df, docs_per_shard=16, n_buckets=4)

    def match(o):
        return o["name"] == "a" and o["ms"] >= 5.0

    inner = "x.name = 'a' AND x.ms >= 5.0"
    for mode, roll in [
        ("sum", sum),
        ("avg", lambda v: sum(v) / len(v)),
        ("max", max),
        ("min", min),
        ("none", lambda v: 0.0),
    ]:
        got = {
            r["doc_id"]: r["score"]
            for r in idx.search_nested(
                "", 100, nested_col="calls", inner_where=inner,
                score_mode=mode, inner_score="x.ms",
            ).collect()
        }
        want = {
            i: float(roll([o["ms"] for o in arr if match(o)]))
            for i, _t, arr in rows
            if any(match(o) for o in arr)
        }
        assert got == want, (seed, mode)
    flat = {
        i
        for i, _t, arr in rows
        if any(o["name"] == "a" for o in arr) and any(o["ms"] >= 5.0 for o in arr)
    }
    assert flat - set(want), "seed corpus never exercises cross-object scoping"


@pytest.mark.parametrize("seed", [535, 646])
def test_filtered_alias_identity_randomized(spark, built_index, tmp_path, seed):
    """Random filter tuples: FilteredIndex ≡ explicit where= on search,
    search_local, and a random agg surface."""
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.snapshot import (
        open_alias,
        set_alias,
    )
    from kafka_elasticsearch_standalone_consumer_spark.query.engine import (
        _filters_to_sql,
    )

    rng = random.Random(seed)
    idx, path = built_index
    flt = rng.choice(
        [
            [("role", "=", rng.choice(["user", "assistant", "tool"]))],
            [("turn_idx", ">=", rng.randint(1, 5))],
            [("role", "in", ("user", "tool")), ("turn_idx", "<", rng.randint(4, 9))],
            [("tool", "notnull", None)],
        ]
    )
    reg = str(tmp_path / f"reg{seed}")
    set_alias(reg, "r", path, where=flt)
    fidx = open_alias(spark, reg, "r")
    sql = _filters_to_sql(flt)
    q = " ".join(rng.choices(["w00000", "w00003", "w00015", "zzabsent"], k=2))
    assert [(r["doc_id"], r["score"]) for r in fidx.search(q, 10).collect()] == [
        (r["doc_id"], r["score"]) for r in idx.search(q, 10, where=sql).collect()
    ]
    assert fidx.search_local(q, 10) == idx.search_local(q, 10, where=flt)
    assert fidx.facets(q, by="role").collect() == idx.facets(
        q, by="role", where=sql
    ).collect()


def test_filtered_alias_routes_new_aggs_and_passes_suggest(spark, built_index, tmp_path):
    """The round-4f surfaces behave correctly under a filtered alias:
    value_count_agg / filter_agg get the alias filter AND-ed in (they
    take where=), and suggest_complete_context passes through unfiltered
    like the rest of the suggest family (ES applies no alias filter to
    _suggest)."""
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.snapshot import (
        open_alias,
        set_alias,
    )
    from kafka_elasticsearch_standalone_consumer_spark.query.engine import (
        _filters_to_sql,
    )

    idx, path = built_index
    flt = [("role", "=", "user")]
    reg = str(tmp_path / "reg4f")
    set_alias(reg, "r", path, where=flt)
    fidx = open_alias(spark, reg, "r")
    sql = _filters_to_sql(flt)
    q = "w00000 w00003"
    assert (
        fidx.value_count_agg(q, "tool").collect()
        == idx.value_count_agg(q, "tool", where=sql).collect()
    )
    assert (
        fidx.filter_agg(q, "turn_idx >= 2", "turn_idx").collect()
        == idx.filter_agg(q, "turn_idx >= 2", "turn_idx", where=sql).collect()
    )
    got = fidx.suggest_complete_context("w000", [("role", "=", "tool")], 3).collect()
    want = idx.suggest_complete_context("w000", [("role", "=", "tool")], 3).collect()
    assert got == want and got
