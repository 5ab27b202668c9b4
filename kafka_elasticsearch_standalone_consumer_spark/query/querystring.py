"""ES ``query_string`` mini-DSL → engine surfaces.

The reference's users query the ES it fed with Lucene ``query_string``
syntax (implicit in shipping documents to ES 1.5.1, reference
``pom.xml:22``); this parser covers the subset that maps cleanly onto the
engine and documents its semantics precisely:

    hash join              bare terms — OR (should), BM25 sum
    hash^2                 boosted term — its idf weight is multiplied
                           by the boost (ES query_string caret syntax);
                           composes with must/must_not/filters
    +hash join             '+' term — must: doc must contain it (still
                           scored together with the should terms, ES bool
                           must + should)
    -vector                '-' term — must_not: docs containing it are
                           excluded (scores of survivors unchanged)
    "hash join"            quoted — exact phrase (match_phrase)
    "hash join"~2          quoted with ~s — phrase with slop s
    filtr~1                fuzzy term (ES ~ syntax): docs containing a
                           dictionary term within that Damerau edit
                           distance add a constant 1.0 (Lucene 1.x
                           constant_score_auto rewrite); bare ~ = 1 edit
    lang:en                field:value — ES filter clause on a document
                           metadata column (restricts the doc set, corpus
                           statistics stay global)
    n_chars:[100 TO 300]   range filter clause, inclusive ends; {a TO b}
                           is exclusive, * is an open end — the ES range
                           query via query_string syntax
    _exists_:tool          docs where the field has a value (ES exists
                           filter); _missing_:tool = field IS NULL (ES
                           missing filter)
    a AND b                equivalent to +a +b

Routing: a pure-phrase query goes to ``Index.search_phrase`` (the fast
positions kernel); pure-term queries go to ``Index.search`` (block-max
WAND) with must/must_not compiled into analyzed doc match sets riding
the same per-shard cogroup mask as the filter clause (term-pruned token
scans — analyzer-consistent and cheaper than a text regex at scale; see
run_parsed). A query mixing terms and
phrases composes like an ES bool ``should``: each clause's FULL score set
(terms via the declarative BM25 oracle, each phrase via the m-way join
oracle) is summed per doc over the union of matching docs — a doc
matching any clause matches, a doc matching several scores higher —
then top-k. must/must_not/field filters restrict every clause identically.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from kafka_elasticsearch_standalone_consumer_spark.analysis import tokenize_text

_TOKEN_RE = re.compile(
    r"""
    "(?P<phrase>[^"]*)"(?:~(?P<slop>\d+))?   # "quoted phrase"[~slop]
  | (?P<rfield>[A-Za-z_][A-Za-z0-9_]*):(?P<lb>[\[{])\s*(?P<lo>[^\s\]}]+)\s+TO\s+(?P<hi>[^\s\]}]+)\s*(?P<rb>[\]}])
  | (?P<field>[A-Za-z_][A-Za-z0-9_]*):(?P<value>[A-Za-z0-9_.-]+)
  | (?P<plus>\+)(?P<mterm>[^\s+\-"]+)
  | (?P<minus>-)(?P<nterm>[^\s+\-"]+)
  | (?P<fword>[^\s+\-"^~]+)~(?P<fuzz>[0-2])?(?=\s|$)
  | (?P<word>[^\s+\-"][^\s"^]*)(?:\^(?P<boost>\d+(?:\.\d+)?))?
    """,
    re.VERBOSE,
)


_TEMPLATE_RE = re.compile(r"\{\{\s*([A-Za-z_][A-Za-z0-9_]*)\s*\}\}")


def parse_min_should_match(spec: "int | str", n_optional: int) -> int:
    """ES ``minimum_should_match`` spec (the full ES 1.x syntax; the
    reference's ES 1.5 applies it to bool/match/query_string queries):

    - positive integer — that many optional clauses required;
    - negative integer — that many clauses may be MISSING
      (``n_optional - |n|``);
    - ``"N%"`` — that percentage of ``n_optional``, rounded DOWN
      (exact integer arithmetic: ``(N*n)//100`` — no float);
    - ``"-N%"`` — that percentage may be missing, rounded down before
      subtracting (the ES doc's asymmetric rounding rule);
    - ``"I<SPEC"`` — conditional: SPEC applies only when
      ``n_optional > I``, otherwise ALL clauses are required;
    - multiple space-separated conditionals — the entry with the
      LARGEST ``I`` still below ``n_optional`` wins; none applicable →
      all required.

    Results ≤ 0 mean "no constraint" and collapse to 1 (in OR
    semantics a doc matching zero clauses never scores anyway). A
    result above ``n_optional`` is NOT clamped — such a query matches
    nothing, exactly like Lucene's BooleanQuery."""

    def one(token: str) -> int:
        token = token.strip()
        if token.endswith("%"):
            p = int(token[:-1])
            if p < 0:
                return n_optional - ((-p) * n_optional) // 100
            return (p * n_optional) // 100
        v = int(token)
        return n_optional + v if v < 0 else v

    if isinstance(spec, int):
        got = spec
    else:
        parts = str(spec).split()
        if not parts:
            raise ValueError("empty minimum_should_match spec")
        if len(parts) == 1 and "<" not in parts[0]:
            got = one(parts[0])
        else:
            best: tuple[int, str] | None = None
            for p in parts:
                if "<" not in p:
                    raise ValueError(
                        f"plain value {p!r} in a multi-part minimum_should_match "
                        "spec — combinations must all be conditional (I<SPEC)"
                    )
                i_s, sub = p.split("<", 1)
                i = int(i_s)
                if n_optional > i and (best is None or i > best[0]):
                    best = (i, sub)
            got = n_optional if best is None else one(best[1])
    return max(got, 1)


def render_template(template: str, params: dict[str, object]) -> str:
    """ES 1.x ``/_search/template`` rendering: substitute mustache-style
    ``{{param}}`` placeholders with the given params (stringified — ES's
    templates interpolate into the query source the same way). Unknown
    placeholders raise instead of rendering a literal ``{{x}}`` into the
    query, and unused params are fine (ES ignores them too)."""

    def sub(m: re.Match) -> str:
        name = m.group(1)
        if name not in params:
            raise KeyError(f"search template references unbound param: {name}")
        return str(params[name])

    return _TEMPLATE_RE.sub(sub, template)


@dataclass
class ParsedQuery:
    should: list[str] = field(default_factory=list)
    must: list[str] = field(default_factory=list)
    must_not: list[str] = field(default_factory=list)
    phrases: list[tuple[str, int]] = field(default_factory=list)
    filters: list[tuple[str, str]] = field(default_factory=list)
    # (field, lo|None, hi|None, lo_inclusive, hi_inclusive); None = open end
    ranges: list[tuple[str, str | None, str | None, bool, bool]] = field(
        default_factory=list
    )
    exists: list[str] = field(default_factory=list)
    missing: list[str] = field(default_factory=list)
    # trailing-* prefix clauses (simple_query_string): constant-score 1.0
    # contributions summed bool-should style with the scored clauses
    prefixes: list[str] = field(default_factory=list)
    # term^boost should clauses: (analyzed term, boost) per occurrence —
    # each contributes boost·idf where a bare occurrence contributes 1·idf
    boosts: list[tuple[str, float]] = field(default_factory=list)
    # term~n fuzzy clauses: (analyzed term, max_edits) — Lucene's 1.x
    # constant_score_auto rewrite: matching docs add 1.0 per clause
    fuzzies: list[tuple[str, int]] = field(default_factory=list)


def parse_query_string(q: str, analyzer: str = "standard") -> ParsedQuery:
    """Parse the DSL; AND between two bare words promotes both to must.

    ``analyzer`` is the INDEX's analyzer (ES analyzes query_string text
    with the field's search analyzer): on a stop-analyzer index a
    ``+the`` clause analyzes to nothing and is dropped, instead of
    compiling into a filter requiring a literal stopword."""
    out = ParsedQuery()
    words: list[str] = []  # bare words in order, for AND handling
    pending_and = False
    for m in _TOKEN_RE.finditer(q or ""):
        if m.group("phrase") is not None:
            out.phrases.append((m.group("phrase"), int(m.group("slop") or 0)))
        elif m.group("rfield"):
            out.ranges.append((
                m.group("rfield"),
                None if m.group("lo") == "*" else m.group("lo"),
                None if m.group("hi") == "*" else m.group("hi"),
                m.group("lb") == "[",
                m.group("rb") == "]",
            ))
        elif m.group("field"):
            f, v = m.group("field"), m.group("value")
            if f == "_exists_":
                out.exists.append(v)
            elif f == "_missing_":
                out.missing.append(v)
            else:
                out.filters.append((f, v))
        elif m.group("plus"):
            out.must.extend(tokenize_text(m.group("mterm"), analyzer))
        elif m.group("minus"):
            out.must_not.extend(tokenize_text(m.group("nterm"), analyzer))
        elif m.group("fword"):
            # term~n — fuzzy should clause; a bare ~ defaults to 1 edit
            # (documented deviation: ES 1.x's bare ~ meant similarity
            # 0.5, a length-dependent edit budget)
            fz = int(m.group("fuzz")) if m.group("fuzz") is not None else 1
            for t in tokenize_text(m.group("fword"), analyzer):
                out.fuzzies.append((t, fz))
        elif m.group("word"):
            w = m.group("word")
            if m.group("boost") is not None:
                # term^boost — a weighted should clause (boost composes
                # with neither AND promotion nor must; documented scope)
                for t in tokenize_text(w, analyzer):
                    out.boosts.append((t, float(m.group("boost"))))
                pending_and = False
                continue
            if w == "AND":
                # promote the previous bare word; the next one joins must too
                if words:
                    out.must.extend(tokenize_text(words.pop(), analyzer))
                pending_and = True
            elif w == "OR":
                pending_and = False
            elif pending_and:
                out.must.extend(tokenize_text(w, analyzer))
                pending_and = False
            else:
                words.append(w)
    for w in words:
        out.should.extend(tokenize_text(w, analyzer))
    return out


_SQS_TOKEN_RE = re.compile(
    r"""
    "(?P<phrase>[^"]*)"(?:~(?P<slop>\d+))?   # "quoted phrase"[~slop]
  | (?P<minus>-)(?P<nterm>[^\s|+\-"]+)
  | (?P<word>[^\s|+\-"][^\s|+"]*)
  | (?P<op>[|+])
    """,
    re.VERBOSE,
)


def parse_simple_query_string(
    q: str, analyzer: str = "standard", default_operator: str = "or"
) -> ParsedQuery:
    """ES ``simple_query_string``: the LENIENT end-user syntax (Lucene
    SimpleQueryParser) — never raises on user input:

        foo bar        terms, combined by ``default_operator`` (or — ES's
                       default — makes them should; and makes them must)
        foo | bar      '|' forces OR for the whole expression
        foo + bar      '+' forces AND for the whole expression
        -foo           negation (must_not)
        "a b"~2        phrase with optional slop
        tab*           trailing * — prefix clause (constant-score 1.0,
                       summed bool-should style, Lucene's
                       CONSTANT_SCORE rewrite of PrefixQuery)

    Deviations (documented, in the lenient spirit): '(' ')' grouping is
    not supported — parens are stripped by the analyzer like any other
    punctuation; mixing '|' and '+' in one query resolves to AND ('+'
    wins — Lucene applies precedence pairwise, we apply it globally);
    '-' before a phrase or prefix negates its TERMS leniently."""
    out = ParsedQuery()
    words: list[str] = []
    ops: set[str] = set()
    for m in _SQS_TOKEN_RE.finditer(q or ""):
        if m.group("phrase") is not None:
            out.phrases.append((m.group("phrase"), int(m.group("slop") or 0)))
        elif m.group("minus"):
            t = m.group("nterm")
            out.must_not.extend(
                tokenize_text(t[:-1] if t.endswith("*") else t, analyzer)
            )
        elif m.group("word"):
            words.append(m.group("word"))
        elif m.group("op"):
            ops.add(m.group("op"))
    conj = "+" in ops or (not ops and default_operator == "and")
    for w in words:
        if w.endswith("*") and len(w) > 1:
            stem = tokenize_text(w[:-1], analyzer)
            if stem:
                out.prefixes.append(stem[-1])
            continue
        toks = tokenize_text(w, analyzer)
        (out.must if conj else out.should).extend(toks)
    return out


def _sql_literal(v: str) -> str:
    """Numeric values pass through raw (so integer/double columns compare
    numerically); anything else is a quote-escaped string literal."""
    try:
        float(v)
        return v
    except ValueError:
        return "'" + v.replace("'", "''") + "'"


def compile_field_filter(parsed: ParsedQuery) -> str | None:
    """The parsed field:value / range / exists / missing clauses as ONE
    SQL predicate for the engine's ``where=`` surface (doc-level
    restriction; corpus statistics stay global, matching ES bool
    filter)."""
    clauses = [f"{f} = '{v.replace(chr(39), chr(39) * 2)}'" for f, v in parsed.filters]
    for f, lo, hi, lo_inc, hi_inc in parsed.ranges:
        if lo is not None:
            clauses.append(f"{f} >{'=' if lo_inc else ''} {_sql_literal(lo)}")
        if hi is not None:
            clauses.append(f"{f} <{'=' if hi_inc else ''} {_sql_literal(hi)}")
    clauses += [f"{f} IS NOT NULL" for f in parsed.exists]
    clauses += [f"{f} IS NULL" for f in parsed.missing]
    return " AND ".join(clauses) if clauses else None


def run_query_string(index, q: str, k: int = 10):
    """Execute a query_string against an :class:`Index` (see module doc).
    Parsing analyzes with the index's analyzer (ES's search-analyzer
    symmetry)."""
    analyzer = index.meta.get("analyzer", "standard")
    return run_parsed(index, parse_query_string(q, analyzer), k)


def run_parsed(index, parsed: ParsedQuery, k: int = 10):
    """Execute a :class:`ParsedQuery` — the shared executor behind the
    query_string DSL and the structured ``Index.search_bool`` API (both
    are views of the same ES bool semantics).

    must / must_not compile into ANALYZED doc match sets (one term-pruned
    tokens scan each), not text regexes: that keeps them correct under
    every analyzer (a stemmed must-clause matches all surface forms, a
    stop-analyzed one drops out at parse) and is the 100 TB plan — the
    match set reads only the clause terms' token rows, where an RLIKE
    filter would regex-scan every document's text. must terms still
    score together with should (ES bool must + should); must_not only
    excludes. Field filters stay a ``where=`` predicate. An empty result
    is a zero-job frame (``Index._frame``).

    :meth:`Index._run_parsed_local` is the driver mirror of this
    executor (``search_bool_local``, ``simple_query_string_local``)."""
    from pyspark.sql import functions as F

    from kafka_elasticsearch_standalone_consumer_spark.query.engine import TOPK_SCHEMA

    terms = parsed.should + parsed.must
    where = compile_field_filter(parsed)
    must_terms = sorted(set(parsed.must))
    not_terms = sorted(set(parsed.must_not))
    allowed = index._match_set(must_terms, len(must_terms)) if must_terms else None
    blocked = index._match_set(not_terms, 1) if not_terms else None
    prefix_sets = []
    for p in parsed.prefixes:
        expanded = sorted(set(index._expand_prefix(p, max_expansions=50)))
        prefix_sets.append(index._match_set(expanded, 1) if expanded else None)
    for term, fz in parsed.fuzzies:
        # term~n — search_fuzzy's expansion (Index._fuzzy_variants with
        # prefix_length=1, capped at 50 in term order), contributing
        # constant-score 1.0 per clause exactly like prefix clauses
        # (Lucene constant_score_auto)
        near = list(index._fuzzy_variants(term, fz, 1))[:50]
        prefix_sets.append(index._match_set(near, 1) if near else None)
    if (parsed.prefixes or parsed.fuzzies) and parsed.must:
        # AND semantics: a conjunctive query requires the prefix clauses too
        for ms in prefix_sets:
            if ms is None:
                return index._frame(TOPK_SCHEMA)
            allowed = ms if allowed is None else allowed.join(ms, "doc_id", "left_semi")
    if parsed.boosts:
        # ES term^boost: a weighted disjunction — per-term weight =
        # 1·(bare occurrences) + Σ boosts; the plan is computed once
        # driver-side (weight · idf, the same float-op order as
        # _plan_terms) and injected through the _plan hook, so the fast
        # kernel path scores exactly these weights (the fuzzy_like_this
        # mechanism). Composes with must/must_not/filters; phrases and
        # prefixes are separate clause types — out of boost scope.
        if parsed.phrases or parsed.prefixes or parsed.fuzzies:
            raise ValueError(
                "term^boost composes with term clauses only "
                "(not phrase/prefix clauses)"
            )
        wmap: dict[str, float] = {}
        for t in terms:
            wmap[t] = wmap.get(t, 0.0) + 1.0
        for t, b in parsed.boosts:
            wmap[t] = wmap.get(t, 0.0) + b
        idfw1, buckets = index._plan_terms(" ".join(sorted(wmap)))
        if not idfw1:
            return index._frame(TOPK_SCHEMA)
        idfw = {t: wmap[t] * idfw1[t] for t in sorted(idfw1)}
        return index.search(
            " ".join(sorted(wmap)), k, mode="bmw", where=where,
            _allowed_docs=allowed, _blocked_docs=blocked,
            _plan=(idfw, buckets),
        )
    if not terms and len(parsed.phrases) == 1 and allowed is None and blocked is None \
            and not parsed.prefixes and not parsed.fuzzies:
        phrase, slop = parsed.phrases[0]
        return index.search_phrase(phrase, k, where=where, slop=slop)
    if not parsed.phrases and not parsed.prefixes and not parsed.fuzzies:
        return index.search(
            " ".join(terms), k, mode="bmw", where=where,
            _allowed_docs=allowed, _blocked_docs=blocked,
        )
    # mixed clauses — ES bool should composition: sum each clause's full
    # score set per doc over the UNION of matching docs, then top-k; one
    # Index._live (where, must, must_not, tombstones) applies to the sums
    parts = []
    if terms:
        parts.append(index.search_oracle(" ".join(terms), k=None, where=where))
    for phrase, slop in parsed.phrases:
        parts.append(index.search_phrase_oracle(phrase, k=None, where=where, slop=slop))
    for ms in prefix_sets:
        # Lucene CONSTANT_SCORE prefix rewrite: matching docs add 1.0
        if ms is not None:
            parts.append(ms.select("doc_id", F.lit(1.0).alias("score")))
    if not parts:
        return index._frame(TOPK_SCHEMA)
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    scores = allp.groupBy("doc_id").agg(F.sum("score").alias("score"))
    scores = index._live(where, frame=scores, allowed=allowed, blocked=blocked)
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
