"""Analysis chain: tokenization shared by index and query paths.

The reference delegates analysis to Elasticsearch's standard analyzer
(implicit in every ``prepareIndex(...).setSource(doc)`` at reference
``MessageHandler.java:135-139``). We pin an exact, documented tokenizer —
lowercase then extract ``[a-z0-9]+`` runs — so rank-identity between the
fast path, the DataFrame oracle, and the DuckDB SQL oracle
(``regexp_extract_all(lower(text), '[a-z0-9]+')``) is well defined.

Two implementations with identical output:

* ``tokenize_udf`` — Arrow-batched pandas UDF (the path mandated by the
  baseline's input_hint: vectorized pandas, no per-row Python);
* ``tokenize_col`` — pure Column expression (JVM-side, whole-stage
  codegen; no Python worker round-trip at all). This is the default for
  the hot index-build path because it is strictly faster at scale; the
  UDF variant exists to prove the Arrow kernel plumbing and is
  asserted equal in tests.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOKEN_PATTERN = r"[a-z0-9]+"
_TOKEN_RE = re.compile(TOKEN_PATTERN)

# ES ``stop`` analyzer token filter: the classic Lucene English stop set
# (ES's _english_ default) restricted to our [a-z0-9]+ token space. The
# list is shared verbatim with the DuckDB oracle (SQL_STOPLIST in
# __spark_entry__.py) so cross-engine checks see the same analysis chain.
STOP_WORDS = frozenset(
    "the of and to in a is that it for on as are with be this was at by an "
    "or from has had have not but they you his her its we our their".split()
)

# ES 1.x built-in analyzers we implement (ref: the reference delegates
# analysis wholesale to ES at MessageHandler.java:135-139):
#   standard   — lowercase + [a-z0-9]+ runs (our pinned standard chain)
#   stop       — standard + English stop filter (Lucene position gaps)
#   porter     — standard + Porter stemmer (ES snowball/porter English)
#   english    — stop filter THEN Porter stemming (ES's `english`
#                analyzer chain; we omit its possessive-'s strip — the
#                [a-z0-9]+ tokenizer already splits "fox's" → fox, s,
#                and the trailing bare "s" then stems to itself)
#   whitespace — split on whitespace runs, NO lowercasing, no filters
#                (Lucene WhitespaceTokenizer: terms keep their case)
#   keyword    — the entire field value as ONE term, verbatim (Lucene
#                KeywordTokenizer; empty/null fields emit no token)
#   pattern    — ES 1.x pattern analyzer: lowercase, then SPLIT on a
#                configurable regex (default \W+, the ES default). The
#                configurable form is the string "pattern:<regex>" so the
#                knob stays a plain string through segment meta /
#                append / compact unchanged. The regex runs in the
#                Java/RE2-shared dialect: driver-side Python compiles
#                with re.ASCII so \w/\W/\d/\b agree byte-for-byte with
#                Spark's Java split and DuckDB's RE2 on any input.
#   snowball   — ES 1.x snowball analyzer (standard tokenizer, lowercase,
#                stop filter, Snowball English stemmer) — the same chain
#                as `english` here (our stemmer is Porter 1980, the
#                Snowball English stemmer's published ancestor; the
#                porter/snowball delta on real vocab is tiny and our
#                corpus Porter map is hand-verified). Alias, normalized
#                to `english` at split_char_filter.
ANALYZERS = (
    "standard", "simple", "stop", "porter", "english", "whitespace", "keyword",
    "pattern", "snowball",
)


def lowercases(analyzer: str) -> bool:
    """Whether ``analyzer`` lowercases its terms: all of ANALYZERS but
    ``whitespace`` and ``keyword``, with or without an ``html_strip|``
    prefix — the case rule a terms query's verbatim values follow."""
    return split_char_filter(analyzer)[1] not in ("whitespace", "keyword")

_WS_RE = re.compile(r"\S+")
# ES/Lucene `simple` analyzer: LetterTokenizer + lowercase — token = a
# maximal LETTER run, so digit-bearing forms split ("sec9ref" → sec, ref)
# and pure-digit tokens vanish; the probe that distinguishes it from
# `standard`, whose tokens keep digits.
_SIMPLE_RE = re.compile(r"[a-z]+")


DEFAULT_PATTERN = r"\W+"

# ES 1.x ``html_strip`` char filter, composed into the analyzer string as
# the prefix "html_strip|<analyzer>" — one plain string still rides
# through segment meta / append / compact unchanged (the pattern-analyzer
# precedent). Semantics (documented deviation from Lucene's
# HTMLStripCharFilter, which preserves offsets): tags are replaced by ONE
# SPACE (guaranteeing token separation — "<p>a</p>b" can never fuse into
# "ab"), then the common named entities decode. Decoding runs AFTER the
# tag strip, so "&lt;b&gt;" becomes the literal text "<b>" and is NOT
# re-parsed as a tag — same one-pass behavior as Lucene. Numeric
# character references are not decoded (documented; the [a-z0-9]+
# tokenizers would drop the decoded symbols anyway).
_HTML_TAG_RE_STR = "<[^>]*>"
_HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST: "&amp;lt;" must become "&lt;" literally, not "<"
)
_HTML_TAG_RE = re.compile(_HTML_TAG_RE_STR)


def strip_html(text: str) -> str:
    """Driver-side html_strip twin (query analysis + tests)."""
    s = _HTML_TAG_RE.sub(" ", text)
    for ent, rep in _HTML_ENTITIES:
        s = s.replace(ent, rep)
    return s


def strip_html_col(c: Column) -> Column:
    """JVM-side html_strip: a regexp_replace + replace chain (pure
    Column, whole-stage codegen) applying the same steps in the same
    order as :func:`strip_html` — the DuckDB oracle mirrors it with
    regexp_replace(..., 'g') + replace."""
    out = F.regexp_replace(c, _HTML_TAG_RE_STR, " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return out


def split_char_filter(analyzer: str) -> tuple[str | None, str]:
    """(char_filter, base_analyzer) from the composed analyzer string;
    also resolves aliases (``snowball`` → ``english``), so every consumer
    of the BASE name sees the canonical chain."""
    cf = None
    if analyzer.startswith("html_strip|"):
        cf, analyzer = "html_strip", analyzer[len("html_strip|"):]
    if analyzer == "snowball":
        analyzer = "english"
    return cf, analyzer


def _check_analyzer(analyzer: str) -> None:
    _, base = split_char_filter(analyzer)
    if (
        base not in ANALYZERS
        and not base.startswith("pattern:")
        and not base.startswith("stop:")
    ):
        raise ValueError(f"unknown analyzer: {analyzer} (supported: {ANALYZERS}, "
                         "optionally prefixed with 'html_strip|')")


def stop_set(analyzer_base: str) -> frozenset:
    """The stop list of a stop-filtering analyzer base: the fixed Lucene
    English set for ``stop``/``english``, or a CUSTOM list for
    ``stop:<comma-separated-words>`` — ES 1.x's configurable ``stopwords``
    setting, riding the same one-plain-string knob as ``pattern:<regex>``
    so segment meta / append / compact stay untouched."""
    if analyzer_base.startswith("stop:"):
        words = frozenset(w for w in analyzer_base[5:].split(",") if w)
        if not words:
            raise ValueError("custom stop analyzer needs a non-empty word list")
        return words
    return STOP_WORDS


def _stops_of(analyzer_base: str) -> frozenset | None:
    """The stop set a base analyzer applies, or None when it has no stop
    filter (``english`` filters with the fixed list; custom lists never
    stem — they are the plain ``stop`` chain with different words)."""
    if analyzer_base in ("stop", "english") or analyzer_base.startswith("stop:"):
        return stop_set(analyzer_base)
    return None


def pattern_of(analyzer: str) -> str:
    """The split regex of a ``pattern``/``pattern:<regex>`` analyzer
    string (Java/RE2-shared dialect; callers pass it verbatim to Spark's
    ``split`` and DuckDB's ``string_split_regex``). CAPTURING groups are
    rejected: Python's ``re.split`` would include the captured delimiter
    text in the token stream while Java/RE2 split drops it — the one
    construct that breaks the fused ≡ sql tokenizer invariant. Use
    ``(?:...)``."""
    _head, sep, pat = analyzer.partition(":")
    if sep and not pat:
        raise ValueError("pattern analyzer needs a non-empty split regex")
    pat = pat or DEFAULT_PATTERN
    i = 0
    while True:
        i = pat.find("(", i)
        if i < 0:
            break
        if i > 0 and pat[i - 1] == "\\":
            i += 1
            continue
        if pat[i + 1 : i + 2] != "?":
            raise ValueError(
                "pattern analyzer split regex must not contain capturing "
                "groups (Python re.split keeps captures, Java/RE2 split "
                f"drops them — engines would disagree): use (?:...) in {pat!r}"
            )
        i += 1
    return pat


def _pattern_re(analyzer: str) -> re.Pattern:
    # re.ASCII pins \w/\W/\d/\b to the ASCII interpretation Java and RE2
    # use, so driver-side query analysis == JVM-side index analysis
    return re.compile(pattern_of(analyzer), re.ASCII)


# -- Porter stemmer ---------------------------------------------------------
# From-scratch implementation of the published Porter (1980) algorithm —
# the stemmer behind ES 1.x's snowball/porter analyzers, which the
# reference's documents passed through implicitly via ``prepareIndex``
# (ref: MessageHandler.java:135-139). The ``porter`` analyzer here is
# standard tokenization + this stemmer (no stop filter), applied
# identically at index and query time. Longest-matching-suffix-wins
# within each step: if the longest match's condition fails, the step
# makes NO change (the spec's rule — 'replacement' must not fall through
# from -ement to -ment).

_P_VOWELS = frozenset("aeiou")


def _p_is_cons(w: str, i: int) -> bool:
    c = w[i]
    if c in _P_VOWELS:
        return False
    if c == "y":
        return i == 0 or not _p_is_cons(w, i - 1)
    return True


def _p_measure(stem: str) -> int:
    """m in the [C](VC)^m[V] decomposition."""
    n, i, m = len(stem), 0, 0
    while i < n and _p_is_cons(stem, i):
        i += 1
    while True:
        if i >= n:
            return m
        while i < n and not _p_is_cons(stem, i):
            i += 1
        if i >= n:
            return m
        m += 1
        while i < n and _p_is_cons(stem, i):
            i += 1


def _p_has_vowel(stem: str) -> bool:
    return any(not _p_is_cons(stem, i) for i in range(len(stem)))


def _p_double_cons(w: str) -> bool:
    return len(w) >= 2 and w[-1] == w[-2] and _p_is_cons(w, len(w) - 1)


def _p_cvc(w: str) -> bool:
    """*o: ends consonant-vowel-consonant, final consonant not w/x/y."""
    n = len(w)
    return (
        n >= 3
        and _p_is_cons(w, n - 3)
        and not _p_is_cons(w, n - 2)
        and _p_is_cons(w, n - 1)
        and w[-1] not in "wxy"
    )


def _p_rules(w: str, rules: tuple[tuple[str, str], ...], min_m: int) -> str:
    """Longest matching suffix wins; apply iff m(stem) > min_m−1."""
    for suf, rep in rules:
        if w.endswith(suf):
            stem = w[: len(w) - len(suf)]
            if _p_measure(stem) >= min_m:
                return stem + rep
            return w
    return w


_P_STEP2 = (  # pre-sorted longest-first
    ("ational", "ate"), ("ization", "ize"), ("iveness", "ive"),
    ("fulness", "ful"), ("ousness", "ous"), ("tional", "tion"),
    ("biliti", "ble"), ("entli", "ent"), ("ousli", "ous"),
    ("ation", "ate"), ("alism", "al"), ("aliti", "al"), ("iviti", "ive"),
    ("enci", "ence"), ("anci", "ance"), ("izer", "ize"), ("abli", "able"),
    ("alli", "al"), ("ator", "ate"), ("eli", "e"),
)
_P_STEP3 = (
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ness", ""), ("ful", ""),
)
_P_STEP4 = (
    ("ement", ""), ("ance", ""), ("ence", ""), ("able", ""), ("ible", ""),
    ("ment", ""), ("ant", ""), ("ent", ""), ("ism", ""), ("ate", ""),
    ("iti", ""), ("ous", ""), ("ive", ""), ("ize", ""), ("ion", ""),
    ("al", ""), ("er", ""), ("ic", ""), ("ou", ""),
)


def porter_stem(word: str) -> str:
    w = word
    if len(w) <= 2:
        return w
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]
    # step 1b
    if w.endswith("eed"):
        if _p_measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        stripped = False
        if w.endswith("ed") and _p_has_vowel(w[:-2]):
            w, stripped = w[:-2], True
        elif w.endswith("ing") and _p_has_vowel(w[:-3]):
            w, stripped = w[:-3], True
        if stripped:
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _p_double_cons(w) and w[-1] not in "lsz":
                w = w[:-1]
            elif _p_measure(w) == 1 and _p_cvc(w):
                w += "e"
    # step 1c
    if w.endswith("y") and _p_has_vowel(w[:-1]):
        w = w[:-1] + "i"
    w = _p_rules(w, _P_STEP2, 1)
    w = _p_rules(w, _P_STEP3, 1)
    # step 4 (the -ion rule additionally requires the stem to end s/t)
    for suf, _rep in _P_STEP4:
        if w.endswith(suf):
            stem = w[: len(w) - len(suf)]
            if _p_measure(stem) > 1 and (suf != "ion" or (stem and stem[-1] in "st")):
                w = stem
            break
    # step 5a
    if w.endswith("e"):
        m = _p_measure(w[:-1])
        if m > 1 or (m == 1 and not _p_cvc(w[:-1])):
            w = w[:-1]
    # step 5b
    if w.endswith("l") and _p_double_cons(w) and _p_measure(w) > 1:
        w = w[:-1]
    return w


def tokenize_text(text: str | None, analyzer: str = "standard") -> list[str]:
    """Single-string tokenizer (driver-side, for query analysis).

    ``analyzer='stop'`` applies the ES stop token filter after
    tokenization; ``analyzer='porter'`` applies the Porter stemmer to
    every token; ``'whitespace'``/``'keyword'`` use their own tokenizers
    (case-preserving; see ANALYZERS) — in every case the same chain the
    index build runs, so query and index analysis stay symmetric (ES's
    invariant)."""
    _check_analyzer(analyzer)
    cf, analyzer = split_char_filter(analyzer)
    s = text or ""
    if cf == "html_strip":
        s = strip_html(s)
    if analyzer == "whitespace":
        return _WS_RE.findall(s)
    if analyzer == "keyword":
        return [s] if s else []
    if analyzer == "simple":
        return _SIMPLE_RE.findall(s.lower())
    if analyzer.startswith("pattern"):
        return [t for t in _pattern_re(analyzer).split(s.lower()) if t]
    toks = _TOKEN_RE.findall(s.lower())
    st = _stops_of(analyzer)
    if st is not None:
        toks = [t for t in toks if t not in st]
    if analyzer in ("porter", "english"):
        toks = [porter_stem(t) for t in toks]
    return toks


def analyze_positions(text: str | None, analyzer: str = "standard") -> tuple[list[str], list[int]]:
    """(tokens, positions) with Lucene position increments: for the
    stop/english analyzers, removed stopwords leave GAPS in the position
    stream (position-increment semantics — what phrase matching and the
    ES ``_analyze`` API both need); every other analyzer maps its own
    token stream 1:1 so positions are the identity over it."""
    _check_analyzer(analyzer)
    cf, base = split_char_filter(analyzer)
    st = _stops_of(base)
    if st is None:
        toks = tokenize_text(text, analyzer)
        return toks, list(range(len(toks)))
    # positions are offsets into the POST-char-filter token stream (the
    # same stream the fused index kernel counts), so strip first
    s = strip_html(text or "") if cf == "html_strip" else text
    slots, offsets = [], []
    for i, t in enumerate(tokenize_text(s)):
        if t not in st:
            slots.append(porter_stem(t) if base == "english" else t)
            offsets.append(i)
    return slots, offsets


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(s: pd.Series) -> pd.Series:
    return s.fillna("").str.lower().str.findall(_TOKEN_RE)


@F.pandas_udf(T.ArrayType(T.StringType()))
def _ws_udf(s: pd.Series) -> pd.Series:
    return s.fillna("").str.findall(_WS_RE)


@F.pandas_udf(T.ArrayType(T.StringType()))
def _kw_udf(s: pd.Series) -> pd.Series:
    return s.fillna("").apply(lambda x: [x] if x else [])


@F.pandas_udf(T.ArrayType(T.StringType()))
def _simple_udf(s: pd.Series) -> pd.Series:
    return s.fillna("").str.lower().str.findall(_SIMPLE_RE)


def _pattern_udf(analyzer: str):
    """Arrow-batched tokenizer for a ``pattern``/``pattern:<regex>``
    analyzer (closure over the compiled ASCII-dialect split regex —
    the pattern is per-index configuration, so the UDF is built per
    call, not at import)."""
    pat = _pattern_re(analyzer)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def f(s: pd.Series) -> pd.Series:
        return s.fillna("").str.lower().map(
            lambda x: [t for t in pat.split(x) if t]
        )

    return f


@F.pandas_udf(T.ArrayType(T.StringType()))
def _porter_arr_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched Porter pass over array<string> token columns. The
    per-batch memo means each distinct surface form is stemmed once per
    batch (Zipf makes the vocab tiny next to the token count)."""
    memo: dict = {}

    def stem_list(toks):
        out = []
        for t in toks:
            v = memo.get(t)
            if v is None:
                v = porter_stem(t)
                memo[t] = v
            out.append(v)
        return out

    return s.apply(stem_list)


def tokenize_col(c: Column, analyzer: str = "standard") -> Column:
    """JVM-side tokenizer: split on non-token runs, drop empties.
    ``analyzer='stop'`` additionally drops STOP_WORDS (order and
    duplicate tokens preserved — a token FILTER, not a set op).
    ``analyzer='porter'`` stems every token; the stem step routes
    through an Arrow pandas UDF (a real stemmer is not expressible as a
    Column), so this path is vectorized but not whole-stage-codegen —
    the fused kernel remains the build hot path. ``'whitespace'`` and
    ``'keyword'`` stay pure Column expressions (no lowercasing)."""
    _check_analyzer(analyzer)
    cf, analyzer = split_char_filter(analyzer)
    base = F.coalesce(c, F.lit(""))
    if cf == "html_strip":
        base = strip_html_col(base)
    if analyzer == "whitespace":
        return F.filter(F.split(base, r"\s+"), lambda x: x != F.lit(""))
    if analyzer == "keyword":
        return F.filter(F.array(base), lambda x: x != F.lit(""))
    if analyzer == "simple":
        return F.filter(
            F.split(F.lower(base), "[^a-z]+"), lambda x: x != F.lit("")
        )
    if analyzer.startswith("pattern"):
        return F.filter(
            F.split(F.lower(base), pattern_of(analyzer)),
            lambda x: x != F.lit(""),
        )
    parts = F.split(F.lower(base), "[^a-z0-9]+")
    toks = F.filter(parts, lambda x: x != F.lit(""))
    st = _stops_of(analyzer)
    if st is not None:
        toks = F.filter(toks, lambda x: ~x.isin(*sorted(st)))
    if analyzer in ("porter", "english"):
        toks = _porter_arr_udf(toks)
    return toks


def tokens_from(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    method: str = "sql",
    analyzer: str = "standard",
) -> DataFrame:
    """(id..., term, tf) term frequencies per document.

    ``method='sql'`` keeps tokenize + explode + count inside one
    whole-stage-codegen'd stage (one shuffle for the groupBy);
    ``method='pandas'`` routes the tokenizer through the Arrow pandas UDF;
    ``method='fused'`` delegates to :func:`doc_term_freqs` (zero-shuffle,
    the index-build hot path) and drops its extra ``dl`` column. Documents
    with no tokens produce no rows here (their dl=0 is still tracked by
    doc_stats).
    """
    _check_analyzer(analyzer)
    if method == "fused":
        if id_cols != ("doc_id",):
            raise ValueError("fused tokenizer requires id_cols=('doc_id',)")
        return doc_term_freqs(df, text_col=text_col, analyzer=analyzer).drop("dl")
    if method == "pandas":
        cf, base_an = split_char_filter(analyzer)
        txt = (
            strip_html_col(F.coalesce(F.col(text_col), F.lit("")))
            if cf == "html_strip"
            else F.col(text_col)
        )
        if base_an == "whitespace":
            tok = _ws_udf(txt)
        elif base_an == "keyword":
            tok = _kw_udf(txt)
        elif base_an == "simple":
            tok = _simple_udf(txt)
        elif base_an.startswith("pattern"):
            tok = _pattern_udf(base_an)(txt)
        else:
            tok = tokenize_udf(txt)
            st = _stops_of(base_an)
            if st is not None:
                tok = F.filter(tok, lambda x: ~x.isin(*sorted(st)))
            if base_an in ("porter", "english"):
                tok = _porter_arr_udf(tok)
    else:
        tok = tokenize_col(F.col(text_col), analyzer=analyzer)
    exploded = df.select(*id_cols, F.explode(tok).alias("term"))
    return exploded.groupBy(*id_cols, "term").agg(F.count("*").alias("tf"))


def term_freqs_schema(id_col: str = "doc_id", positions: bool = False) -> str:
    """DDL of the rows :func:`term_freqs` returns — the forward index
    (``tokens`` table) layout."""
    schema = f"{id_col} long, term string, tf int, dl int"
    return schema + ", positions array<int>" if positions else schema


def term_freqs(
    pdf: pd.DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    positions: bool = False,
    analyzer: str = "standard",
) -> pd.DataFrame | None:
    """(id, term, tf, dl[, positions]) rows of one pandas batch of
    documents, or None when the batch yields no token — the one analyzer
    body behind :func:`doc_term_freqs` (run per Arrow batch inside
    ``mapInPandas``) and the driver-side segment build, which calls it on
    a whole collected batch. Rows never depend on the batching: a
    (doc, term) group never spans documents."""
    from itertools import chain

    import numpy as np

    char_filter, analyzer = split_char_filter(analyzer)
    _st = _stops_of(analyzer)
    stop_arr = np.array(sorted(_st), dtype=object) if _st is not None else None
    if not len(pdf):
        return None
    txt = pdf[text_col].fillna("")
    if char_filter == "html_strip":
        txt = txt.str.replace(_HTML_TAG_RE, " ", regex=True)
        for ent, rep in _HTML_ENTITIES:
            txt = txt.str.replace(ent, rep, regex=False)
    if analyzer == "whitespace":
        toks = txt.str.findall(_WS_RE)
    elif analyzer == "keyword":
        toks = txt.map(lambda x: [x] if x else [])
    elif analyzer == "simple":
        toks = txt.str.lower().str.findall(_SIMPLE_RE)
    elif analyzer.startswith("pattern"):
        pat = _pattern_re(analyzer)
        toks = txt.str.lower().map(lambda x: [t for t in pat.split(x) if t])
    else:
        toks = txt.str.lower().str.findall(_TOKEN_RE)
    lens = toks.str.len().to_numpy(dtype=np.int64)
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return None
    flat = np.fromiter(chain.from_iterable(toks), dtype=object, count=total)
    rep_ids = np.repeat(ids, lens)
    if stop_arr is not None:
        # original in-doc offsets BEFORE filtering (Lucene position
        # increments), then drop stopped tokens everywhere
        orig_pos = (
            np.arange(total, dtype=np.int64)
            - np.repeat(np.cumsum(lens) - lens, lens)
        ).astype(np.int32)
        keep = ~np.isin(flat, stop_arr)
        flat, rep_ids, orig_pos = flat[keep], rep_ids[keep], orig_pos[keep]
        total = int(flat.shape[0])
        if total == 0:
            return None
        kept_ids, kept_counts = np.unique(rep_ids, return_counts=True)
        dl_map = pd.Series(kept_counts, index=kept_ids)
    else:
        orig_pos = None
        dl_map = pd.Series(lens, index=ids)
    if analyzer in ("porter", "english"):
        codes, uniq = pd.factorize(flat, sort=False)
        stemmed = np.array([porter_stem(t) for t in uniq], dtype=object)
        flat = stemmed[codes]
    if positions:
        # fully vectorized (doc, term) grouping: factorize terms to
        # int codes, lexsort (doc, code, pos), then group boundaries
        # by change detection and position lists via np.split — no
        # pandas .agg(list) (per-group Python list building was the
        # dominant cost of the positions build)
        if orig_pos is not None:
            pos = orig_pos
        else:
            pos = (
                np.arange(total, dtype=np.int64)
                - np.repeat(np.cumsum(lens) - lens, lens)
            ).astype(np.int32)
        codes, uniq_terms = pd.factorize(flat, sort=False)
        order = np.lexsort((pos, codes, rep_ids))
        ids_s, codes_s, pos_s = rep_ids[order], codes[order], pos[order]
        change = np.empty(total, dtype=bool)
        change[0] = True
        change[1:] = (ids_s[1:] != ids_s[:-1]) | (codes_s[1:] != codes_s[:-1])
        starts = np.flatnonzero(change)
        tf = np.diff(np.append(starts, total))
        g = pd.DataFrame(
            {
                id_col: ids_s[starts],
                "term": uniq_terms[codes_s[starts]],
                "tf": tf,
                "positions": pd.Series(np.split(pos_s, starts[1:])),
            }
        )
    else:
        g = (
            pd.DataFrame({id_col: rep_ids, "term": flat})
            .groupby([id_col, "term"], sort=False, observed=True)
            .size()
            .reset_index(name="tf")
        )
    g["dl"] = g[id_col].map(dl_map).astype(np.int32)
    g["tf"] = g["tf"].astype(np.int32)
    if positions:
        g = g[[id_col, "term", "tf", "dl", "positions"]]
    return g


def doc_term_freqs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    positions: bool = False,
    analyzer: str = "standard",
) -> DataFrame:
    """(doc_id, term, tf, dl[, positions]) in ONE narrow pass — the
    index-build hot path.

    The per-(doc, term) count is an aggregation whose groups never span
    rows, so the Catalyst formulation (explode → groupBy) would shuffle
    the entire exploded token stream for nothing. This Arrow-batched
    kernel tokenizes and counts inside each input partition: zero
    shuffles, and ``dl`` (document length) rides along so downstream
    consumers (posting pack) never join doc_stats. Output is identical
    (modulo the dl column) to ``tokens_from(method='sql')`` — asserted in
    tests.

    ``positions=True`` additionally emits each term's in-document token
    offsets (ascending array<int>) — the Lucene positions stream that
    phrase queries need.

    ``analyzer='stop'`` filters STOP_WORDS after tokenization, Lucene
    stop-filter style: ``dl`` counts surviving tokens only (field norms
    exclude stopped tokens) while ``positions`` keep their ORIGINAL
    in-document offsets (position increments preserved, so phrase gaps
    behave like Lucene's). The filter is a vectorized np.isin over the
    flattened token stream — zero cost on the default analyzer.

    ``analyzer='porter'`` stems every token in place (1:1 — ``dl`` and
    positions are unchanged): the flat token stream is factorized so
    each distinct surface form in the batch is stemmed ONCE, then mapped
    back through the integer codes — the stemmer's cost scales with the
    batch vocabulary, not the token count. Two surface forms stemming to
    the same term within a document merge into one (doc, term) row with
    summed tf and unioned positions, exactly Lucene's behavior.

    ``analyzer='whitespace'`` tokenizes on whitespace runs with NO
    lowercasing; ``'keyword'`` emits the whole field as one verbatim
    term (dl=1, position [0]; empty/null fields emit nothing) — both
    reuse the same count/positions machinery unchanged.
    """
    _check_analyzer(analyzer)

    def fused(batches):
        for pdf in batches:
            g = term_freqs(pdf, text_col, id_col, positions, analyzer)
            if g is not None:
                yield g

    return df.select(id_col, text_col).mapInPandas(
        fused, schema=term_freqs_schema(id_col, positions)
    )
