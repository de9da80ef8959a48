"""Text analysis operators: tokenization, language-ID, quality scoring,
token counting, fingerprinting.

All pure column expressions (JVM-side, whole-stage codegen) — no UDFs in
any of these paths, so they scale linearly with no Python serialization.
Each has a matching SQL rendering used by the differential oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.aggregates import NANO, qlong, sql_qlong
from .hashing import hash60, sql_hash60

# Tiny built-in stopword lists for the language-ID heuristic. A real
# deployment swaps in character-n-gram profiles; the *shape* of the
# operator (per-language token-hit scoring, argmax with deterministic
# tie-break) is what matters at the engine level.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein", "mit"),
    "en": ("the", "and", "of", "to", "is", "a", "in", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "que"),
    "zh": ("de", "shi", "bu", "le", "wo", "ni", "ta", "men"),
}

# The English stopword-ratio classifier that the eval_* and stats_*
# entries score documents with: the share of a document's tokens that
# are in this list.
EN_STOPWORDS = ("the", "a", "of", "and", "is")

TOKEN_SPLIT = r"\s+"
# BPE-ish word/number/punctuation pieces (public GPT-2-style pre-tokenizer
# shape: word chars, digits, or single non-space symbols).
BPE_PIECE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (lowercased), empty tokens removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(F.trim(c)), TOKEN_SPLIT), lambda t: t != "")


def sql_tokens(expr: str) -> str:
    return f"list_filter(regexp_split_to_array(lower(trim({expr})), '\\s+'), t -> t != '')"


def stop_ratio(toks: Column | str) -> Column:
    """Share of a token array's tokens that are ``EN_STOPWORDS``, as an
    unrounded double. Callers round it or guard the empty document."""
    t = F.col(toks) if isinstance(toks, str) else toks
    return F.size(F.filter(t, lambda w: w.isin(*EN_STOPWORDS))) / F.size(t).cast("double")


def sql_stop_ratio(toks_expr: str) -> str:
    """DuckDB rendering of :func:`stop_ratio` over a token-array expression."""
    words = ", ".join(repr(w) for w in EN_STOPWORDS)
    return f"len(list_filter({toks_expr}, t -> t IN ({words}))) / CAST(len({toks_expr}) AS DOUBLE)"


def token_count_whitespace(col: Column | str) -> Column:
    return F.size(tokens(col))


def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish piece count via regex extraction (upper bound on BPE tokens)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PIECE), F.lit(0)))


def lang_scores(toks: Column) -> list[tuple[str, Column]]:
    """Per-language stopword-hit counts over a token array column."""
    def hit(markers: tuple[str, ...]):
        # unary lambda: a defaulted second param would receive the index
        return lambda t: t.isin(*markers)

    out = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        out.append((lang, F.size(F.filter(toks, hit(markers)))))
    return out


def lang_id(toks: Column) -> Column:
    """Argmax language with deterministic tie-break (lowest code wins);
    'und' (undetermined) when no marker hits at all."""
    scores = lang_scores(toks)
    # Build max via greatest, then first language reaching it.
    best = F.greatest(*[s for _, s in scores])
    expr: Column = F.lit("und")
    for lang, s in reversed(scores):
        expr = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def sql_lang_id(toks_expr: str) -> str:
    """DuckDB rendering of :func:`lang_id` over a token-array expression."""
    score = {
        lang: f"len(list_filter({toks_expr}, t -> t IN ({', '.join(repr(m) for m in markers)})))"
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    best = f"greatest({', '.join(score.values())})"
    case = "CASE "
    for lang in sorted(score):
        case += f"WHEN {score[lang]} = {best} AND {best} > 0 THEN '{lang}' "
    case += "ELSE 'und' END"
    return case


def quality_features(col: Column | str) -> dict[str, Column]:
    """Deterministic quality signals (shape per Gopher/C4-style filters):
    char length, token count, mean token length, punctuation ratio,
    stopword ratio, uppercase ratio."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    all_markers = sorted({m for ms in LANG_MARKERS.values() for m in ms})
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*all_markers)))
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    n_upper = F.length(c) - F.length(F.regexp_replace(c, r"[A-Z]", ""))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "mean_token_len": F.try_divide(
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t).cast("long")).cast("double"),
            n_tokens.cast("double"),
        ),
        "punct_ratio": F.try_divide(n_punct.cast("double"), n_chars.cast("double")),
        "stopword_ratio": F.try_divide(stop_hits.cast("double"), n_tokens.cast("double")),
        "upper_ratio": F.try_divide(n_upper.cast("double"), n_chars.cast("double")),
    }


def quality_score(col: Column | str) -> Column:
    """Composite [0,1]-ish quality score: rewards stopword density and
    mid-range length, penalizes punctuation soup. Weights are arbitrary but
    fixed — the operator shape (vectorized feature fusion) is the point."""
    f = quality_features(col)
    length_term = F.least(f["n_tokens"].cast("double") / F.lit(100.0), F.lit(1.0))
    return (
        F.lit(0.4) * F.coalesce(f["stopword_ratio"], F.lit(0.0))
        + F.lit(0.4) * length_term
        + F.lit(0.2) * (F.lit(1.0) - F.least(F.coalesce(f["punct_ratio"], F.lit(0.0)) * 4, F.lit(1.0)))
    )


def fingerprint_tokenset(col: Column | str) -> Column:
    """Order-insensitive document fingerprint: 60-bit hash of the sorted
    distinct token set. Identical wording ⇒ identical fingerprint;
    robust to shuffled word order (bag-of-words near-dup key)."""
    return hash60(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))))


def sql_fingerprint_tokenset(expr: str) -> str:
    return sql_hash60(
        f"array_to_string(list_sort(list_distinct({sql_tokens(expr)})), ' ')"
    )


def fingerprint_prefix(col: Column | str, k: int = 8) -> Column:
    """Positional fingerprint: hash of the first k tokens (prefix near-dup
    key — catches truncation/extension duplicates)."""
    return hash60(F.concat_ws(" ", F.slice(tokens(col), 1, k)))


def sql_fingerprint_prefix(expr: str, k: int = 8) -> str:
    return sql_hash60(f"array_to_string(list_slice({sql_tokens(expr)}, 1, {k}), ' ')")


def winnow_fingerprints(col: Column | str, k: int = 3, w: int = 4) -> Column:
    """Winnowing fingerprint set (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS algorithm): hash every POSITIONAL k-token shingle, slide a
    window of w consecutive hashes, keep each window's minimum. Guarantees
    every shared run of w+k-1 tokens between two documents contributes at
    least one shared fingerprint, with expected density 2/(w+1) — the
    robust middle ground between the whole-doc hash (brittle) and keeping
    all shingles (bloated). Entirely row-local array math; returns the
    sorted distinct selected-hash set (array<bigint>).

    NOTE: this single-Column composition re-evaluates the hash subtree
    per window position when consumed (lambda bodies are interpreted,
    no cross-lambda subexpression reuse) — fine for unit-testing the
    guarantee on small frames; pipelines must use
    :func:`winnow_fp_frame`, whose staged projection evaluates each
    level once per row."""
    toks = tokens(col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    # positional shingles — duplicates must stay, windows are positional
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    hashes = F.transform(sh, lambda s: hash60(s))
    m = F.size(hashes)
    widx = F.sequence(F.lit(0), F.greatest(m - w, F.lit(0)))
    mins = F.transform(widx, lambda j: F.array_min(F.slice(hashes, j + 1, w)))
    return F.array_sort(F.array_distinct(mins))


def winnow_fp_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
    out_col: str = "fp",
) -> DataFrame:
    """:func:`winnow_fingerprints` as a staged projection — the form every
    pipeline should use. The single-Column composition embeds the
    ``hashes`` subtree inside the window-min lambda, and lambda bodies are
    interpreted per element with no cross-lambda subexpression reuse — so
    all the shingle md5s re-evaluate once PER WINDOW POSITION, turning
    O(tokens) row work into O(tokens·windows) (measured 27 s → 1.4 s at
    sf0.1 for this staging). Binding each level (shingles → hashes →
    minima) as a named column makes the lambdas reference bound attributes
    instead of expression trees; the multiply-referenced non-cheap aliases
    also stop CollapseProject from re-inlining them."""
    toks = tokens(text_col)
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_w_toks") - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(F.col("_w_toks"), i + 1, k)),
    )
    mins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_w_hashes") - w, F.lit(0))),
        lambda j: F.array_min(F.slice(F.col("_w_hashes"), j + 1, w)),
    )
    return (
        df.select(F.col(id_col), toks.alias("_w_toks"))
        .select(id_col, sh.alias("_w_sh"))
        .select(id_col, F.transform("_w_sh", lambda s: hash60(s)).alias("_w_hashes"))
        .select(id_col, F.array_sort(F.array_distinct(mins)).alias(out_col))
    )


def sql_winnow_fp_relation(
    k: int = 3, w: int = 4, table: str = "documents",
    id_expr: str = "doc_id", text_expr: str = "text",
) -> str:
    """DuckDB rendering of :func:`winnow_fingerprints` as a derived table
    ``(doc_id, fp array<bigint>)``. Stepwise FROM-chain, NOT one nested
    expression: each level (tokens → shingles → hashes → window minima)
    materializes as a real column evaluated once. The single-expression
    nesting duplicates every inner level at each reference (len + slice),
    so tokenization/md5 re-run multiplicatively — measured 85.6 s vs
    0.2 s for this form on the same sf0.01 corpus."""
    toks = sql_tokens(text_expr)
    return f"""(
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
             generate_series(1, greatest(len(hashes) - {w - 1}, 1)),
             j -> list_min(list_slice(hashes, j, j + {w - 1}))))) AS fp
  FROM (
    SELECT doc_id, list_transform(sh, s -> {sql_hash60('s')}) AS hashes
    FROM (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(toks) - {k - 1}, 1)),
                            i -> array_to_string(list_slice(toks, i, i + {k - 1}), ' ')) AS sh
      FROM (SELECT {id_expr} AS doc_id, {toks} AS toks FROM {table})
    )
  )
)"""


# Tiny fixed sentiment lexicon (AFINN-shaped: word → integer valence).
# A real deployment swaps in a full lexicon file broadcast the same way;
# the operator shape (explode → broadcast lexicon join → per-doc fusion)
# is what matters at the engine level.
SENTIMENT_LEXICON: dict[str, int] = {
    "good": 3, "great": 4, "excellent": 5, "love": 3, "best": 3,
    "happy": 3, "wonderful": 4, "amazing": 4, "gut": 3, "super": 3,
    "bad": -3, "terrible": -4, "awful": -4, "hate": -3, "worst": -4,
    "sad": -2, "poor": -2, "broken": -2, "schlecht": -3, "problem": -1,
}


def sql_sentiment_lexicon_values(alias: str = "lex") -> str:
    """DuckDB VALUES rendering of the lexicon for oracle SQL."""
    rows = ", ".join(f"('{w}', {v})" for w, v in SENTIMENT_LEXICON.items())
    return f"(VALUES {rows}) AS {alias}(word, weight)"


def sql_quality_score(text_expr: str, toks_expr: str) -> str:
    """DuckDB rendering of :func:`quality_score` (same fixed weights)."""
    markers = ", ".join(
        repr(m) for m in sorted({m for ms in LANG_MARKERS.values() for m in ms})
    )
    # Zero guards mirror the Spark side (try_divide + coalesce → 0.0):
    # an empty/whitespace-only doc scores exactly 0.2 in both engines
    # instead of NULL from DuckDB's double division by zero.
    stop_ratio = (
        f"(CASE WHEN len({toks_expr}) > 0 THEN "
        f"len(list_filter({toks_expr}, t -> t IN ({markers})))::DOUBLE / len({toks_expr}) "
        f"ELSE 0.0 END)"
    )
    punct_ratio = (
        f"(CASE WHEN length({text_expr}) > 0 THEN "
        f"(length({text_expr}) - length(regexp_replace({text_expr}, '[^\\w\\s]', '', 'g')))::DOUBLE"
        f" / length({text_expr}) ELSE 0.0 END)"
    )
    return (
        f"(0.4 * {stop_ratio}"
        f" + 0.4 * least(len({toks_expr})::DOUBLE / 100.0, 1.0)"
        f" + 0.2 * (1.0 - least({punct_ratio} * 4, 1.0)))"
    )


# --------------------------------------------------------------------------
# Within-document repetition
# --------------------------------------------------------------------------

def ngrams_all(col: Column | str, k: int = 3) -> Column:
    """All k-word n-grams of a text column, duplicates KEPT (contrast
    ``dedup.shingles``, which dedups for set semantics)."""
    toks = tokens(col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return F.filter(grams, lambda g: g != "")


def sql_ngrams_all(expr: str, k: int = 3) -> str:
    toks = sql_tokens(expr)
    return (
        f"list_filter(list_transform(generate_series(1, greatest(len({toks}) - {k - 1}, 1)), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' ')), g -> g != '')"
    )


def sql_repetition_score(expr: str, k: int = 3) -> str:
    grams = sql_ngrams_all(expr, k)
    return (
        f"(CASE WHEN len({grams}) > 0 "
        f"THEN 1.0 - len(list_distinct({grams}))::DOUBLE / len({grams})::DOUBLE "
        f"ELSE 0.0 END)"
    )


# --------------------------------------------------------------------------
# PII detection / redaction
# --------------------------------------------------------------------------

# Patterns restricted to syntax that Java regex (Spark) and RE2 (DuckDB)
# interpret identically: char classes, bounded repetition, \b, \d. No
# lookaround (RE2 has none), no backrefs. Redaction order matters (an
# already-redacted span can't re-match); both engines apply the same order.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
)


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts on the raw text (JVM-side regexp_count)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        f"n_{name}": F.regexp_count(c, F.lit(pat)) for name, pat, _ in PII_PATTERNS
    }


def pii_redact(col: Column | str) -> Column:
    """Scrub all PII kinds in PII_PATTERNS order (row-local, codegen'd)."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def sql_pii_counts(expr: str) -> dict[str, str]:
    return {
        f"n_{name}": f"len(regexp_extract_all({expr}, '{pat}'))"
        for name, pat, _ in PII_PATTERNS
    }


def sql_pii_redact(expr: str) -> str:
    for _, pat, token in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
    return expr


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Table A1 subset)
# --------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    col: Column | str, min_words: int = 50, max_words: int | None = 100_000
) -> list[Column]:
    """The Gopher quality-filter rules expressible on unstructured text
    (the line-shape rules — bullet/ellipsis ratios — need line breaks the
    corpus may not carry and live with the paragraph operators). Returns
    named boolean columns plus their measured inputs; the curation gate
    ANDs the booleans. All row-local array math in the Java-regex ∩ RE2
    subset, so the DuckDB rendering is semantics-identical."""
    toks = tokens(col)
    c = F.col(col) if isinstance(col, str) else col
    n = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    mean_wl = F.when(n > 0, sum_len.cast("double") / n.cast("double"))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_ratio = F.when(n > 0, n_alpha.cast("double") / n.cast("double"))
    n_hash = (F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))).cast("double")
    symbol_ratio = F.when(n > 0, n_hash / n.cast("double"))
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])))
    return [
        n.alias("n_words"),
        F.round(F.coalesce(mean_wl, F.lit(0.0)), 9).alias("mean_word_len"),
        F.round(F.coalesce(alpha_ratio, F.lit(0.0)), 9).alias("alpha_word_ratio"),
        F.round(F.coalesce(symbol_ratio, F.lit(0.0)), 9).alias("symbol_word_ratio"),
        n_stop.alias("n_stopwords"),
        (n >= min_words).alias("rule_word_count") if max_words is None else ((n >= min_words) & (n <= max_words)).alias("rule_word_count"),
        F.coalesce((mean_wl >= 3.0) & (mean_wl <= 10.0), F.lit(False)).alias("rule_mean_word_len"),
        F.coalesce(alpha_ratio >= 0.8, F.lit(False)).alias("rule_alpha_words"),
        F.coalesce(symbol_ratio <= 0.1, F.lit(False)).alias("rule_symbol_ratio"),
        (n_stop >= 2).alias("rule_stopwords"),
    ]


def sql_gopher_rules(
    text_expr: str = "text", min_words: int = 50, max_words: int | None = 100_000
) -> str:
    """DuckDB rendering of :func:`gopher_rules` as a SELECT-list fragment
    over a relation exposing ``{text_expr}`` (requires a ``toks`` lateral
    computed as ``sql_tokens``). ``max_words=None`` drops the upper bound
    in BOTH renderings (mirrors :func:`gopher_rules`)."""
    stop = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    wc_rule = (
        f"(len(toks) >= {min_words})"
        if max_words is None
        else f"(len(toks) >= {min_words} AND len(toks) <= {max_words})"
    )
    return f"""
  len(toks) AS n_words,
  round(coalesce(CASE WHEN len(toks) > 0
    THEN CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks) END, 0.0), 9) AS mean_word_len,
  round(coalesce(CASE WHEN len(toks) > 0
    THEN CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(toks) END, 0.0), 9) AS alpha_word_ratio,
  round(coalesce(CASE WHEN len(toks) > 0
    THEN CAST(length({text_expr}) - length(replace({text_expr}, '#', '')) AS DOUBLE) / len(toks) END, 0.0), 9) AS symbol_word_ratio,
  len(list_intersect(list_distinct(toks), [{stop}])) AS n_stopwords,
  {wc_rule} AS rule_word_count,
  coalesce(CASE WHEN len(toks) > 0
    THEN CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks) BETWEEN 3.0 AND 10.0 END, FALSE) AS rule_mean_word_len,
  coalesce(CASE WHEN len(toks) > 0
    THEN CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(toks) >= 0.8 END, FALSE) AS rule_alpha_words,
  coalesce(CASE WHEN len(toks) > 0
    THEN CAST(length({text_expr}) - length(replace({text_expr}, '#', '')) AS DOUBLE) / len(toks) <= 0.1 END, FALSE) AS rule_symbol_ratio,
  (len(list_intersect(list_distinct(toks), [{stop}])) >= 2) AS rule_stopwords"""


# --------------------------------------------------------------------------
# URL canonicalization (near-dup prevention for web corpora: the same page
# re-crawled under scheme/www/tracking-param/fragment variants must
# collapse to one canonical key before content dedup even runs)
# --------------------------------------------------------------------------

_TRACKING_PARAM = "^(utm_[a-z]+|fbclid|gclid)="


def canonical_url(col: Column | str) -> Column:
    """Canonical form of a URL: fragment stripped, utm_*/fbclid/gclid
    query params removed, scheme dropped, leading ``www.`` dropped, host
    lowercased, default :80/:443 port dropped, single trailing slash
    dropped. Pure row-local expression work in the Java-regex ∩ RE2
    subset, so :func:`sql_canonical_url` is semantics-identical."""
    c = F.col(col) if isinstance(col, str) else col
    defrag = F.regexp_replace(c, "#.*", "")
    query = F.regexp_extract(defrag, r"\?(.*)", 1)
    base = F.regexp_replace(defrag, r"\?.*", "")
    base = F.regexp_replace(base, "^https?://", "")
    host = F.regexp_extract(base, "^[^/]+", 0)
    rest = F.substring(base, F.length(host) + 1, F.lit(1 << 20))
    host_c = F.regexp_replace(
        F.regexp_replace(F.lower(host), r"^www\.", ""), ":(80|443)$", ""
    )
    rest_c = F.regexp_replace(rest, "/$", "")
    kept_q = F.array_join(
        F.filter(F.split(query, "&"), lambda p: ~p.rlike(_TRACKING_PARAM) & (p != "")),
        "&",
    )
    return F.concat(
        host_c, rest_c, F.when(kept_q != "", F.concat(F.lit("?"), kept_q)).otherwise(F.lit(""))
    )


def sql_canonical_url(expr: str) -> str:
    """DuckDB rendering of :func:`canonical_url`."""
    defrag = f"regexp_replace({expr}, '#.*', '')"
    query = f"coalesce(regexp_extract({defrag}, '\\?(.*)', 1), '')"
    base = f"regexp_replace(regexp_replace({defrag}, '\\?.*', ''), '^https?://', '')"
    host = f"coalesce(regexp_extract({base}, '^[^/]+', 0), '')"
    rest = f"substr({base}, length({host}) + 1)"
    host_c = (
        f"regexp_replace(regexp_replace(lower({host}), '^www\\.', ''), ':(80|443)$', '')"
    )
    rest_c = f"regexp_replace({rest}, '/$', '')"
    kept_q = (
        f"array_to_string(list_filter(string_split({query}, '&'), "
        f"p -> NOT regexp_matches(p, '{_TRACKING_PARAM}') AND p != ''), '&')"
    )
    return (
        f"({host_c} || {rest_c} || "
        f"CASE WHEN {kept_q} != '' THEN '?' || {kept_q} ELSE '' END)"
    )


# --------------------------------------------------------------------------
# Shannon-entropy quality signals (low char entropy = repeated-character
# spam; low word entropy = boilerplate/keyword stuffing — standard corpus
# quality heuristics next to the Gopher rules)
# --------------------------------------------------------------------------

def _entropy(items: Column) -> Column:
    """Shannon entropy (bits) of the multiset in an array column —
    row-local: O(n x distinct) comparisons, bounded by alphabet/typical
    vocab size per document. Each p*log2(p) term rounds at 9 dp before
    the sum (cross-libm parity, same convention as the LM operators)."""
    n = F.size(items)
    distinct = F.array_distinct(items)
    term = lambda c: F.round(  # noqa: E731
        (F.size(F.filter(items, lambda x: x == c)).cast("double") / n.cast("double"))
        * F.log2(F.size(F.filter(items, lambda x: x == c)).cast("double") / n.cast("double")),
        9,
    )
    total = F.aggregate(
        F.transform(distinct, term), F.lit(0.0).cast("double"), lambda acc, x: acc + x
    )
    return F.when(n > 0, F.round(-total, 9)).otherwise(F.lit(0.0))


def entropy_frame(
    df: DataFrame, id_col: str, items: Column, out_col: str
) -> DataFrame:
    """Frame-level Shannon entropy (bits) of the items multiset per id —
    the SCALABLE path: explode → (id, sym) counts → per-id totals →
    exact integer sum of nano-quantized p*log2(p) terms. Everything is
    codegen'd aggregation on skinny keys; the row-local `_entropy`
    column variant is O(n x distinct) *interpreted* lambda evaluation
    per row (fine for unit fixtures, ~60 s over sf0.1 documents — do
    not put it in a data path). Terms quantize at 1e-9 before the sum,
    so the aggregate is order-insensitive and engine-exact (the dsum
    convention at entropy precision).

    Returns ``(id_col, out_col)`` — one row per id that has >= 1 item;
    join back to the source spine and ``coalesce(0.0)`` for empties.
    """
    ex = df.select(F.col(id_col), F.explode(items).alias("_sym"))
    counts = ex.groupBy(id_col, "_sym").agg(F.count(F.lit(1)).alias("_c"))
    totals = counts.groupBy(id_col).agg(F.sum("_c").alias("_n"))
    p = F.col("_c").cast("double") / F.col("_n").cast("double")
    term_q = qlong(p * F.log2(p), NANO)
    return (
        counts.join(totals, id_col)
        .groupBy(id_col)
        .agg(
            F.round(-(F.sum(term_q).cast("double") / F.lit(1e9)), 9).alias(out_col)
        )
    )


def sql_entropy_cte(table: str, id_expr: str, items_expr: str, out_col: str) -> str:
    """DuckDB rendering of :func:`entropy_frame` as a standalone
    sub-select (one row per id with >= 1 item)."""
    return f"""(
  SELECT id,
         round(-(sum(term_q) / 1e9), 9) AS {out_col}
  FROM (
    SELECT id, {sql_qlong('(c / n) * log2(c / n)', NANO)} AS term_q
    FROM (
      SELECT id, sym, CAST(count(*) AS DOUBLE) AS c,
             CAST(sum(count(*)) OVER (PARTITION BY id) AS DOUBLE) AS n
      FROM (SELECT {id_expr} AS id, unnest({items_expr}) AS sym FROM {table})
      GROUP BY id, sym
    )
  )
  GROUP BY id
)"""


def char_items(col: Column | str) -> Column:
    """Character array of a string (empty entries removed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, ""), lambda x: x != "")


def sql_char_items(expr: str) -> str:
    return f"list_filter(string_split({expr}, ''), x -> x != '')"


# --------------------------------------------------------------------------
# C4-style line filters (Raffel et al. 2020, §2.2 "Colossal Clean Crawled
# Corpus" cleaning rules) — the line-level heuristic gate every web-crawl
# curation pipeline starts with. Reference parity target: the reference has
# no text layer at all; this extends its cleaning stage (analyse.py:155-171,
# null/blank drops) to the published line-rule set. Row-local, codegen
# end-to-end, usable inside higher-order lambdas.
# --------------------------------------------------------------------------

_C4_TERMINAL = (".", "!", "?", '"')


def c4_line_keep(line: Column) -> Column:
    """C4 keep-predicate for one line: (1) ends in terminal punctuation,
    (2) has >= 3 words, (3) no curly brace (code), (4) no 'lorem ipsum'.
    Works on plain and lambda columns."""
    last = line.substr(F.length(line), F.lit(1))
    words = F.size(F.filter(F.split(line, r"\s+"), lambda t: t != ""))
    return (
        last.isin(*_C4_TERMINAL)
        & (words >= F.lit(3))
        & ~line.contains("{")
        & ~F.lower(line).contains("lorem ipsum")
    )


def sql_c4_line_keep(expr: str) -> str:
    """DuckDB rendering of :func:`c4_line_keep` (same four rules)."""
    return (
        f"(right({expr}, 1) IN ('.', '!', '?', '\"')"
        f" AND len(list_filter(regexp_split_to_array({expr}, '\\s+'), t -> t != '')) >= 3"
        f" AND NOT contains({expr}, '{{')"
        f" AND NOT contains(lower({expr}), 'lorem ipsum'))"
    )
