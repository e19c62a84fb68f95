"""Text analysis for training-data pipelines (SURVEY.md §2 C-llm-text;
BASELINE.json extension surface): language ID, quality scoring, token
counting, document fingerprinting.

Every function is a pure Column expression (JVM-side) with semantics
chosen to be reproducible in ANSI SQL engines — the driver's DuckDB
oracle runs the same formulas.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.strings import token_count, tokens

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
# Deliberately minimal and public-knowledge; real deployments plug in
# fastText or CLD — the *plumbing* (profile scoring, argmax with
# deterministic tie-break) is what the engine provides.
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "en": ["the", "a", "of", "and", "is", "to", "in", "that"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "una"],
    "fr": ["le", "la", "les", "des", "est", "une", "que", "et"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我"],
}

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# char-class tables for translate()-based (regex-free) counting
_WS_CHARS = " \t\n\r\f\x0b"
_LETTERS = "".join(chr(c) for c in list(range(65, 91)) + list(range(97, 123)))
_DIGITS = "0123456789"


def profile_scores(text_col: Column | str) -> dict[str, Column]:
    """Stopword-overlap score per language: |distinct tokens ∩ profile|."""
    t = F.array_distinct(tokens(text_col))
    return {
        lang: F.size(F.array_intersect(t, F.array(*[F.lit(w) for w in words])))
        for lang, words in sorted(LANG_PROFILES.items())
    }


def language_id(text_col: Column | str) -> Column:
    """Predicted language: argmax profile score, ties broken by language
    code ascending (deterministic, ANSI-reproducible)."""
    scores = profile_scores(text_col)
    best = F.greatest(*scores.values())
    expr = F.lit(None).cast("string")
    # reversed so the FIRST language in sorted order wins ties
    for lang in sorted(scores, reverse=True):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return expr


def bpe_ish_token_count(text_col: Column | str) -> Column:
    """Sub-word-ish token count via the BPE-style pre-tokenizer.

    Same value as ``size(regexp_extract_all(text, BPE_ISH_PATTERN))``
    but computed as (letter runs + digit runs + punct chars) over a
    ``translate``-canonicalized copy (letters→'a', digits→'0'), so the
    only regexes left are the trivial single-char-class ``a+`` / ``0+``
    — measured 0.55 s vs 2.53 s for the alternation-regex extract_all
    at 64× sf0.1 (java.util.regex alternation was the whole cost of
    llm_text_stats; BASELINE.md round-3 table). Diffed 0 rows against
    the regex form on the replicated corpus.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    canon = F.translate(c, _LETTERS + _DIGITS, "a" * 52 + "0" * 10)
    punct_chars = F.length(F.translate(c, _LETTERS + _DIGITS + _WS_CHARS, ""))
    return (
        F.regexp_count(canon, F.lit("a+"))
        + F.regexp_count(canon, F.lit("0+"))
        + punct_chars
    )


def punct_ratio(text_col: Column | str) -> Column:
    """Fraction of non-alphanumeric, non-space characters.

    ``translate`` (char-map, no regex) deletes the ASCII alnum+ws
    classes — same value as the ``[A-Za-z0-9\\s]`` regexp_replace form,
    ~1.5× cheaper per scan."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    total = F.length(c)
    punct = F.length(F.translate(c, _LETTERS + _DIGITS + _WS_CHARS, ""))
    return F.when(total > 0, punct / total).otherwise(F.lit(0.0))


def mean_token_len(text_col: Column | str) -> Column:
    """Mean token length = non-whitespace chars / token count.

    Tokens are maximal non-whitespace runs, so Σ len(token) is exactly
    the count of non-whitespace characters — two length() calls replace
    the F.aggregate lambda, which runs interpreted (CodegenFallback)
    and measured ~10 s alone at 64× sf0.1 vs ~1.7 s for this form.
    Identical integer inputs → bit-identical double result.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n = F.size(tokens(text_col))
    total = F.length(F.regexp_replace(c, r"\s", ""))
    return F.when(n > 0, total / n).otherwise(F.lit(0.0))


def quality_score(text_col: Column | str) -> Column:
    """Composite document-quality heuristic in [0, 1].

    Rewards in-range length and token shape, penalizes punctuation soup —
    the standard cheap pre-filter before model-based scoring. Formula is
    ANSI-expressible for oracle parity.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_tok = token_count(c)
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))          # saturates at 20 tokens
    tok_len = mean_token_len(c)
    shape_score = F.when((tok_len >= 3) & (tok_len <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_penalty = F.least(punct_ratio(c) * 2, F.lit(1.0))
    score = len_score * 0.5 + shape_score * 0.3 + (1 - punct_penalty) * 0.2
    return F.round(score, 6)


def rolling_fingerprint(text_col: Column | str, modulus: int = 1_000_000_007) -> Column:
    """Order-sensitive polynomial rolling hash over tokens (BIGINT).

    fp = fold(tokens, h -> (h*31 + length(tok)*7 + ascii(first char)) % M).
    Engine-portable (same arithmetic in ANSI SQL), order-sensitive where
    the md5 content fingerprint is not.
    """
    t = tokens(text_col)
    return F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + F.length(x).cast("long") * 7 + F.ascii(x).cast("long")) % modulus,
    )


def strip_markup(text_col: Column | str) -> Column:
    """Crawl text extraction: markup → clean text, pure Column regex.

    The first pass every web-crawl corpus runs (the boilerplate-removal
    stage trafilatura/jusText do with DOM heuristics — here the
    engine-portable regex core): (1) drop <script>/<style> blocks with
    their CONTENT (code is not prose), (2) drop remaining tags keeping
    their content, (3) decode the six common entities AFTER tag removal
    (decoding first would let '&lt;script&gt;' re-materialize as a
    tag), (4) collapse whitespace. Fully codegen, shuffle-free; the
    identical regex/replace pipeline runs in ANSI oracles
    (llm_html_strip).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # (?is): dot-all for multi-line blocks, case-insensitive tag names.
    # Two separate patterns, not one with a \1 backreference: the oracle
    # runs under RE2 (DuckDB), which has no backreferences.
    no_script = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    no_blocks = F.regexp_replace(no_script, r"(?is)<style[^>]*>.*?</style>", " ")
    no_tags = F.regexp_replace(no_blocks, r"(?s)<[^>]+>", " ")
    decoded = no_tags
    for ent, ch in [
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ]:
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(decoded, r"\s+", " "))
