"""Text-analysis functions for the training-data pipeline tier.

All introduced per the graft brief (no reference counterpart — the
reference ends at contact fields): language ID, quality scoring, token
counting. Every function here is a pure column expression. Formulas
are intentionally replicable in ANSI SQL so the DuckDB oracle can
verify them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from acxspark.functions.normalize import _c, canonical_text

# tiny per-language stopword inventories for the n-gram heuristic;
# scoring = count of stopword occurrences (word-boundary) per language,
# argmax wins, ties → 'und'. Deliberately SQL-replicable.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "des"],
}


def _word_count(col: Column, word: str) -> Column:
    """Occurrences of ``word`` as a whitespace-delimited token — exact
    token-equality count over the split (DuckDB twin:
    queries._wc_sql, generated in lockstep).

    Split+filter, NOT the earlier padded-replace trick: a
    non-overlapping replace of ``' w '`` consumes the shared delimiter
    of ADJACENT repeats, so ``'the the the'`` counted 2 instead of 3
    (off in every consumer — lang scores, stopword ratios, the Gopher
    stop-word rule near its threshold)."""
    toks = F.split(col, r"\s+")
    return F.size(F.filter(toks, lambda t: t == F.lit(word))).cast("double")


def lang_scores(col) -> dict[str, Column]:
    c = canonical_text(_c(col))
    return {lang: sum(_word_count(c, w) for w in ws) for lang, ws in LANG_STOPWORDS.items()}


def lang_id(col) -> Column:
    """Argmax language by stopword hits; 0 hits everywhere → 'und'.

    Ties break by the fixed order en > es > de > fr (greatest wins,
    first listed on equal score).
    """
    scores = lang_scores(col)
    best = None
    best_lang = None
    # build nested when: walk in priority order keeping strict '>' so
    # earlier languages win ties
    expr = F.lit("und")
    running_max = F.lit(0.0)
    for lang in ["fr", "de", "es", "en"]:  # later overrides on >=
        s = scores[lang]
        expr = F.when(s >= running_max, F.when(s > 0, F.lit(lang)).otherwise(expr)).otherwise(expr)
        running_max = F.greatest(running_max, s)
    return expr


def token_count_ws(col) -> Column:
    """Whitespace token count of canonical text; empty → 0."""
    c = canonical_text(_c(col))
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(
        F.size(F.split(c, " "))
    ).cast("int")


def token_count_bpe_ish(col) -> Column:
    """BPE-ish subword estimate: word-chunks + digits + punctuation
    each count; long words count ceil(len/6) pieces (a cheap stand-in
    for byte-pair merges, SQL-replicable)."""
    c = canonical_text(_c(col))
    words = F.split(c, " ")
    per_word = F.transform(words, lambda w: F.ceil(F.length(w) / F.lit(6.0)))
    return F.coalesce(
        F.aggregate(per_word, F.lit(0).cast("long"), lambda acc, x: acc + x), F.lit(0)
    ).cast("int")


def quality_score(col) -> Column:
    """Composite doc-quality heuristic in [0,1] — SQL-replicable:

    0.25*len_ok + 0.25*(1 - punct_ratio) + 0.25*stopword_ok + 0.25*word_len_ok
    - len_ok: 1 if 200 <= char_len <= 5000 else char_len/200 capped at 1
    - punct_ratio: non-alnum-non-space chars / char_len
    - stopword_ok: 1 if en-stopword hits / word_count >= 0.01
    - word_len_ok: 1 if 3 <= mean word len <= 12
    """
    c = canonical_text(_c(col))
    n = F.length(c)
    nz = F.greatest(n, F.lit(1))
    len_ok = F.least(n / F.lit(200.0), F.lit(1.0))
    punct = F.length(F.regexp_replace(c, r"[a-z0-9 ]", ""))
    punct_ratio = punct / nz
    wc = token_count_ws(c).cast("double")
    wcz = F.greatest(wc, F.lit(1.0))
    stop_hits = sum(_word_count(c, w) for w in LANG_STOPWORDS["en"])
    stop_ok = F.when(stop_hits / wcz >= 0.01, F.lit(1.0)).otherwise(F.lit(0.0))
    mean_wl = (n - (wc - 1)) / wcz  # chars minus separators over words
    wl_ok = F.when((mean_wl >= 3) & (mean_wl <= 12), F.lit(1.0)).otherwise(F.lit(0.0))
    return (
        F.lit(0.25) * len_ok
        + F.lit(0.25) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.25) * stop_ok
        + F.lit(0.25) * wl_ok
    )


# Gopher rule battery (Rae et al. 2021, arXiv:2112.11446 §A1.1) — the
# published document-level quality rules a web-scale training pipeline
# applies before dedup. The paper's thresholds, kept verbatim; every
# rule is a pure column expression with an exact DuckDB twin
# (registry query `gopher_rules_docs`).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _substr_count(col: Column, sub: str) -> Column:
    """Non-overlapping occurrences of ``sub`` — (len - len(replace))/len(sub),
    replicable verbatim in SQL."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(sub), F.lit(""))))
        / F.lit(len(sub))
    ).cast("long")


def gopher_rules(col, min_words: int = 50, max_words: int = 100_000) -> dict:
    """Gopher quality rules → dict of named boolean Columns + ``keep``.

    Rules (paper §A1.1; thresholds verbatim):
    - ``r_wordcount``:   word count in [50, 100000]
    - ``r_meanwl``:      mean word length in [3, 10]
    - ``r_hash``:        '#' symbols per word ≤ 0.1
    - ``r_ellipsis``:    '...'/'…' per word ≤ 0.1
    - ``r_bullet``:      ≤ 90% of lines start with a bullet ('- ', '* ', '•')
    - ``r_ellipsis_end``:≤ 30% of lines end with an ellipsis
    - ``r_alpha``:       ≥ 80% of words contain an alphabetic char
    - ``r_stop``:        ≥ 2 of the 8 Gopher stop words present
    - ``keep``:          AND of all rules

    Line rules run on the RAW text (canonicalization collapses
    newlines); word rules on canonical tokens. Zero-shuffle: the whole
    battery is one map-only projection.
    """
    raw = _c(col)
    c = canonical_text(raw)
    toks = F.filter(F.split(c, " "), lambda x: x != F.lit(""))
    wc = F.size(toks).cast("double")
    wcz = F.greatest(wc, F.lit(1.0))

    r_wordcount = (wc >= min_words) & (wc <= max_words)
    total_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    ).cast("double")
    mean_wl = total_chars / wcz
    r_meanwl = (mean_wl >= 3) & (mean_wl <= 10)

    r_hash = (_substr_count(c, "#") / wcz) <= 0.1
    n_ellipsis = _substr_count(c, "...") + _substr_count(c, "…")
    r_ellipsis = (n_ellipsis / wcz) <= 0.1

    lines = F.filter(F.split(raw, "\n"), lambda x: F.trim(x) != F.lit(""))
    nl = F.greatest(F.size(lines).cast("double"), F.lit(1.0))
    is_bullet = lambda x: (  # noqa: E731 — inline predicate, used once
        (F.substring(F.ltrim(x), 1, 2) == "- ")
        | (F.substring(F.ltrim(x), 1, 2) == "* ")
        | (F.substring(F.ltrim(x), 1, 1) == "•")
    )
    r_bullet = (F.size(F.filter(lines, is_bullet)) / nl) <= 0.9
    ends_ell = lambda x: F.rtrim(x).endswith(F.lit("...")) | F.rtrim(x).endswith(  # noqa: E731
        F.lit("…")
    )
    r_ellipsis_end = (F.size(F.filter(lines, ends_ell)) / nl) <= 0.3

    alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("double")
    r_alpha = (alpha / wcz) >= 0.8

    stop_present = sum(
        F.when(_word_count(c, w) > 0, 1).otherwise(0) for w in GOPHER_STOPWORDS
    )
    r_stop = stop_present >= 2

    rules = {
        "r_wordcount": r_wordcount,
        "r_meanwl": r_meanwl,
        "r_hash": r_hash,
        "r_ellipsis": r_ellipsis,
        "r_bullet": r_bullet,
        "r_ellipsis_end": r_ellipsis_end,
        "r_alpha": r_alpha,
        "r_stop": r_stop,
    }
    keep = None
    for v in rules.values():
        keep = v if keep is None else (keep & v)
    rules["keep"] = keep
    return rules
