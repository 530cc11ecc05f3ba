"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

These extend the reference's text surface (transcript word counts,
sessions.words_count_* ETL/schema.py:336-338; tag matching sessions_tags)
into the operators a training-data pipeline runs over every document.
Everything is built-in expressions (regexp/array/map functions) — exact
integers or single IEEE divisions, so the DuckDB oracles hash-match.
"""

from __future__ import annotations

from ..functions.rounding import round6u, round6u_sql
from pyspark.sql import Column, DataFrame, functions as F

# n-gram-free heuristic language ID: score = count of language-marker
# stopwords. Markers chosen per-language; ties broken by fixed priority
# order (the declaration order below).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "les", "des", "et", "une"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # pinyin-romanized markers
}

# BPE-ish tokenizer: runs of word chars OR single non-space symbols —
# approximates subword pre-tokenization (reference has whitespace only).
TOKEN_REGEX = r"[a-z0-9]+|[^a-z0-9\s]"


def regex_token_count(text_col: str = "text") -> Column:
    """BPE-ish token count via regexp_extract_all."""
    return F.size(F.regexp_extract_all(F.lower(F.col(text_col)),
                                       F.lit(TOKEN_REGEX), 0))


def lang_guess_expr(text_col: str = "text") -> Column:
    """argmax over language scores with declaration-order tie-break."""
    scores = {lang: F.expr(
        f"size(filter(split(lower({text_col}), ' '),"
        f" t -> array_contains(array({', '.join(repr(w) for w in words)}), t)))")
        for lang, words in STOPWORDS.items()}
    langs = list(STOPWORDS)
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        is_better = scores[lang] > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, scores[lang]).otherwise(best_score)
    return best


def lang_guess_sql(text_col: str = "text") -> str:
    """DuckDB rendering of the same argmax (same tie-break order)."""
    score = {lang: (f"len(list_filter(string_split(lower({text_col}), ' '),"
                    f" t -> list_contains([{', '.join(repr(w) for w in words)}], t)))")
             for lang, words in STOPWORDS.items()}
    langs = list(STOPWORDS)
    expr, sexpr = f"'{langs[0]}'", score[langs[0]]
    for lang in langs[1:]:
        expr = f"CASE WHEN {score[lang]} > {sexpr} THEN '{lang}' ELSE {expr} END"
        sexpr = f"CASE WHEN {score[lang]} > {sexpr} THEN {score[lang]} ELSE {sexpr} END"
    return expr


def quality_columns(text_col: str = "text") -> dict[str, Column]:
    """Deterministic quality features: token count, distinct ratio,
    mean token length, stopword ratio (all-language markers)."""
    toks = f"split(lower({text_col}), ' ')"
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    arr = "array(" + ", ".join(f"'{w}'" for w in all_stop) + ")"
    return {
        "n_tokens": F.expr(f"size({toks})"),
        "n_distinct_tokens": F.expr(f"size(array_distinct({toks}))"),
        # round6u, not round(·, 6): these are small-integer ratios that
        # can land exactly on the 6dp halfway point (see functions/rounding)
        "ttr": round6u(F.expr(f"size(array_distinct({toks}))")
                       / F.expr(f"size({toks})")),
        "mean_token_len": round6u(
            F.expr(f"aggregate({toks}, 0, (a, t) -> a + length(t))")
            / F.expr(f"size({toks})")),
        "stopword_ratio": round6u(
            F.expr(f"size(filter({toks}, t -> array_contains({arr}, t)))")
            / F.expr(f"size({toks})")),
    }


def quality_sql_columns(text_col: str = "text") -> dict[str, str]:
    toks = f"string_split(lower({text_col}), ' ')"
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    arr = "[" + ", ".join(f"'{w}'" for w in all_stop) + "]"
    return {
        "n_tokens": f"len({toks})",
        "n_distinct_tokens": f"len(list_distinct({toks}))",
        "ttr": round6u_sql(f"len(list_distinct({toks})) * 1.0 / len({toks})"),
        "mean_token_len": round6u_sql(
            f"list_sum(list_transform({toks}, t -> len(t))) * 1.0"
            f" / len({toks})"),
        "stopword_ratio": round6u_sql(
            f"len(list_filter({toks}, t -> list_contains({arr}, t)))"
            f" * 1.0 / len({toks})"),
    }


def fingerprint(text_col: str = "text") -> Column:
    """Content fingerprint: md5 of whitespace-normalized lowercase text.
    (The rolling-hash variant for shift-tolerant matching is the simhash
    op in dedup.py.)"""
    return F.md5(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "))


# --------------------------------------------------------------------------
# repetition signals (Gopher-style quality rules)
# --------------------------------------------------------------------------
#
# Rae et al. 2021 ("Scaling Language Models: ... Gopher", table A1) filter
# documents by duplicate n-gram mass and top-n-gram mass. On a
# single-line corpus the line/paragraph variants collapse to these
# word-stream forms. Everything below is built-in higher-order array
# functions evaluated per row: zero shuffles at any scale (the whole
# computation is a projection), exact integer counts + one rounded
# division so DuckDB oracles hash-match.

def ngram_array_expr(tok_col: str, n: int) -> str:
    """SQL expr: array of word n-grams over token-array column
    ``tok_col`` (element_at is 1-indexed). Guarded for short docs:
    Spark's sequence(1, 0) counts DOWN, so without the CASE a doc with
    < n tokens would produce garbage n-grams instead of none."""
    parts = ", ".join(f"element_at({tok_col}, i + {k})" for k in range(n))
    return (f"CASE WHEN size({tok_col}) >= {n} THEN"
            f" transform(sequence(1, size({tok_col}) - {n - 1}),"
            f" i -> concat_ws(' ', {parts}))"
            f" ELSE array() END")


def _top_frac_expr(arr: str) -> str:
    """max element multiplicity / total, via the LONGEST RUN of the
    sorted array (max multiplicity == longest equal-element run) —
    O(n log n) per row instead of the O(n·d) distinct×filter nested loop
    (measured ~4× on sf0.1 docs; identical integer counts, so the
    oracle's nested-loop form needs no change). ``arr`` must be a COLUMN
    name holding the PRE-SORTED array (evaluated once, not an inline
    expression — no CSE inside lambdas)."""
    return (f"CASE WHEN size({arr}) > 0 THEN floor("
            f" aggregate("
            f"   filter(sequence(1, size({arr})),"
            f"     i -> i = size({arr})"
            f"          OR element_at({arr}, i) <> element_at({arr}, i + 1)),"
            f"   named_struct('prev', 0, 'mx', 0),"
            f"   (st, e) -> named_struct('prev', e,"
            f"                           'mx', greatest(st.mx, e - st.prev)),"
            f"   st -> st.mx)"
            f" * CAST(1.0 AS DOUBLE) / size({arr})"
            f" * 1000000 + 0.5) / 1000000 ELSE 0.0 END")


def _dup_frac_expr(arr: str) -> str:
    return (f"CASE WHEN size({arr}) > 0 THEN floor("
            f" (1.0 - size(array_distinct({arr}))"
            f" * CAST(1.0 AS DOUBLE) / size({arr}))"
            f" * 1000000 + 0.5) / 1000000 ELSE 0.0 END")


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """doc-level repetition signals over the whitespace token stream:

    - ``top1_frac``: mass of the most frequent unigram;
    - ``top_bigram_frac``: mass of the most frequent bigram;
    - ``dup_trigram_frac``: fraction of trigram occurrences that repeat an
      earlier trigram (1 - distinct/total).

    Token/n-gram arrays are materialized as intermediate columns so each
    is computed once per row; the whole thing is a chain of projections —
    zero shuffles at any scale.
    """
    return (df
            .select(F.col(id_col),
                    F.split(F.lower(F.trim(F.col(text_col))), " ").alias("_t"))
            .withColumn("_bg", F.expr(ngram_array_expr("_t", 2)))
            .withColumn("_tg", F.expr(ngram_array_expr("_t", 3)))
            # sorted copies bound as columns: the run-length max needs
            # element_at over a materialized array (sort once per row)
            .withColumn("_ts", F.expr("array_sort(_t)"))
            .withColumn("_bgs", F.expr("array_sort(_bg)"))
            .select(id_col,
                    F.expr(_top_frac_expr("_ts")).alias("top1_frac"),
                    F.expr(_top_frac_expr("_bgs")).alias("top_bigram_frac"),
                    F.expr(_dup_frac_expr("_tg")).alias("dup_trigram_frac")))


def repetition_signals_sql(table: str = "documents", text_col: str = "text",
                           id_col: str = "doc_id") -> str:
    """DuckDB oracle computing the same integer counts and rounded
    divisions (1-indexed lists, list_* HOFs)."""

    def ngrams(n: int) -> str:
        parts = " || ' ' || ".join(f"t[i + {k}]" for k in range(n))
        return f"list_transform(generate_series(1, len(t) - {n - 1}), i -> {parts})"

    def top_frac(arr: str) -> str:
        return (f"CASE WHEN len({arr}) > 0 THEN floor("
                f" list_max(list_transform(list_distinct({arr}),"
                f"   x -> len(list_filter({arr}, y -> y = x))))"
                f" * 1.0 / len({arr})"
                f" * 1000000 + 0.5) / 1000000 ELSE 0.0 END")

    def dup_frac(arr: str) -> str:
        return (f"CASE WHEN len({arr}) > 0 THEN floor("
                f" (1.0 - len(list_distinct({arr}))"
                f" * 1.0 / len({arr}))"
                f" * 1000000 + 0.5) / 1000000 ELSE 0.0 END")

    return f"""
    WITH tok AS (
      SELECT {id_col}, string_split(lower(trim({text_col})), ' ') AS t
      FROM {table}
    ),
    grams AS (SELECT {id_col}, t, {ngrams(2)} AS bg, {ngrams(3)} AS tg FROM tok)
    SELECT {id_col},
           {top_frac('t')} AS top1_frac,
           {top_frac('bg')} AS top_bigram_frac,
           {dup_frac('tg')} AS dup_trigram_frac
    FROM grams
    """


# --------------------------------------------------------------------------
# PII scan / redaction
# --------------------------------------------------------------------------
#
# Standard pretraining cleanup: detect and mask contact-info spans before
# training. Patterns stick to the regex subset with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): character classes, counted repeats,
# no backrefs/lookaround.

EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"\+?[0-9][0-9 ()\-]{6,}[0-9]"


def pii_columns(text_col: str = "text") -> dict[str, Column]:
    """Counts + masked rewrite. Pure regexp projections — narrow at any
    scale; emails mask first so phone digits never match inside the
    replacement token."""
    c = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>")
    return {
        "n_emails": F.regexp_count(c, F.lit(EMAIL_RE)),
        "n_phones": F.regexp_count(c, F.lit(PHONE_RE)),
        "redacted": redacted,
    }


def pii_sql_columns(text_col: str = "text") -> dict[str, str]:
    return {
        "n_emails": f"len(regexp_extract_all({text_col}, '{EMAIL_RE}'))",
        "n_phones": f"len(regexp_extract_all({text_col}, '{PHONE_RE}'))",
        "redacted": (f"regexp_replace(regexp_replace({text_col}, "
                     f"'{EMAIL_RE}', '<EMAIL>', 'g'), "
                     f"'{PHONE_RE}', '<PHONE>', 'g')"),
    }


CARD_RE = r"[0-9](?:[ -]?[0-9]){12,18}"

# doubled-digit sum via the d*2-9 identity: pure INT arithmetic (Spark
# `div` promotes the fold accumulator to BIGINT and fails aggregate's
# type check; subtraction stays INT in both engines)
_CARD_DIGITS = ("transform(filter(split(c, ''), "
                "ch -> ch >= '0' AND ch <= '9'), ch -> ascii(ch) - 48)")
_CARD_LUHN = (f"(aggregate(transform(reverse({_CARD_DIGITS}), (d, i) -> "
              "CASE WHEN i % 2 = 1 THEN "
              "CASE WHEN d >= 5 THEN d * 2 - 9 ELSE d * 2 END "
              "ELSE d END), 0, (a, x) -> a + x) % 10 = 0)")


def card_columns(text_col: str = "text") -> dict[str, Column]:
    """Payment-card detection with CHECKSUM validation — the precision
    upgrade over pattern-only PII scans: a 13-19 digit run is only
    masked when it Luhn-validates, so order ids, timestamps and tracking
    numbers stop being false redactions (destructive edits to training
    text are exactly where precision matters most).

    All JVM-side: candidates via one regexp pass; per-candidate Luhn as
    array HOFs (digits -> indexed doubled-digit fold — candidate arrays
    are <= 19 elements, so the inline lambda is O(1) per candidate);
    masking folds literal replace over the VALID list only. One narrow
    projection, no shuffle at any scale."""
    cands = f"regexp_extract_all({text_col}, '{CARD_RE}', 0)"
    valid = f"filter({cands}, c -> {_CARD_LUHN})"
    return {
        "n_card_candidates": F.expr(f"size({cands})"),
        "n_cards_valid": F.expr(f"size({valid})"),
        "redacted": F.expr(
            f"aggregate({valid}, {text_col}, "
            "(t, c) -> replace(t, c, '<CARD>'))"),
    }


_CARD_DIGITS_SQL = ("list_transform(list_filter(string_split(c, ''), "
                    "ch -> ch BETWEEN '0' AND '9'), ch -> ascii(ch) - 48)")
# 1-based index from the RIGHT: element l[len - i + 1]; (i-1) mirrors the
# Spark 0-based lambda index
_CARD_LUHN_SQL = (
    f"(list_sum(list_transform(range(1, len({_CARD_DIGITS_SQL}) + 1), "
    "i -> CASE WHEN (i - 1) % 2 = 1 THEN "
    f"CASE WHEN ({_CARD_DIGITS_SQL})[len({_CARD_DIGITS_SQL}) - i + 1] >= 5 "
    f"THEN ({_CARD_DIGITS_SQL})[len({_CARD_DIGITS_SQL}) - i + 1] * 2 - 9 "
    f"ELSE ({_CARD_DIGITS_SQL})[len({_CARD_DIGITS_SQL}) - i + 1] * 2 END "
    f"ELSE ({_CARD_DIGITS_SQL})[len({_CARD_DIGITS_SQL}) - i + 1] END)) "
    "% 10 = 0)")


def card_sql_columns(text_col: str = "text") -> dict[str, str]:
    """DuckDB rendering of :func:`card_columns` (fold-with-init via the
    list_prepend/list_reduce equivalence)."""
    cands = f"regexp_extract_all({text_col}, '{CARD_RE}')"
    valid = f"list_filter({cands}, c -> {_CARD_LUHN_SQL})"
    return {
        "n_card_candidates": f"len({cands})",
        "n_cards_valid": f"len({valid})",
        "redacted": (f"list_reduce(list_prepend({text_col}, {valid}), "
                     "(t, c) -> replace(t, c, '<CARD>'))"),
    }


def token_rarity(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-doc mean CORPUS frequency of its tokens — the
    rational-arithmetic cousin of an n-gram LM quality score (boilerplate
    docs average high, unusual/garbled docs average low), kept free of
    transcendental functions so Spark and the oracle agree bit-for-bit.

    Two aggregations: corpus token counts (vocabulary-sized, uniform
    hash keys), then an explode + broadcast-join of the tiny vocabulary
    back onto the token stream and a per-doc exact-decimal mean.
    """
    from pyspark.sql import functions as F

    tok = (df.select(F.col(id_col),
                     F.explode(F.split(F.lower(F.col(text_col)), " "))
                     .alias("token"))
           .filter(F.col("token") != ""))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    return (tok.join(F.broadcast(vocab), "token")
            .groupBy(id_col)
            .agg(F.expr(
                "CAST(SUM(CAST(tf AS DECIMAL(28,6))) AS DOUBLE)"
                " / COUNT(tf)").alias("mean_token_freq")))


def token_rarity_sql(table: str = "documents", text_col: str = "text",
                     id_col: str = "doc_id") -> str:
    return f"""
    WITH tok AS (
      SELECT {id_col}, unnest(string_split(lower({text_col}), ' ')) AS token
      FROM {table}
    ),
    tok2 AS (SELECT * FROM tok WHERE token <> ''),
    vocab AS (SELECT token, COUNT(*) AS tf FROM tok2 GROUP BY token)
    SELECT {id_col},
           CAST(SUM(CAST(tf AS DECIMAL(28,6))) AS DOUBLE) / COUNT(tf)
             AS mean_token_freq
    FROM tok2 JOIN vocab USING (token)
    GROUP BY {id_col}
    """


# ---------------------------------------------------------------------------
# Gopher / C4 heuristic rule battery — the pre-training quality gate
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rule_columns(text_col: str = "text") -> dict[str, Column]:
    """Per-document pass/fail for the published heuristic filters a
    pre-training corpus runs before any model-based scoring — the Gopher
    rules (Rae et al. 2021 §A1.1) plus C4's lexical drops (Raffel et al.
    2020 §2.2). All pure column expressions (JVM-side, no UDF), computed
    in one projection:

    * ``rule_word_count``   — 50 <= words <= 100 000
    * ``rule_mean_word_len``— mean word length in [3, 10]
    * ``rule_alpha_words``  — >= 80 % of words contain a letter
    * ``rule_stopwords``    — >= 2 distinct Gopher stopwords present
    * ``rule_symbol_ratio`` — (# + ellipsis) / words < 0.1
    * ``rule_no_brace``     — no '{' (C4: drops code/templating)
    * ``rule_no_lorem``     — no 'lorem ipsum' (C4: placeholder text)
    * ``keep``              — conjunction of all rules
    """
    toks = f"filter(split(lower({text_col}), ' '), t -> t <> '')"
    nw = f"size({toks})"
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + ")"
    alpha = (f"size(filter({toks}, t -> t rlike '[a-z]'))")
    sym = (f"size(filter({toks}, t -> t rlike '^(#|\\\\.\\\\.\\\\.)'))")
    rules = {
        "n_words": F.expr(nw),
        "rule_word_count": F.expr(f"{nw} BETWEEN 50 AND 100000"),
        "rule_mean_word_len": F.expr(
            f"(aggregate({toks}, 0, (a, t) -> a + length(t)) * 1.0 / {nw})"
            f" BETWEEN 3 AND 10"),
        "rule_alpha_words": F.expr(f"{alpha} * 1.0 / {nw} >= 0.8"),
        "rule_stopwords": F.expr(
            f"size(array_intersect(array_distinct({toks}), {stop_arr}))"
            f" >= 2"),
        "rule_symbol_ratio": F.expr(f"{sym} * 1.0 / {nw} < 0.1"),
        "rule_no_brace": F.expr(f"NOT contains({text_col}, '{{')"),
        "rule_no_lorem": F.expr(
            f"NOT contains(lower({text_col}), 'lorem ipsum')"),
    }
    keep = None
    for name, col in rules.items():
        if name == "n_words":
            continue
        keep = col if keep is None else (keep & col)
    rules["keep"] = keep
    return rules


def _gopher_sql_columns(text_col: str = "text") -> dict[str, str]:
    """DuckDB expression per Gopher/C4 rule — shared by the rule report
    (:func:`gopher_rules_sql`) and the classifier-fit oracle's weak
    labels (:func:`quality_classifier_fit_sql`)."""
    toks = f"list_filter(string_split(lower({text_col}), ' '), t -> t <> '')"
    nw = f"len({toks})"
    stop_arr = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"
    alpha = (f"len(list_filter({toks},"
             f" t -> regexp_matches(t, '[a-z]')))")
    sym = (f"len(list_filter({toks},"
           f" t -> regexp_matches(t, '^(#|\\.\\.\\.)')))")
    return {
        "n_words": f"CAST({nw} AS BIGINT)",
        "rule_word_count": f"{nw} BETWEEN 50 AND 100000",
        "rule_mean_word_len":
            f"(list_sum(list_transform({toks}, t -> len(t))) * 1.0 / {nw})"
            f" BETWEEN 3 AND 10",
        "rule_alpha_words": f"{alpha} * 1.0 / {nw} >= 0.8",
        "rule_stopwords":
            f"len(list_intersect(list_distinct({toks}), {stop_arr})) >= 2",
        "rule_symbol_ratio": f"{sym} * 1.0 / {nw} < 0.1",
        "rule_no_brace": f"NOT contains({text_col}, '{{')",
        "rule_no_lorem": f"NOT contains(lower({text_col}), 'lorem ipsum')",
    }


def gopher_keep_sql(text_col: str = "text") -> str:
    """The conjunction of all Gopher/C4 rules as one DuckDB boolean."""
    cols = _gopher_sql_columns(text_col)
    return " AND ".join(f"({e})" for n, e in cols.items() if n != "n_words")


def gopher_rules_sql(table: str = "documents", text_col: str = "text",
                     id_col: str = "doc_id") -> str:
    cols = _gopher_sql_columns(text_col)
    sel = ",\n           ".join(f"{e} AS {n}" for n, e in cols.items())
    return f"""
    SELECT {id_col}, {sel},
           ({gopher_keep_sql(text_col)}) AS keep
    FROM {table}
    """


# ---------------------------------------------------------------------------
# classifier-based quality scoring — the model-filter integration shape
# ---------------------------------------------------------------------------

# Fixed linear weights over the deterministic quality features: a stand-in
# for a trained quality classifier (the GPT-3/LLaMA pipelines filter on a
# fasttext/logistic model score). The integration shape — featurize in one
# projection, score with a broadcast-small model, gate on the score — is
# the real deliverable; swap these constants for learned weights.
QUALITY_CLF_WEIGHTS = {
    "ttr": 2.0,              # lexical diversity up-weights
    "stopword_ratio": 1.5,   # natural prose has stopwords
    "mean_token_len": 0.25,  # very short tokens -> symbol soup
    "log_n_tokens": 0.5,     # longer docs mildly favored
    "bias": -2.0,
}


def quality_classifier_columns(text_col: str = "text") -> dict[str, Column]:
    """Linear quality score + keep flag over the engine's deterministic
    text features. The link is the RATIONAL squash z/(1+|z|) (not the
    exponential sigmoid): it is monotone in z, bounded in (-1, 1), and —
    unlike ``exp`` — computes bit-identically on every engine, so the
    oracle can certify values instead of tolerances. ``log2`` of the
    token count is exact for the feature because both engines implement
    it on the same IEEE doubles (verified by the oracle hash).
    """
    q = quality_columns(text_col)
    w = QUALITY_CLF_WEIGHTS
    z = (F.lit(w["bias"])
         + F.lit(w["ttr"]) * q["ttr"]
         + F.lit(w["stopword_ratio"]) * q["stopword_ratio"]
         + F.lit(w["mean_token_len"]) * q["mean_token_len"]
         + F.lit(w["log_n_tokens"]) * F.log2(q["n_tokens"].cast("double")))
    score = F.round(z / (F.lit(1.0) + F.abs(z)), 6)
    return {"clf_score": score, "clf_keep": score >= 0.0}


def quality_classifier_sql(table: str = "documents",
                           text_col: str = "text",
                           id_col: str = "doc_id") -> str:
    q = quality_sql_columns(text_col)
    w = QUALITY_CLF_WEIGHTS
    z = (f"({w['bias']} + {w['ttr']} * ({q['ttr']}) "
         f"+ {w['stopword_ratio']} * ({q['stopword_ratio']}) "
         f"+ {w['mean_token_len']} * ({q['mean_token_len']}) "
         f"+ {w['log_n_tokens']} * log2(CAST({q['n_tokens']} AS DOUBLE)))")
    return f"""
    SELECT {id_col},
           ROUND({z} / (1.0 + abs({z})), 6) AS clf_score,
           ROUND({z} / (1.0 + abs({z})), 6) >= 0.0 AS clf_keep
    FROM {table}
    """


# --- in-engine classifier TRAINING (the fit half of the model filter) ---

# Feature battery the trained classifier fits over: the deterministic
# quality features plus a bias column. Kept in one tuple so the fit, the
# fitted scorer, and both oracles iterate the same order.
CLF_FIT_FEATURES = ("ttr", "stopword_ratio", "mean_token_len",
                    "log_n_tokens", "bias")

# 12dp-quantized per-row terms, decimal-summed -> order-independent
# cross-engine sums (FLOOR is sign-agnostic identical on both engines,
# so signed gradient terms quantize the same way as the non-negative
# squares)
_Q12 = ("CAST(FLOOR(({x}) * 1000000000000 + 0.5) / 1000000000000"
        " AS DECIMAL(28,12))")


def gopher_keep_subset(text_col: str = "text",
                       rules: tuple[str, ...] | None = None) -> Column:
    """Conjunction of a SUBSET of the Gopher/C4 rules as a Spark boolean
    — the weak-label knob for :func:`quality_classifier_fit` (a corpus
    where one rule is degenerate — constant over every doc — would teach
    the classifier nothing; training labels should split)."""
    cols = gopher_rule_columns(text_col)
    names = rules or tuple(n for n in cols if n not in ("n_words", "keep"))
    keep = None
    for n in names:
        keep = cols[n] if keep is None else (keep & cols[n])
    return keep


def gopher_keep_subset_sql(text_col: str = "text",
                           rules: tuple[str, ...] | None = None) -> str:
    cols = _gopher_sql_columns(text_col)
    names = rules or tuple(n for n in cols if n != "n_words")
    return " AND ".join(f"({cols[n]})" for n in names)


def quality_classifier_fit(df: DataFrame,
                           text_col: str = "text",
                           label: Column | None = None) -> DataFrame:
    """TRAIN the quality classifier in-engine — one diagonal-Hessian
    Newton step of logistic regression from w = 0, distilling the
    rule-based Gopher/C4 gate into a linear model (exactly the
    weak-supervision shape of production quality classifiers: fasttext/
    logistic models trained on rule- or source-labeled docs, then used
    where the rules are too brittle).

    Math: with w = 0, sigmoid(0) = 1/2, so the logistic gradient is
    g_j = sum_i x_ij (y_i - 1/2) and the diagonal Hessian is
    h_j = 1/4 sum_i x_ij^2; the per-feature Newton step is
    w_j = g_j / h_j = 4 * sum(x (y - 1/2)) / sum(x^2) — closed-form,
    partial+final aggregation only, no iteration, no matrix solve.

    Cross-engine exactness: every per-row term is 12dp-floor-quantized
    and decimal-summed (order-independent); the weight is one double
    division of two exact decimals, floor-6dp'd (sign-agnostic identical
    in both engines). Output: |features| rows (feature, grad, hess,
    weight) — the d-row driver model, same contract as the DSIR/LM
    model tables.

    Scale shape (100 TB): featurize is one narrow projection; the whole
    fit is ONE aggregation with map-side partial combine producing a
    single row, exploded to d rows — zero joins, zero windows, the
    cheapest possible distributed trainer.
    """
    q = quality_columns(text_col)
    keep = label if label is not None else gopher_rule_columns(text_col)["keep"]
    feats = df.select(
        q["ttr"].alias("ttr"),
        q["stopword_ratio"].alias("stopword_ratio"),
        q["mean_token_len"].alias("mean_token_len"),
        round6u(F.log2(q["n_tokens"].cast("double")))
        .alias("log_n_tokens"),
        F.lit(1.0).alias("bias"),
        keep.cast("double").alias("_y"))
    aggs = []
    for c in CLF_FIT_FEATURES:
        aggs.append(F.expr(
            f"SUM({_Q12.format(x=f'{c} * (_y - 0.5)')})").alias(f"g_{c}"))
        aggs.append(F.expr(
            f"SUM({_Q12.format(x=f'{c} * {c}')})").alias(f"h_{c}"))
    agg = feats.agg(*aggs)
    rows = ", ".join(
        f"struct('{c}' AS feature,"
        f" CAST(g_{c} AS DOUBLE) AS grad,"
        f" CAST(h_{c} AS DOUBLE) AS hess,"
        f" FLOOR(CAST(g_{c} AS DOUBLE) * 4.0"
        f" / NULLIF(CAST(h_{c} AS DOUBLE), 0.0D)"
        f" * 1000000 + 0.5) / 1000000 AS weight)"
        for c in CLF_FIT_FEATURES)
    return agg.select(F.expr(f"inline(array({rows}))"))


def quality_classifier_fit_sql(table: str = "documents",
                               text_col: str = "text",
                               label_sql: str | None = None) -> str:
    """DuckDB oracle for :func:`quality_classifier_fit` — the identical
    quantized sums and Newton step, the d rows via UNION ALL over the
    single-row aggregate."""
    q = quality_sql_columns(text_col)
    feats = {
        "ttr": q["ttr"],
        "stopword_ratio": q["stopword_ratio"],
        "mean_token_len": q["mean_token_len"],
        "log_n_tokens": round6u_sql(
            f"log2(CAST({q['n_tokens']} AS DOUBLE))"),
        "bias": "1.0",
    }
    fcols = ",\n             ".join(f"{e} AS {n}" for n, e in feats.items())
    acols = ",\n             ".join(
        f"SUM({_Q12.format(x=f'{c} * (y - 0.5)')}) AS g_{c},\n"
        f"             SUM({_Q12.format(x=f'{c} * {c}')}) AS h_{c}"
        for c in CLF_FIT_FEATURES)
    unions = "\n    UNION ALL\n".join(
        f"    SELECT '{c}' AS feature,"
        f" CAST(g_{c} AS DOUBLE) AS grad,"
        f" CAST(h_{c} AS DOUBLE) AS hess,"
        f" FLOOR(CAST(g_{c} AS DOUBLE) * 4.0"
        f" / NULLIF(CAST(h_{c} AS DOUBLE), 0.0)"
        f" * 1000000 + 0.5) / 1000000 AS weight FROM agg"
        for c in CLF_FIT_FEATURES)
    y = label_sql if label_sql is not None else gopher_keep_sql(text_col)
    return f"""
    WITH f AS (
      SELECT {fcols},
             CAST(({y}) AS DOUBLE) AS y
      FROM {table}
    ),
    agg AS (
      SELECT {acols}
      FROM f
    )
{unions}
    """


def quality_classifier_score_fitted(df: DataFrame,
                                    text_col: str = "text",
                                    id_col: str = "doc_id",
                                    label: Column | None = None,
                                    model: DataFrame | None = None
                                    ) -> DataFrame:
    """Score every document with the weights :func:`quality_classifier_fit`
    just TRAINED — the end-to-end model filter (fit -> broadcast the
    d-row model -> one projection), mirroring the DSIR
    model/from-model pair. Pass ``model`` (a persisted (feature,
    weight) frame read back from parquet) to serve WITHOUT refitting —
    the train-once / apply-for-months lifecycle the LM, DSIR, and
    tokenizer families already have. The model pivots to one row and
    broadcasts; no collect, the plan stays fully declarative. Same
    rational squash z/(1+|z|) as the fixed-weight scorer."""
    # a zero-signal feature (hess 0 -> NULL weight) contributes nothing
    # to z instead of NULLing every score
    fitted = (quality_classifier_fit(df, text_col, label=label)
              if model is None else model)
    model = (fitted
             .groupBy().pivot("feature", list(CLF_FIT_FEATURES))
             .agg(F.first("weight")))
    for c in CLF_FIT_FEATURES:
        model = model.withColumn(c, F.coalesce(F.col(c), F.lit(0.0)))
    q = quality_columns(text_col)
    feats = df.select(
        F.col(id_col),
        q["ttr"].alias("_ttr"),
        q["stopword_ratio"].alias("_stop"),
        q["mean_token_len"].alias("_mtl"),
        round6u(F.log2(q["n_tokens"].cast("double"))).alias("_lnt"))
    z = (F.col("bias")
         + F.col("ttr") * F.col("_ttr")
         + F.col("stopword_ratio") * F.col("_stop")
         + F.col("mean_token_len") * F.col("_mtl")
         + F.col("log_n_tokens") * F.col("_lnt"))
    return (feats.join(F.broadcast(model))
            .select(id_col,
                    F.round(z / (F.lit(1.0) + F.abs(z)), 6)
                    .alias("clf_score"))
            .withColumn("clf_keep", F.col("clf_score") >= 0.0))


def quality_classifier_score_fitted_sql(table: str = "documents",
                                        text_col: str = "text",
                                        id_col: str = "doc_id",
                                        label_sql: str | None = None) -> str:
    q = quality_sql_columns(text_col)
    fit = quality_classifier_fit_sql(table, text_col, label_sql=label_sql)
    lnt = round6u_sql(f"log2(CAST({q['n_tokens']} AS DOUBLE))")
    z = (f"(w.bias + w.ttr * ({q['ttr']})"
         f" + w.stopword_ratio * ({q['stopword_ratio']})"
         f" + w.mean_token_len * ({q['mean_token_len']})"
         f" + w.log_n_tokens * ({lnt}))")
    return f"""
    WITH fit AS ({fit}),
    w AS (
      SELECT COALESCE(MAX(CASE WHEN feature = 'ttr' THEN weight END), 0.0)
               AS ttr,
             COALESCE(MAX(CASE WHEN feature = 'stopword_ratio'
                               THEN weight END), 0.0) AS stopword_ratio,
             COALESCE(MAX(CASE WHEN feature = 'mean_token_len'
                               THEN weight END), 0.0) AS mean_token_len,
             COALESCE(MAX(CASE WHEN feature = 'log_n_tokens'
                               THEN weight END), 0.0) AS log_n_tokens,
             COALESCE(MAX(CASE WHEN feature = 'bias' THEN weight END), 0.0)
               AS bias
      FROM fit
    )
    SELECT {id_col},
           ROUND({z} / (1.0 + abs({z})), 6) AS clf_score,
           ROUND({z} / (1.0 + abs({z})), 6) >= 0.0 AS clf_keep
    FROM {table}, w
    """


def bigram_coherence(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-doc mean bigram transition frequency — the 2-gram LM quality
    proxy: for each adjacent token pair (w1, w2), corpus P(w2|w1) =
    count(w1 w2) / count(w1 ·), averaged over the document.

    Coherent text follows common transitions (high score); shuffled or
    garbled text hits rare transitions (low score) even when its UNIGRAMS
    are common — the signal :func:`token_rarity` cannot see. This is the
    deterministic stand-in for a perplexity filter (CCNet-style), kept
    cross-engine exact: each ratio is one double division ROUNDed to 6dp,
    then an order-insensitive exact-decimal mean.

    Scale: bigram explode is narrow; transition counts are one
    vocabulary²-bounded aggregation (in practice ~vocabulary-sized); the
    unigram table broadcasts, the bigram table joins under AQE sizing.
    """
    from pyspark.sql import functions as F

    # integer positional explode + codegen projections (not an
    # interpreted struct-building transform lambda)
    bg = (df.select(F.col(id_col),
                    F.split(F.lower(F.trim(F.col(text_col))), " ").alias("t"))
          .filter(F.size("t") >= 2)
          .select(id_col, "t",
                  F.expr("explode(sequence(1, size(t) - 1))").alias("_i"))
          .select(id_col, F.expr("t[_i - 1]").alias("w1"),
                  F.expr("t[_i]").alias("w2"))
          .filter((F.col("w1") != "") & (F.col("w2") != "")))
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bf"))
    uc = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("uf"))
    # uc is vocabulary-sized (safe broadcast); bc is vocabulary²-bounded
    # and can exceed broadcast limits on a real corpus — no hint, AQE
    # picks broadcast vs shuffle from the observed size
    return (bg.join(bc, ["w1", "w2"])
            .join(F.broadcast(uc), "w1")
            .withColumn("_p", round6u(F.col("bf") / F.col("uf")))
            .groupBy(id_col)
            .agg(F.expr(
                "CAST(SUM(CAST(_p AS DECIMAL(28,6))) AS DOUBLE)"
                " / COUNT(_p)").alias("mean_transition_p")))


def bigram_coherence_sql(table: str = "documents", text_col: str = "text",
                         id_col: str = "doc_id") -> str:
    return f"""
    WITH t AS (
      SELECT {id_col}, string_split(lower(trim({text_col})), ' ') AS t
      FROM {table}
    ),
    bg0 AS (
      SELECT {id_col}, unnest(list_transform(
               generate_series(2, len(t)),
               i -> struct_pack(w1 := t[i - 1], w2 := t[i]))) AS b
      FROM t
    ),
    bg AS (
      SELECT {id_col}, b.w1 AS w1, b.w2 AS w2 FROM bg0
      WHERE b.w1 <> '' AND b.w2 <> ''
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS bf FROM bg GROUP BY 1, 2),
    uc AS (SELECT w1, COUNT(*) AS uf FROM bg GROUP BY 1)
    SELECT {id_col},
           CAST(SUM(CAST(FLOOR(bf * 1.0 / uf * 1000000 + 0.5) / 1000000
                         AS DECIMAL(28,6)))
                AS DOUBLE) / COUNT(*) AS mean_transition_p
    FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1)
    GROUP BY {id_col}
    """


def char_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Shannon character entropy (bits) per document — the curation
    signal that catches binary junk, base64 blobs and mojibake (near-max
    entropy) and degenerate filler (near-zero) that token-level quality
    ratios miss.

    ZERO-SHUFFLE shape: per-character counts come from run lengths of the
    row's SORTED character array (all higher-order functions, one narrow
    projection) — a document never leaves its partition, so at 100 TB
    this is a pure scan, unlike the explode → (doc, char) aggregation
    form (measured 3× slower at sf0.1 and two shuffles heavier).
    H = log2(n) - (1/n)·Σ run·log2(run). Float parity: each run·ln(run)
    term is 6dp-floored and the terms sum in array order — both engines
    iterate the same list sequentially; one final round6u. Documents with
    no non-empty characters produce no row (both engines; also dodges
    Spark's descending sequence(1, 0) vs DuckDB's empty generate_series).
    """
    # The sorted array MUST be materialized as a real column first:
    # textually inlining it into every element_at of the bounds filter
    # would re-run split+filter+sort per element (no common-subexpression
    # elimination inside lambdas) — O(n²·log n) per row, measured MINUTES
    # per 5000 docs at sf0.1 vs ~1 s with the column bound once.
    sorted_chars = F.expr(
        f"array_sort(filter(split(lower({text_col}), ''), c -> c <> ''))")
    # bounds = cumulative END positions of equal-char runs in the sorted
    # array; the fold turns consecutive bounds into run lengths and sums
    # the 6dp-floored run·ln(run) terms in list order
    s = F.expr("""
        aggregate(
          filter(sequence(1, size(_cs)),
                 i -> i = size(_cs)
                      OR element_at(_cs, i) <> element_at(_cs, i + 1)),
          named_struct('prev', 0, 'acc', CAST(0.0 AS DOUBLE)),
          (st, e) -> named_struct(
            'prev', e,
            'acc', st.acc + FLOOR((e - st.prev) * ln(e - st.prev)
                                  * 1000000 + 0.5) / 1000000),
          st -> st.acc)
    """)
    n = F.expr("size(_cs)")
    h_bits = ((F.expr("ln(size(_cs))") - s / n) / F.expr("ln(2.0)"))
    return (df.select(F.col(id_col), sorted_chars.alias("_cs"))
            .filter(F.expr("size(_cs) > 0"))
            .select(id_col,
                    n.cast("long").alias("n_chars_used"),
                    round6u(h_bits).alias("char_entropy_bits")))


def char_entropy_sql(table: str, text_col: str = "text",
                     id_col: str = "doc_id") -> str:
    cs = (f"list_sort(list_filter(string_split(lower({text_col}), ''),"
          f" c -> c <> ''))")
    return f"""
    WITH base AS (SELECT {id_col}, {cs} AS cs FROM {table}),
    b AS (
      SELECT {id_col}, len(cs) AS n,
             list_filter(generate_series(1, len(cs)),
                         i -> i = len(cs) OR cs[i] <> cs[i + 1]) AS bounds
      FROM base WHERE len(cs) > 0
    ),
    r AS (
      SELECT {id_col}, n,
             list_sum(list_transform(generate_series(1, len(bounds)),
               j -> FLOOR((bounds[j] - CASE WHEN j = 1 THEN 0
                                            ELSE bounds[j - 1] END)
                          * ln(bounds[j] - CASE WHEN j = 1 THEN 0
                                                ELSE bounds[j - 1] END)
                          * 1000000 + 0.5) / 1000000)) AS s
      FROM b
    )
    SELECT {id_col}, CAST(n AS BIGINT) AS n_chars_used,
           {round6u_sql("(ln(n) - s / n) / ln(2.0)")} AS char_entropy_bits
    FROM r
    """
