"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

Everything here is pure Catalyst column expressions (whole-stage codegen, no
Python boundary) — these run in the hot path of a 100 TB curation sweep, so
staying JVM-side is the difference between hours and days. Each has an exact
DuckDB-SQL twin in the driver contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# stopword sets per language, engine-portable (ASCII only — Java and RE2
# \b are both ASCII word boundaries): the lang-ID heuristic counts whole-word
# regex hits of each set and argmaxes. 18 words per language keep short
# non-English docs off the 'und'/misclassify path while staying a cheap,
# honest heuristic (overlapping function words across languages are fine —
# argmax + margin absorb them).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in",
           "that", "it", "for", "was", "with", "are",
           "this", "not", "have", "from", "they", "his"],
    "es": ["el", "la", "de", "que", "los", "es",
           "las", "por", "con", "para", "una", "del",
           "se", "como", "mas", "pero", "sus", "le"],
    "de": ["der", "die", "und", "das", "ist", "ein",
           "nicht", "mit", "auf", "sich", "dem", "den",
           "von", "zu", "eine", "als", "auch", "werden"],
    "fr": ["le", "la", "les", "et", "est", "une",
           "des", "dans", "pour", "pas", "sur", "vous",
           "par", "avec", "son", "mais", "nous", "qui"],
    "pt": ["o", "que", "do", "da", "em", "um",
           "para", "com", "uma", "os", "no", "se",
           "na", "por", "mais", "dos", "ao", "como"],
}

_BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def lang_hits(text_col: str, words: list[str]) -> Column:
    pat = "\\b(" + "|".join(words) + ")\\b"
    return F.regexp_count(F.lower(F.col(text_col)), F.lit(pat))


def lang_id() -> Column:
    """argmax over per-language stopword hit counts in ``text``; ties broken
    by language code order (deterministic, mirrored in the SQL oracle's CASE
    chain)."""
    scores = [(lang, lang_hits("text", ws)) for lang, ws in sorted(LANG_STOPWORDS.items())]
    best = scores[0][1]
    for _, s in scores[1:]:
        best = F.greatest(best, s)
    expr = F.lit("und")
    for lang, s in reversed(scores):  # earlier langs win ties -> apply last
        expr = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def lang_margin() -> Column:
    """Confidence margin of :func:`lang_id`: best hit count minus runner-up
    hit count (0 on a tie or an all-zero row) — the cheap signal curation
    sweeps threshold on. Pure Catalyst: one sorted array of the per-language
    counts."""
    hits = [lang_hits("text", ws) for _, ws in sorted(LANG_STOPWORDS.items())]
    ranked = F.sort_array(F.array(*hits), asc=False)
    return (ranked[0] - ranked[1]).cast("long")


def token_count_ws(text_col: str = "text") -> Column:
    """Whitespace token count (= reference word_count semantics A1).

    Cast to long: the DuckDB oracle's len() is BIGINT.
    """
    return F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")


def token_count_bpe_ish() -> Column:
    """Sub-word-ish token count of ``text``: alpha runs, digit runs, single
    punctuation."""
    return F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_ISH_RE), F.lit(0))).cast("long")


def quality_features(df: DataFrame) -> DataFrame:
    """Length/punct/stopword-ratio quality features + a 0-100 score per
    ``(doc_id, text)`` row.

    Score mirrors the reference's penalty style (A3: 100 - 20*issues):
    -20 for <10 words, -20 for punct ratio > 0.2, -20 for stopword ratio
    < 0.01 (word salad), -20 for mean word length > 12 (garbled).
    """
    n_words = token_count_ws("text")
    n_chars = F.length(F.col("text")).cast("long")
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"))
    n_stop = lang_hits("text", LANG_STOPWORDS["en"])
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(n_stop / F.greatest(n_words, F.lit(1)), 6)
    mean_wlen = F.round(n_chars / F.greatest(n_words, F.lit(1)), 6)
    score = (
        F.lit(100)
        - F.when(n_words < 10, 20).otherwise(0)
        - F.when(punct_ratio > 0.2, 20).otherwise(0)
        - F.when(stop_ratio < 0.01, 20).otherwise(0)
        - F.when(mean_wlen > 12, 20).otherwise(0)
    )
    return df.select(
        F.col("doc_id"),
        n_words.alias("n_words"),
        n_chars.alias("n_chars_m"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_wlen.alias("mean_word_len"),
        F.greatest(score, F.lit(0)).cast("long").alias("quality"),
    )


def repetition_features(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 flavor) per
    ``(doc_id, text)`` row, pure Catalyst: duplicate-line fraction, duplicate-word fraction, mean line
    length, fraction of purely-alphabetic words. The standard cheap filters
    for boilerplate/spam in web-scale corpora."""
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines).cast("long")
    n_uniq_lines = F.size(F.array_distinct(lines)).cast("long")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words).cast("long")
    n_uniq_words = F.size(F.array_distinct(words)).cast("long")
    n_alpha_words = F.size(F.filter(words, lambda w: w.rlike("^[A-Za-z]+$"))).cast("long")
    return df.select(
        F.col("doc_id"),
        n_lines.alias("n_lines"),
        F.round((n_lines - n_uniq_lines) / F.greatest(n_lines, F.lit(1)), 6).alias("dup_line_frac"),
        F.round((n_words - n_uniq_words) / F.greatest(n_words, F.lit(1)), 6).alias("dup_word_frac"),
        F.round(F.length(F.col("text")) / F.greatest(n_lines, F.lit(1)), 6).alias("mean_line_len"),
        F.round(n_alpha_words / F.greatest(n_words, F.lit(1)), 6).alias("alpha_word_frac"),
    )


def quality_model_scores(df: DataFrame) -> DataFrame:
    """Hashing-trick LINEAR MODEL INFERENCE over ``(doc_id, text)``, pure
    Catalyst — the shape of a
    fasttext-style quality classifier scoring a 100 TB corpus: each token
    maps to a weight via a hash (here md5-derived, engine-portable; a real
    deployment swaps in trained weights via a broadcast lookup with the same
    plan), the document score is the mean token weight. Weights are INTEGERS
    in [-1000, 1000] summed exactly (order-independent, no float-accumulation
    drift), divided once at the end — the DuckDB twin is bit-identical.
    Zero shuffle, zero Python: one scan through whole-stage codegen.
    """
    tokens = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )

    def w(t: Column) -> Column:
        h = F.conv(F.substring(F.md5(F.concat(F.lit("qm:"), t)), 1, 8), 16, 10)
        return F.pmod(h.cast("long"), F.lit(2001)) - F.lit(1000)

    n = F.size(tokens)
    w_sum = F.aggregate(tokens, F.lit(0).cast("long"), lambda acc, t: acc + w(t))
    # NO rounding: exact-int / exact-int division is the same IEEE double in
    # every engine, while round(…, 6) HALF_UP vs HALF_EVEN diverges on
    # half-way values (e.g. w_sum=157, n=80 -> …9625e-3) — the CLAUDE.md
    # cross-engine rounding gotcha. The raw quotient hashes identically.
    score = w_sum / (F.lit(1000.0) * F.greatest(n, F.lit(1)))
    return df.select(
        F.col("doc_id"),
        n.cast("long").alias("n_tokens"),
        w_sum.alias("w_sum"),
        score.alias("model_score"),
    )


def quality_model_sql(table: str) -> str:
    """DuckDB twin of :func:`quality_model_scores` (generated, zero drift)."""
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"
    wexpr = "(CAST(concat('0x', substr(md5('qm:' || t), 1, 8)) AS BIGINT) % 2001) - 1000"
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM {table})
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(list_sum(list_transform(toks, t -> {wexpr})), 0) AS BIGINT) AS w_sum,
       CAST(coalesce(list_sum(list_transform(toks, t -> {wexpr})), 0) AS BIGINT)
             / (1000.0 * greatest(len(toks), 1)) AS model_score
FROM t
"""


def fingerprint() -> Column:
    """Content fingerprint: md5 of casefolded, alnum-only ``text`` — robust
    to whitespace/punct/case edits; the cheap first stage before MinHash."""
    return F.md5(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""))


# PII redaction — the standard pre-training scrub pass. Patterns are kept to
# constructs with identical semantics in Java regex (Spark) and RE2 (DuckDB):
# character classes, bounded/unbounded greedy quantifiers, \b — no backrefs,
# no lookaround — so the oracle value-checks the scrubbed output itself.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_CARD_RE = r"\b\d{13,19}\b"
PII_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
PII_US_PHONE_RE = r"\(\d{3}\) \d{3}-\d{4}"
PII_PHONE_RE = r"\+\d{2} \d{3}-\d{4}"

# (count-column suffix, pattern, placeholder) — ONE source of truth for the
# Spark expression tree, the generated DuckDB twin (pii_scrub_sql) and the
# cross-engine fuzz test. Order is load-bearing: emails first (so a host part
# is never half-eaten by the IP rule), dotted/ dashed shapes before bare-digit
# runs they could otherwise feed.
PII_FAMILIES: tuple[tuple[str, str, str], ...] = (
    ("emails", PII_EMAIL_RE, "[EMAIL]"),
    ("ips", PII_IPV4_RE, "[IP]"),
    ("cards", PII_CARD_RE, "[CARD]"),
    ("ssns", PII_SSN_RE, "[SSN]"),
    ("us_phones", PII_US_PHONE_RE, "[PHONE]"),
    ("phones", PII_PHONE_RE, "[PHONE]"),
)


def pii_scrub(df: DataFrame) -> DataFrame:
    """Per-doc PII counts + md5 of the redacted text, over ``(doc_id, text)``.

    Counts are PROGRESSIVE — each family is counted on the text with all
    earlier families already replaced, then replaced itself — so the counts
    describe exactly what was redacted (an email containing an IP-shaped host
    counts as 1 email, 0 ips). Pure Catalyst: codegen'd regexp ops, zero
    Python; the DuckDB twin is generated from the same PII_FAMILIES table.
    """
    cur = F.col("text")
    cols: list[Column] = [F.col("doc_id")]
    for name, pat, placeholder in PII_FAMILIES:
        cols.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, placeholder)
    cols.append(F.md5(cur).alias("scrubbed_md5"))
    return df.select(*cols)


def pii_redacted_text() -> Column:
    """The fully-redacted ``conv_text`` (same chained family order as
    :func:`pii_scrub`) — what a corpus-build pipeline carries forward after
    the scrub stage; pii_scrub's md5 is md5 of exactly this redaction."""
    cur = F.col("conv_text")
    for _name, pat, placeholder in PII_FAMILIES:
        cur = F.regexp_replace(cur, pat, placeholder)
    return cur


def pii_redacted_text_sql() -> str:
    """DuckDB twin of :func:`pii_redacted_text` over ``text``, generated
    from the same family table (zero drift)."""
    cur = "text"
    for _name, pat, placeholder in PII_FAMILIES:
        cur = f"regexp_replace({cur}, '{pat}', '{placeholder}', 'g')"
    return cur


def pii_scrub_sql(table: str) -> str:
    """The exact DuckDB twin of :func:`pii_scrub`, generated from the same
    family table so the patterns can never drift between engines."""
    cur = "text"
    cols = ["doc_id"]
    for name, pat, placeholder in PII_FAMILIES:
        cols.append(f"len(regexp_extract_all({cur}, '{pat}')) AS n_{name}")
        cur = f"regexp_replace({cur}, '{pat}', '{placeholder}', 'g')"
    cols.append(f"md5({cur}) AS scrubbed_md5")
    return "SELECT " + ",\n       ".join(cols) + f"\nFROM {table}"
