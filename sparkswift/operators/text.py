"""Text-analysis operators for LLM data pipelines (north-star
extension — absent from the reference, mandated by BASELINE.json).

All hot-path operators are pure Catalyst expressions (split/filter/
transform/regexp on JVM side, whole-stage codegen) — at 100 TB there
is no Python in the loop. Ratios are single double divisions of exact
integer counts, so results are bit-deterministic across engines.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparkswift.operators.spread import spread

# tiny per-language stopword lists for the heuristic lang-id vote;
# deliberately small so the same literal lists can be inlined into the
# DuckDB oracle
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "los", "de", "que", "es"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "zh": ("的", "是", "了", "在", "和"),
}


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization (regex split, empty tokens dropped)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != F.lit(""))


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col)).cast("bigint")


# BPE-ish pre-tokenizer: letter runs, digit runs, single non-space
# symbols — the GPT-2-style split minus the lookahead pieces, kept to
# the regex subset Java (Spark) and RE2 (DuckDB) treat identically.
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def bpe_token_count(col: str | Column) -> Column:
    """Token count under the BPE-ish regex pre-tokenizer — the usual
    first-order estimate of LLM token cost (≈ tokens before merges)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), 0)).cast("bigint")


def char_count(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c).cast("bigint")


def stopword_count(col: str | Column, stopwords: tuple[str, ...]) -> Column:
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(tokens(col), lambda x: F.array_contains(sw, x))).cast("bigint")


def non_alpha_space_count(col: str | Column) -> Column:
    """Characters outside [a-z0-9 ] after lowercasing — punctuation-ish."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) - F.length(F.regexp_replace(F.lower(c), "[^a-z0-9 ]", ""))).cast(
        "bigint"
    )


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / token / punctuation / stopword quality metrics — the
    standard pre-training filter features (C4/Gopher-style rules),
    computed natively."""
    df = spread(df)
    n_tok = token_count(text_col)
    n_char = char_count(text_col)
    return df.withColumns(
        {
            "n_chars_m": n_char,
            "n_tokens": n_tok,
            "avg_token_len": (
                (n_char - n_tok + 1).cast("double") / n_tok.cast("double")
            ),
            "punct_ratio": non_alpha_space_count(text_col).cast("double")
            / n_char.cast("double"),
            "stopword_ratio": stopword_count(text_col, STOPWORDS["en"]).cast("double")
            / n_tok.cast("double"),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0-100 score: full marks for mid-length, low-punct,
    stopword-bearing text. Integer-arithmetic conditions + one double
    combination — deterministic."""
    m = quality_metrics(df, text_col)
    score = (
        F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 10000), F.lit(40.0)).otherwise(F.lit(0.0))
        + F.when(F.col("punct_ratio") <= 0.1, F.lit(30.0)).otherwise(F.lit(0.0))
        + F.when(F.col("stopword_ratio") >= 0.01, F.lit(30.0)).otherwise(F.lit(0.0))
    )
    return m.withColumn("quality_score", score.cast("double"))


def lang_id(df: DataFrame, text_col: str = "text", output_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: per-language stopword vote, argmax with
    deterministic tie-break (vote desc, lang asc); 'und' when no
    stopword hits. Pure expression — no UDF, no shuffle."""
    votes = [
        F.struct(
            stopword_count(text_col, sw).alias("v"),
            F.lit(lang).alias("lang"),
        )
        for lang, sw in sorted(STOPWORDS.items())
    ]
    # fold in sorted-lang order; strict > keeps the first (smallest
    # lang) on vote ties — deterministic argmax
    arr = F.array(*votes)
    best = F.aggregate(
        arr,
        F.struct(F.lit(-1).cast("bigint").alias("v"), F.lit("").alias("lang")),
        lambda acc, x: F.when(x["v"] > acc["v"], x).otherwise(acc),
    )
    return df.withColumn(
        output_col, F.when(best["v"] > 0, best["lang"]).otherwise(F.lit("und"))
    )


def fingerprint(df: DataFrame, text_col: str = "text", output_col: str = "fp") -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized, lowercased
    text — the exact-dedup key. md5 is identical across engines."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn(output_col, F.md5(norm))


def word_ngrams_all(col: str | Column, k: int = 2) -> Column:
    """ALL k-word n-grams (duplicates kept — unlike
    dedup.word_shingles, which dedups for set-Jaccard)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    ng = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return F.when(n >= k, ng).otherwise(F.array(F.concat_ws(" ", toks)))


def word_ngram_hashes(col: str | Column, k: int = 2) -> Column:
    """All k-word n-gram IDENTITIES as int64 hashes — no n-gram
    strings are ever materialized. Tokens hash once (xxhash64), then
    adjacent hashes chain-combine k-1 times (``xxhash64(acc, next)``),
    so building all n-grams is O(n·k) long ops instead of O(n·k)
    string allocations + O(n log n) string compares for the distinct.
    Collision risk per doc ≈ n²·2⁻⁶⁴ — irrelevant for counting."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n = F.size(toks)
    h = F.transform(toks, lambda t: F.xxhash64(t))
    acc = h
    for j in range(1, k):
        acc = F.zip_with(
            F.slice(acc, 1, n - j),
            F.slice(h, 1 + j, n - j),
            lambda a, b: F.xxhash64(a, b),
        )
    return F.when(n >= k, acc).otherwise(
        F.array(F.xxhash64(F.concat_ws(" ", toks)))
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", k: int = 2, hashed: bool = True
) -> DataFrame:
    """Gopher-style repetition signal: fraction of duplicate k-grams
    per document (`1 - distinct/total`). High values mark boilerplate
    and degenerate text that quality filters drop before training.

    Pure array expressions — per-row, no shuffle, whole-stage codegen;
    the ratio is one exact long/long division (deterministic across
    engines). ``hashed=True`` (default) counts n-gram identities as
    chained int64 hashes (:func:`word_ngram_hashes`) — measured ~8×
    faster than materializing n-gram strings at sf0.1, same counts;
    ``hashed=False`` keeps the string route for when the n-grams
    themselves are needed."""
    ng = word_ngram_hashes(text_col, k) if hashed else word_ngrams_all(text_col, k)
    total = F.size(ng).cast("bigint")
    distinct = F.size(F.array_distinct(ng)).cast("bigint")
    return (
        df.withColumn("ngrams_total", total)
        .withColumn("ngrams_distinct", distinct)
        .withColumn(
            "dup_ngram_frac",
            (F.col("ngrams_total") - F.col("ngrams_distinct")).cast("double")
            / F.col("ngrams_total").cast("double"),
        )
    )


# PII patterns kept to the regex subset Java (Spark) and RE2 (DuckDB)
# treat identically — no lookarounds, no backrefs.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}-\d{3,4}-\d{4}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    output_col: str | None = None,
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Redact PII spans (emails, phone numbers, IPs by default) with
    typed placeholders — the standard scrub pass before a corpus
    becomes training data. A chain of native ``regexp_replace``
    expressions: per-row, no Python, no shuffle."""
    pats = patterns or {
        "[EMAIL]": EMAIL_RE,
        "[PHONE]": PHONE_RE,
        "[IP]": IPV4_RE,
    }
    c = F.col(text_col)
    for repl, pat in pats.items():
        c = F.regexp_replace(c, pat, repl)
    return df.withColumn(output_col or text_col, c)


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    output_col: str | None = None,
    form: str = "NFC",
    lowercase: bool = True,
    collapse_ws: bool = True,
) -> DataFrame:
    """Canonicalize text before fingerprinting/dedup: Unicode
    normalization (NFC by default — é composed ≡ e+combining-acute),
    optional lowercase, optional whitespace collapse + trim. The
    standard pre-dedup pass: without it, byte-different but
    visually-identical docs escape exact dedup.

    The case/whitespace steps are native expressions; the Unicode
    normalization itself has no Catalyst builtin, so it runs as an
    Arrow-batched pandas ``str.normalize`` — the one vectorized-Python
    step, placed last so codegen handles the rest.
    """
    c = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    if collapse_ws:
        c = F.regexp_replace(F.trim(c), r"\s+", " ")

    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.str.normalize(form)

    return df.withColumn(output_col or text_col, nfc(c))


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    output_col: str = "clean_text",
    min_words: int = 5,
    bad_words: tuple[str, ...] = (),
    require_terminal_punct: bool = False,
    min_lines_kept: int = 1,
    line_sep: str = "\n",
) -> DataFrame:
    """C4-style line-level cleaning (the rule family from the C4/
    RealNews corpus construction; also used by Gopher/RefinedWeb):
    split each document into lines, keep lines that (a) have at least
    ``min_words`` whitespace words, (b) contain none of ``bad_words``
    as a whole word, and (c) optionally end in terminal punctuation;
    then drop documents with fewer than ``min_lines_kept`` surviving
    lines. Emits ``output_col`` (surviving lines re-joined) and
    ``n_lines_kept``.

    Execution shape: one chain of native split/filter/array exprs —
    whole-stage codegen, per-row, no shuffle, no Python. At 100 TB
    this runs fused into the parquet scan stage.
    """
    import re as _re

    c = F.col(text_col)
    lines = F.split(c, _re.escape(line_sep), -1)

    def keep(ln: Column) -> Column:
        words = F.filter(F.split(F.trim(ln), r"\s+"), lambda x: x != F.lit(""))
        cond = F.size(words) >= F.lit(min_words)
        for w in bad_words:
            cond = cond & ~F.array_contains(words, w)
        if require_terminal_punct:
            cond = cond & ln.rlike(r'[.!?"]\s*$')
        return cond

    kept = F.filter(lines, keep)
    return (
        df.withColumn(output_col, F.array_join(kept, line_sep))
        .withColumn("n_lines_kept", F.size(kept).cast("bigint"))
        .filter(F.col("n_lines_kept") >= F.lit(min_lines_kept))
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
    min_df: int = 1,
    lowercase: bool = True,
) -> DataFrame:
    """Top-k most distinctive terms per document by tf-idf — the
    keyword-extraction pass of a corpus-analysis pipeline (absent from
    the reference, which has no corpus-level ops at all; its surface
    ends at per-row applies, swifter/swifter.py:287-521).

    Scoring uses the BM25 rational idf WITHOUT the log:
    ``score = tf * ((N - df + 0.5) / (df + 0.5))`` — a strictly
    monotone transform of the BM25 idf, so the per-document ranking is
    identical. The point of dropping the log: every operation left is
    IEEE +,-,*,/ in a fixed association order, which Spark and any SQL
    engine evaluate bit-identically — the score column itself is
    exact-oracle-checkable, no transcendental-libm hazard.

    Plan shape (all relational, zero Python):
      1. explode tokens -> groupBy(doc, term).count()      [shuffle 1]
      2. tf.groupBy(term).count() = document frequency     [shuffle 2,
         map-side partial agg; output is vocab-sized]
      3. tf join df_t on term                              [shuffle 3;
         AQE picks broadcast when the vocab fits]
      4. row_number over (doc, score desc, term)           [shuffle 4]
    N (corpus size) rides along as a broadcast 1-row cross join — no
    driver action, the whole thing is one lazy plan.

    At 100 TB: shuffles 1/2/4 carry (doc,term) pairs ~ token count of
    the corpus after map-side combining; the vocab table in step 3 is
    the only state that must fit somewhere, and it's term+count only.
    """
    c = F.col(text_col)
    term = F.explode(tokens(F.lower(c) if lowercase else c)).alias("term")
    tf = (
        df.select(F.col(id_col), term)
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    if min_df > 1:
        df_t = df_t.filter(F.col("df") >= min_df)
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (
                ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
                / (F.col("df").cast("double") + F.lit(0.5))
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= top_k)
        .select(id_col, "term", "tf", "df", "score", "rnk")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    lowercase: bool = True,
) -> DataFrame:
    """BM25 retrieval: rank documents against a bag-of-terms query —
    the lexical half of a RAG / dataset-curation retrieval stack
    (absent from the reference, whose surface ends at per-row applies,
    swifter/swifter.py:287-521). Extends :func:`tfidf_top_terms` with
    the full Robertson tf saturation + document-length normalization:

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    with the same RATIONAL idf as t7 (``(N−df+0.5)/(df+0.5)``, no log):
    a strictly monotone transform of the BM25 idf, so the ranking is
    the textbook one while every operation stays IEEE +,-,*,/ — the
    score is exact-oracle-checkable bit-for-bit.

    Determinism of the Σ over query terms: floating addition is
    order-sensitive, so the per-term contributions are pivoted into
    ONE COLUMN PER QUERY TERM (each a SUM over a group where at most
    one row is non-zero — exact) and added left-to-right in the
    caller-given term order. Any engine evaluating the same
    parenthesization reproduces the score exactly.

    Plan shape (all relational, zero Python):
      1. dl per doc: native ``size(tokens)`` — no shuffle;
         avgdl / N: one tiny agg, broadcast back [1-row cross join];
      2. explode tokens, FILTER TO QUERY TERMS pre-shuffle (the
         explode's output is pruned before anything moves), then
         groupBy(doc, term).count()                       [shuffle 1];
      3. df per query term: agg over step 2's output — at most
         |query| rows, broadcast joined back            [tiny shuffle];
      4. join tf→dl on the doc id                         [shuffle 2];
      5. per-doc pivot + fixed-order sum, then TakeOrdered top-k
         (per-partition heap, never a full sort).
    At 100 TB the only state that scales is the (doc,term) tf table
    restricted to query terms — ~|query| integers per matching doc.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct")
    c = F.col(text_col)
    toks = tokens(F.lower(c) if lowercase else c)
    dl = df.select(
        F.col(id_col), F.size(toks).cast("bigint").alias("__dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_docs"),
        (F.sum("__dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "__avgdl"
        ),
    )
    qarr = F.array(*[F.lit(t) for t in query_terms])
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("__term"))
        .filter(F.array_contains(qarr, F.col("__term")))
        .groupBy(id_col, "__term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__tf"))
    )
    dfreq = tf.groupBy("__term").agg(
        F.count(F.lit(1)).cast("bigint").alias("__df")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "__term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            ((F.col("__n_docs") - F.col("__df")).cast("double") + F.lit(0.5))
            / (F.col("__df").cast("double") + F.lit(0.5)),
        )
        .withColumn(
            "__contrib",
            F.col("__idf")
            * (F.col("__tf").cast("double") * F.lit(k1 + 1.0))
            / (
                F.col("__tf").cast("double")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b)
                    * (F.col("__dl").cast("double") / F.col("__avgdl"))
                )
            ),
        )
    )
    per_term = scored.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("__term") == t, F.col("__contrib")).otherwise(
                    F.lit(0.0)
                )
            ).alias(f"__s_{i}")
            for i, t in enumerate(query_terms)
        ]
    )
    total: Column = F.col("__s_0")
    for i in range(1, len(query_terms)):
        total = total + F.col(f"__s_{i}")
    out = per_term.select(F.col(id_col), total.alias("score"))
    return out.orderBy(F.col("score").desc(), F.col(id_col)).limit(top_k)


def bm25_sql(
    table: str,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> str:
    """DuckDB oracle for :func:`bm25_topk` — same tokenizer, same
    rational idf, same per-term pivot and left-to-right addition, so
    the float scores match bit-for-bit."""
    terms = ", ".join(f"('{t}')" for t in query_terms)
    sum_cols = ", ".join(
        f"SUM(CASE WHEN term = '{t}' THEN contrib ELSE 0.0 END) AS s_{i}"
        for i, t in enumerate(query_terms)
    )
    total = " + ".join(f"s_{i}" for i in range(len(query_terms)))
    # parenthesization: SQL's + is left-associative — matches the
    # Column fold above
    return rf"""
    WITH q(term) AS (VALUES {terms}),
    dl AS (
      SELECT {id_col},
             CAST(len(list_filter(string_split_regex(trim(lower({text_col})),
                                  '\s+'), x -> x <> '')) AS BIGINT) AS dl
      FROM {table}
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT {id_col}, u.t AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM {table},
           UNNEST(list_filter(string_split_regex(trim(lower({text_col})),
                              '\s+'), x -> x <> '')) AS u(t)
      WHERE u.t IN (SELECT term FROM q)
      GROUP BY {id_col}, u.t
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    contribs AS (
      SELECT tf.{id_col}, tf.term,
             (((CAST(stats.n_docs - dfreq.df AS DOUBLE) + 0.5)
               / (CAST(dfreq.df AS DOUBLE) + 0.5))
              * (CAST(tf.tf AS DOUBLE) * {k1 + 1.0!r}))
             / (CAST(tf.tf AS DOUBLE)
                + {k1!r} * ({1.0 - b!r} + {b!r}
                            * (CAST(dl.dl AS DOUBLE) / stats.avgdl)))
                 AS contrib
      FROM tf
      JOIN dfreq USING (term)
      JOIN dl USING ({id_col})
      CROSS JOIN stats
    ),
    pivoted AS (
      SELECT {id_col}, {sum_cols} FROM contribs GROUP BY {id_col}
    )
    SELECT {id_col}, {total} AS score
    FROM pivoted
    ORDER BY score DESC, {id_col}
    LIMIT {top_k}
    """


def rare_token_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_freq: int = 3,
) -> DataFrame:
    """Corpus-relative rare-token quality signal (the CCNet-style
    heuristic with exact arithmetic): per doc, how many of its tokens
    have corpus-wide frequency below ``min_freq``. A high rare-token
    fraction flags OCR noise, mojibake, and boilerplate IDs — without
    any trained model, using the corpus itself as the frequency prior.

    Two passes, both shuffle-light: (1) token frequency table — ALL
    occurrences (not distinct) exploded and counted, one hash shuffle
    on the token; (2) each doc's tokens joined to the table (broadcast
    while the vocab is small; AQE decides) and re-aggregated by doc.
    Every statistic is an integer count; ``rare_frac`` is one per-row
    division — deterministic across engines, so the oracle is exact.

    Returns ``(id_col, n_tokens, n_rare, rare_frac)``.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__tok"))
    vocab = toks.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("__freq")
    )
    joined = toks.join(vocab, "__tok")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(
                F.when(F.col("__freq") < min_freq, F.lit(1)).otherwise(F.lit(0))
            ).cast("bigint").alias("n_rare"),
        )
        .withColumn(
            "rare_frac", F.col("n_rare").cast("double") / F.col("n_tokens")
        )
    )


# Gopher quality-rule stopword list (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", §A1.1 — public paper): a document must
# contain at least 2 of these to pass the stop-word rule.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher pre-training quality rules (Rae et al. 2021 §A1.1) as
    pure Catalyst expressions — the document-level repetition-free
    subset of the rule family (repetition rules live in
    ``repetition_metrics``).

    Emits per-document metrics plus 0/1 rule flags and the conjunction
    ``keep``. Every metric is integer arithmetic or a single division
    of exact integers — bit-deterministic, SQL-oracle-able. Zero
    Python, zero shuffle: this is a scan-stage projection, so at
    100 TB it fuses into whole-stage codegen over the parquet scan
    with only ``text_col`` read.

    Word rules: count bounds, mean word length bounds, symbol
    (``#``/``...``) to word ratio, alphabetic-word fraction, stop-word
    minimum. Line rules: bullet-start and ellipsis-end line fractions
    (computed over ``\\n``-split lines; a single-line document yields
    one line).
    """
    toks = tokens(text_col)
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_words = F.size(toks).cast("bigint")
    sum_word_len = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    mean_word_len = sum_word_len.cast("double") / n_words.cast("double")
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    n_symbols = (n_hash + n_ellipsis).cast("bigint")
    symbol_ratio = n_symbols.cast("double") / n_words.cast("double")
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-zA-Z]"))).cast("bigint")
    alpha_frac = n_alpha.cast("double") / n_words.cast("double")
    sw = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(sw, w))).cast("bigint")

    lines = F.split(c, "\n")
    n_lines = F.size(lines).cast("bigint")
    n_bullet = F.size(
        F.filter(lines, lambda ln: F.ltrim(ln).rlike("^[-*•]"))
    ).cast("bigint")
    n_ell_end = F.size(
        F.filter(lines, lambda ln: F.rtrim(ln).rlike("(\\.\\.\\.|…)$"))
    ).cast("bigint")
    bullet_ratio = n_bullet.cast("double") / n_lines.cast("double")
    ellipsis_ratio = n_ell_end.cast("double") / n_lines.cast("double")

    flags = {
        "ok_words": (n_words >= min_words) & (n_words <= max_words),
        "ok_word_len": (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len),
        "ok_symbols": symbol_ratio < max_symbol_ratio,
        "ok_bullets": bullet_ratio < max_bullet_ratio,
        "ok_ellipsis": ellipsis_ratio < max_ellipsis_ratio,
        "ok_alpha": alpha_frac >= min_alpha_frac,
        "ok_stopwords": n_stop >= min_stopwords,
    }
    out = df.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": mean_word_len,
            "symbol_ratio": symbol_ratio,
            "alpha_frac": alpha_frac,
            "n_stop": n_stop,
            "bullet_ratio": bullet_ratio,
            "ellipsis_ratio": ellipsis_ratio,
            # NULL text (or a 0/0 ratio on empty text) makes a rule
            # predicate SQL-NULL; a quality FILTER must fail such docs,
            # not propagate NULL — coalesce every flag to 0
            **{
                k: F.coalesce(v.cast("int"), F.lit(0))
                for k, v in flags.items()
            },
        }
    )
    keep = None
    for k in flags:
        keep = F.col(k) if keep is None else (keep * F.col(k))
    return out.withColumn("keep", keep.cast("int"))


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-trained unigram language-model score — the model-free
    stand-in for a KenLM perplexity filter: per document, the mean
    negative log-probability of its tokens under the corpus's own
    unigram distribution. High ``avg_nll`` flags rare-token-heavy
    noise; low flags boilerplate. (The CCNet recipe uses a trained
    5-gram LM; the unigram corpus prior needs no external model and
    is the standard first approximation.)

    Determinism: per-token surprisal ``ln(total/freq)`` is quantized
    to INTEGER micro-nats before summing, so the per-doc sum is exact
    integer arithmetic — partition-order independent and
    SQL-oracle-able; the only float step is one per-row division at
    the end.

    Two hash shuffles (token freq, doc re-agg) — the same shape as
    ``rare_token_stats``; the vocab side is broadcast-size in
    practice and AQE picks the join strategy.

    Returns ``(id_col, n_tokens, sum_surprisal, avg_nll)``.
    """
    toks = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__tok")
    )
    vocab = toks.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("__freq")
    )
    total = vocab.agg(F.sum("__freq").cast("bigint").alias("__total"))
    surprisal = F.round(
        F.log(F.col("__total").cast("double") / F.col("__freq")) * 1_000_000
    ).cast("bigint")
    scored = (
        toks.join(vocab, "__tok")
        .crossJoin(F.broadcast(total))
        .select(F.col(id_col), surprisal.alias("__sup"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("__sup").cast("bigint").alias("sum_surprisal"),
        )
        .withColumn(
            "avg_nll",
            F.col("sum_surprisal").cast("double")
            / (F.col("n_tokens").cast("double") * 1e6),
        )
    )


def dsir_logratio(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    hash_buckets: int | None = None,
) -> DataFrame:
    """DSIR importance scoring (Data Selection via Importance
    Resampling, Xie et al. 2023, arXiv:2302.03169 — public): score
    every raw-corpus document by how much more likely its k-gram bag
    is under the TARGET distribution than under the raw corpus's own,
    ``score(d) = Σ_f log p̂_target(f) − log p̂_raw(f)`` with add-1
    smoothed n-gram models. High scores = "looks like the target
    domain" — the standard pretraining-data selection signal when a
    quality classifier is unavailable.

    Determinism: per-feature log-ratios are quantized to INTEGER
    micro-nats before the per-doc sum (the t15 unigram-LM trick), so
    ``logratio_unats`` is exact integer arithmetic — partition-order
    independent and SQL-oracle-able. Decomposition keeps it exact:
    ``log p̂_t(f) − log p̂_r(f) = [ln(c_t+1) − ln(c_r+1)] +
    [ln(R+V) − ln(T+V)]`` — the per-feature bracket rounds once per
    feature, the constant bracket rounds once globally and multiplies
    by the doc's feature count.

    Scale shape: two count shuffles (target features, raw features),
    one full-outer feature merge, then a feature-key join back to the
    exploded corpus — the same silhouette as TF-IDF. The paper hashes
    features into a fixed bucket space to bound the model;
    ``hash_buckets`` does the same JVM-side (``pmod(xxhash64(f), B)``)
    so the weight table becomes broadcastable at any corpus size —
    Spark-only (no cross-engine hash), so the suite oracle runs the
    exact-identity variant.

    Returns ``(id_col, n_feats, logratio_unats, avg_logratio)``.
    """
    # spread the one-file fixture scans before the n-gram explode
    # chains: the raw-corpus explode runs TWICE (count model + score
    # pass) and each inherited a single scan partition — measured as
    # 3.9 s + 3.4 s single-task jobs on a 32-core host (guide §2.3)
    docs = spread(docs.select(id_col, text_col))
    target = spread(target.select(text_col))
    feat = word_ngrams_all(text_col, k)
    if hash_buckets is not None:
        fcol = F.explode(feat).alias("__f0")

        def feats(df: DataFrame, *keep) -> DataFrame:
            return df.select(*keep, fcol).select(
                *keep, F.pmod(F.xxhash64("__f0"), F.lit(hash_buckets)).alias("__f")
            )
    else:

        def feats(df: DataFrame, *keep) -> DataFrame:
            return df.select(*keep, F.explode(feat).alias("__f"))

    t_f = feats(target).groupBy("__f").agg(
        F.count(F.lit(1)).cast("bigint").alias("__ct")
    )
    r_f = feats(docs).groupBy("__f").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cr")
    )
    # materialized ONCE: the merged feature table feeds BOTH the
    # one-row smoothing constant and the per-feature weights — without
    # the cut the two full n-gram count shuffles (t_f, r_f) and their
    # full-outer merge re-executed per consumer (guide §2.4; observed
    # twice in p20's plan). The cut frame is vocabulary-sized —
    # bucket-bounded under hash_buckets at scale.
    u = r_f.join(t_f, "__f", "full_outer").select(
        "__f",
        F.coalesce("__ct", F.lit(0)).alias("__ct"),
        F.coalesce("__cr", F.lit(0)).alias("__cr"),
    ).localCheckpoint()
    const = u.agg(
        F.round(
            (
                F.log(
                    (F.sum("__cr") + F.count(F.lit(1))).cast("double")
                )
                - F.log((F.sum("__ct") + F.count(F.lit(1))).cast("double"))
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("__const")
    )
    w = u.select(
        "__f",
        F.round(
            (
                F.log((F.col("__ct") + 1).cast("double"))
                - F.log((F.col("__cr") + 1).cast("double"))
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("__w"),
    )
    scored = (
        feats(docs, F.col(id_col))
        .join(w, "__f")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum("__w").cast("bigint").alias("__sum_w"),
        )
    )
    total = F.col("__sum_w") + F.col("n_feats") * F.col("__const")
    return scored.crossJoin(F.broadcast(const)).select(
        F.col(id_col),
        "n_feats",
        total.cast("bigint").alias("logratio_unats"),
        (
            total.cast("double") / (F.col("n_feats").cast("double") * 1e6)
        ).alias("avg_logratio"),
    )


# ---------------------------------------------------------------------------
# Trained BPE (Sennrich et al. 2016, public): the real merge-table
# tokenizer, one step beyond the regex pre-tokenizer estimate
# (bpe_token_count). Training runs on the corpus's WORD-FREQUENCY
# table — bounded driver state (the distinct-word set, capped), the
# standard way BPE is trained; encoding is a distributed Arrow pass.
# ---------------------------------------------------------------------------


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    max_vocab_words: int = 50_000,
) -> list[tuple[str, str]]:
    """Learn a BPE merge table from the corpus.

    Distributed part: one explode + groupBy builds the word-frequency
    table (the only corpus-sized work); the driver receives at most
    ``max_vocab_words`` (word, freq) rows — most-frequent first,
    lexicographic tiebreak, so the cap is deterministic. Driver part:
    classic greedy pair-merging over that weighted dictionary
    (deterministic: best pair by (count desc, pair lexicographic)).

    Returns the ordered merge list — feed to :func:`bpe_encode_count`.
    """
    wf = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .orderBy(F.col("f").desc(), F.col("w"))
        .limit(max_vocab_words)
        .collect()
    )
    # word -> (symbol tuple, freq); </w> marks word end (classic BPE)
    vocab: dict[tuple[str, ...], int] = {}
    for r in wf:
        key = tuple(r.w) + ("</w>",)
        vocab[key] = vocab.get(key, 0) + r.f

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + f
        if not pair_counts:
            break
        # deterministic: max count, then LEXICOGRAPHICALLY SMALLEST pair
        best_count = max(pair_counts.values())
        best_pair = min(p for p, c in pair_counts.items() if c == best_count)
        if best_count < 2:
            break
        merged = best_pair[0] + best_pair[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == best_pair[0]
                    and syms[i + 1] == best_pair[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
        merges.append(best_pair)
    return merges


def _bpe_word_symbols(
    word: str, ranks: dict[tuple[str, str], int]
) -> list[str]:
    """BPE token symbols for one word under a merge-rank table
    (lowest-rank pair merges first — the standard greedy decode).
    Concatenating the symbols always reconstructs ``word + '</w>'`` —
    the round-trip law the hypothesis tests assert."""
    syms = list(word) + ["</w>"]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def _bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> int:
    """Number of BPE tokens for one word — see _bpe_word_symbols."""
    return len(_bpe_word_symbols(word, ranks))


def bpe_encode_count(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document token count under a trained merge table — the real
    training-cost accounting pass. Arrow-batched; each batch memoizes
    word → token-count (Zipf makes the cache hit rate high), so the
    per-word merge loop runs once per DISTINCT word per batch.

    Returns ``(id_col, n_words, n_bpe_tokens)``.
    """
    ranks = {p: i for i, p in enumerate(merges)}

    def batches(it):
        cache: dict[str, int] = {}
        for pdf in it:
            n_words = []
            n_tokens = []
            for t in pdf[text_col]:
                ws = t.split() if t else []
                total = 0
                for w in ws:
                    c = cache.get(w)
                    if c is None:
                        c = _bpe_encode_word(w, ranks)
                        cache[w] = c
                    total += c
                n_words.append(len(ws))
                n_tokens.append(total)
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_words": pd.Series(n_words, dtype="int64"),
                    "n_bpe_tokens": pd.Series(n_tokens, dtype="int64"),
                }
            )
            yield out

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        batches, f"{id_col} long, n_words long, n_bpe_tokens long"
    )


def bpe_vocab(merges: list[tuple[str, str]]) -> dict[str, int]:
    """Deterministic token-id table from a merge list: ``<unk>`` = 0,
    ``</w>`` = 1, the single characters appearing in the merges
    (sorted) next, then each merge's output symbol in merge order —
    the GPT-2-style construction, derived from the merges ALONE so
    every executor (and every rerun) builds the identical table."""
    chars = sorted({c for p in merges for s in p for c in s if len(c) == 1})
    vocab: dict[str, int] = {"<unk>": 0, "</w>": 1}
    for c in chars:
        vocab.setdefault(c, len(vocab))
    for a, b in merges:
        vocab.setdefault(a + b, len(vocab))
    return vocab


def bpe_encode_ids(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "token_ids",
) -> DataFrame:
    """Encode every document to its ACTUAL BPE token-id sequence —
    what :func:`~sparkswift.operators.packing.pack_sequences` packs
    and a training job consumes. Same whitespace word split and greedy
    merge decode as :func:`bpe_encode_count` (their token counts agree
    by construction — the t17 gate law); ids come from
    :func:`bpe_vocab`, symbols outside it (characters never seen in a
    merge) map to ``<unk>``.

    Arrow-batched mapInPandas with a per-batch word → ids memo; the
    merge table and vocab ride to executors inside the closure
    (bounded: ≤ num_merges entries). Map-side only — no shuffle.

    Returns ``(id_col, n_bpe_tokens, token_ids array<int>)``.
    """
    ranks = {p: i for i, p in enumerate(merges)}
    vocab = bpe_vocab(merges)
    unk = vocab["<unk>"]

    def batches(it):
        cache: dict[str, list[int]] = {}
        for pdf in it:
            ids_out = []
            n_out = []
            for t in pdf[text_col]:
                doc_ids: list[int] = []
                for w in t.split() if t else []:
                    c = cache.get(w)
                    if c is None:
                        c = [
                            vocab.get(s, unk)
                            for s in _bpe_word_symbols(w, ranks)
                        ]
                        cache[w] = c
                    doc_ids.extend(c)
                ids_out.append(doc_ids)
                n_out.append(len(doc_ids))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bpe_tokens": pd.Series(n_out, dtype="int64"),
                    output_col: pd.Series(ids_out, dtype="object"),
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        batches, f"{id_col} long, n_bpe_tokens long, {output_col} array<int>"
    )


def bpe_decode_text(
    df: DataFrame,
    merges: list[tuple[str, str]],
    ids_col: str = "token_ids",
    output_col: str = "decoded",
) -> DataFrame:
    """Invert :func:`bpe_encode_ids`: token-id sequences back to
    whitespace-joined text — the inspection path for packed shards
    (decode a bin/chunk and read it). NATIVE expressions only: the
    id → symbol table is a bounded array literal (≤ num_merges +
    alphabet + 2 entries, from :func:`bpe_vocab`), each id resolves
    with ``element_at``, symbols concatenate and ``</w>`` markers
    become spaces. No Python, no shuffle — a scan-stage map.

    Law (the t18 gate): for any document whose encoding contains no
    ``<unk>``, ``decode(encode(text))`` equals the whitespace-
    normalized original exactly. ``<unk>`` ids decode to the literal
    ``<unk>`` marker — visibly lossy, never silently wrong.
    """
    vocab = bpe_vocab(merges)
    table = [""] * len(vocab)
    for sym, i in vocab.items():
        table[i] = sym
    sym_arr = F.array(*[F.lit(s) for s in table])
    n_vocab = F.lit(len(table))
    # ids outside [0, vocab) must decode to a VISIBLE marker: a bare
    # element_at would return NULL, which array_join silently drops —
    # a corrupted id sequence would decode to silently truncated text,
    # violating the "lossy is loud, never silent" contract that only
    # in-vocab <unk> ids enjoy. (CaseWhen evaluates lazily, so the
    # lookup never runs out-of-bounds.)
    joined = F.array_join(
        F.transform(
            F.col(ids_col),
            lambda i: F.coalesce(
                F.when(
                    (i >= 0) & (i < n_vocab),
                    F.element_at(sym_arr, (i + 1).cast("int")),
                ),
                F.lit("<bad-id>"),
            ),
        ),
        "",
    )
    decoded = F.trim(F.regexp_replace(joined, "</w>", " "))
    return df.withColumn(output_col, decoded)


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (Kudo 2018, the SentencePiece "unigram" model —
# public): the OTHER major subword family next to BPE. Pieces carry
# probabilities; training is EM over the segmentation lattice with
# expected-count pruning; encoding is per-word Viterbi (the max-
# likelihood segmentation). Same split of labor as bpe_train: the
# corpus-sized work is ONE word-frequency aggregation, the EM runs on
# that bounded table driver-side (the standard training input), and
# encode/decode are distributed scan-stage passes.
# ---------------------------------------------------------------------------

_UNI_WB = "▁"  # ▁ — SentencePiece word-boundary marker
_UNI_UNK = "<unk>"


def _uni_forward(word: str, logp: dict[str, float], max_len: int,
                 unk_lp: float) -> list[float]:
    """Log-domain forward pass over the segmentation lattice:
    alpha[j] = logsumexp_i(alpha[i] + logp(word[i:j])). Unknown single
    chars advance with the unk penalty so every word has a complete
    lattice (SentencePiece's unk fallback)."""
    n = len(word)
    alpha = [float("-inf")] * (n + 1)
    alpha[0] = 0.0
    for j in range(1, n + 1):
        acc = float("-inf")
        for i in range(max(0, j - max_len), j):
            lp = logp.get(word[i:j])
            if lp is None:
                if j - i == 1:
                    lp = unk_lp
                else:
                    continue
            v = alpha[i] + lp
            if v > acc:
                acc, lo = v, acc
            else:
                lo = v
            if lo != float("-inf"):
                acc = acc + math.log1p(math.exp(lo - acc))
        alpha[j] = acc
    return alpha


def _uni_viterbi(
    word: str, logp: dict[str, float], max_len: int, unk_lp: float
) -> list[str]:
    """Max-likelihood segmentation of one ▁-prefixed word. Ties break
    deterministically toward the LONGEST last piece (strictly-greater
    update scanning split points left to right). Characters outside
    the vocabulary segment as single-char pieces billed at the unk
    penalty — the caller maps them to the visible <unk> id."""
    n = len(word)
    best = [float("-inf")] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for j in range(1, n + 1):
        for i in range(max(0, j - max_len), j):
            lp = logp.get(word[i:j])
            if lp is None:
                if j - i == 1:
                    lp = unk_lp
                else:
                    continue
            v = best[i] + lp
            if v > best[j]:
                best[j], back[j] = v, i
    out: list[str] = []
    j = n
    while j > 0:
        i = back[j]
        out.append(word[i:j])
        j = i
    out.reverse()
    return out


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 300,
    max_vocab_words: int = 50_000,
    seed_max_piece_len: int = 6,
    seed_size: int = 1_500,
    em_iters: int = 2,
    prune_keep: float = 0.75,
) -> list[tuple[str, float]]:
    """Train a unigram-LM tokenizer (Kudo 2018): returns the ordered
    piece table ``[(piece, logprob), ...]`` — feed to
    :func:`unigram_encode_ids` / :func:`unigram_decode_text`.

    Distributed part: ONE explode + groupBy word-frequency pass (the
    only corpus-sized work; deterministic top-``max_vocab_words`` cap
    by (freq desc, word)). Driver part over that bounded table: seed
    vocabulary = every substring of the ▁-prefixed words up to
    ``seed_max_piece_len`` chars scored by freq·len (top
    ``seed_size``, plus ALL single characters so every word stays
    segmentable), then rounds of EM (forward-backward expected piece
    counts over each word's lattice, freq-weighted) with expected-
    count pruning — the lowest-count multi-char pieces drop (keeping
    ``prune_keep`` per round; the public simplification of Kudo's
    loss-based prune) until ``vocab_size`` remains, then a final EM
    re-estimate. Pure driver-side floats over a deterministically
    ordered word list — no cross-partition float summation, so the
    trained table is bit-reproducible on any cluster layout.

    EM's corpus log-likelihood ascent and the Viterbi optimality of
    the encoder are pytest-certified against brute-force references
    (tests/test_llm_ops.py).
    """
    wf_rows = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .orderBy(F.col("f").desc(), F.col("w"))
        .limit(max_vocab_words)
        .collect()
    )
    words: list[tuple[str, int]] = [
        (_UNI_WB + r.w, int(r.f)) for r in wf_rows
    ]
    if not words:
        raise ValueError("unigram_train: empty corpus")

    # --- seed: substrings scored by freq * len, all single chars kept
    scores: dict[str, int] = {}
    chars: set[str] = set()
    for w, f in words:
        n = len(w)
        for i in range(n):
            chars.add(w[i])
            for j in range(i + 1, min(i + seed_max_piece_len, n) + 1):
                p = w[i:j]
                scores[p] = scores.get(p, 0) + f * (j - i)
    multi = sorted(
        (p for p in scores if len(p) > 1),
        key=lambda p: (-scores[p], p),
    )[:seed_size]
    pieces = sorted(chars) + multi

    def em_rounds(pieces: list[str], iters: int) -> dict[str, float]:
        lp = {p: -math.log(len(pieces)) for p in pieces}
        max_len = max(len(p) for p in pieces)
        for _ in range(iters):
            unk_lp = min(lp.values()) - 10.0
            counts = {p: 0.0 for p in pieces}
            for w, f in words:
                n = len(w)
                alpha = _uni_forward(w, lp, max_len, unk_lp)
                if alpha[n] == float("-inf"):
                    continue
                # backward pass
                beta = [float("-inf")] * (n + 1)
                beta[n] = 0.0
                for i in range(n - 1, -1, -1):
                    acc = float("-inf")
                    for j in range(i + 1, min(i + max_len, n) + 1):
                        plp = lp.get(w[i:j])
                        if plp is None:
                            if j - i == 1:
                                plp = unk_lp
                            else:
                                continue
                        v = plp + beta[j]
                        if v > acc:
                            acc, lo = v, acc
                        else:
                            lo = v
                        if lo != float("-inf"):
                            acc = acc + math.log1p(math.exp(lo - acc))
                    beta[i] = acc
                z = alpha[n]
                for i in range(n):
                    if alpha[i] == float("-inf"):
                        continue
                    for j in range(i + 1, min(i + max_len, n) + 1):
                        p = w[i:j]
                        plp = lp.get(p)
                        if plp is None:
                            continue
                        g = alpha[i] + plp + beta[j] - z
                        if g > -30.0:
                            counts[p] += f * math.exp(g)
            total = sum(counts.values())
            floor = 1e-12
            lp = {
                p: math.log(max(c, floor)) - math.log(max(total, floor))
                for p, c in counts.items()
            }
        return lp

    lp = em_rounds(pieces, em_iters)
    # --- prune multi-char pieces (lowest expected probability first,
    # piece-lex ties) until the target size; single chars never drop
    # (they are the coverage floor), so progress is guaranteed by
    # keep <= len(multi) - 1 and the loop stops at the alphabet if
    # vocab_size is set below it
    while len(lp) > vocab_size:
        multi_sorted = sorted(
            (p for p in lp if len(p) > 1), key=lambda p: (lp[p], p)
        )
        if not multi_sorted:
            break  # alphabet floor — vocab_size below the char count
        n_single = len(lp) - len(multi_sorted)
        keep = max(
            vocab_size - n_single, int(len(multi_sorted) * prune_keep)
        )
        keep = min(max(keep, 0), len(multi_sorted) - 1)
        survivors = multi_sorted[len(multi_sorted) - keep :]
        pieces = sorted(p for p in lp if len(p) == 1) + sorted(
            survivors, key=lambda p: (-lp[p], p)
        )
        lp = em_rounds(pieces, 1)
    # stable output order: prob desc, then piece — id table derives
    # from this list alone, so every executor rebuilds it identically
    return sorted(lp.items(), key=lambda kv: (-kv[1], kv[0]))


def unigram_vocab(pieces: list[tuple[str, float]]) -> dict[str, int]:
    """Deterministic id table from the trained piece list: ``<unk>`` =
    0, then the pieces in trained order (prob desc, lex)."""
    vocab = {_UNI_UNK: 0}
    for p, _ in pieces:
        vocab.setdefault(p, len(vocab))
    return vocab


def unigram_encode_ids(
    df: DataFrame,
    pieces: list[tuple[str, float]],
    text_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "token_ids",
) -> DataFrame:
    """Viterbi-encode every document under the trained unigram table:
    each whitespace word is ▁-prefixed and segmented to its max-
    likelihood pieces; pieces map to :func:`unigram_vocab` ids, and
    out-of-vocabulary single characters map to the visible ``<unk>``
    id. Arrow-batched ``mapInPandas`` with a per-batch word memo —
    map-side only, no shuffle (the bpe_encode_ids shape).

    Returns ``(id_col, n_pieces, token_ids array<int>)``.
    """
    lp = dict(pieces)
    vocab = unigram_vocab(pieces)
    unk = vocab[_UNI_UNK]
    max_len = max(len(p) for p in lp)
    unk_lp = min(lp.values()) - 10.0

    def batches(it):
        cache: dict[str, list[int]] = {}
        for pdf in it:
            ids_out = []
            n_out = []
            for t in pdf[text_col]:
                doc_ids: list[int] = []
                for w in t.split() if t else []:
                    c = cache.get(w)
                    if c is None:
                        segs = _uni_viterbi(_UNI_WB + w, lp, max_len, unk_lp)
                        c = [vocab.get(s, unk) for s in segs]
                        cache[w] = c
                    doc_ids.extend(c)
                ids_out.append(doc_ids)
                n_out.append(len(doc_ids))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_pieces": pd.Series(n_out, dtype="int64"),
                    output_col: pd.Series(ids_out, dtype="object"),
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        batches, f"{id_col} long, n_pieces long, {output_col} array<int>"
    )


def unigram_decode_text(
    df: DataFrame,
    pieces: list[tuple[str, float]],
    ids_col: str = "token_ids",
    output_col: str = "decoded",
) -> DataFrame:
    """Invert :func:`unigram_encode_ids` with NATIVE expressions only
    (the bpe_decode_text shape): bounded id → piece array literal,
    ``element_at`` per id, concatenate, ▁ markers become spaces.
    Out-of-range ids decode to a visible ``<bad-id>`` marker; the
    ``<unk>`` id decodes to the literal ``<unk>`` — lossy is loud.

    Law (the t21 gate): any document whose encoding holds no
    ``<unk>`` round-trips exactly to its whitespace-normalized text.
    """
    vocab = unigram_vocab(pieces)
    table = [""] * len(vocab)
    for sym, i in vocab.items():
        table[i] = sym
    sym_arr = F.array(*[F.lit(s) for s in table])
    n_vocab = F.lit(len(table))
    joined = F.array_join(
        F.transform(
            F.col(ids_col),
            lambda i: F.coalesce(
                F.when(
                    (i >= 0) & (i < n_vocab),
                    F.element_at(sym_arr, (i + 1).cast("int")),
                ),
                F.lit("<bad-id>"),
            ),
        ),
        "",
    )
    decoded = F.trim(F.regexp_replace(joined, _UNI_WB, " "))
    return df.withColumn(output_col, decoded)


# ---------------------------------------------------------------------------
# WordPiece tokenizer (t22) — the third major subword family next to
# BPE (t16-t18) and unigram-LM (t21). Public algorithm: Schuster &
# Nakajima 2012 (the original "WordPiece" voice-search paper) as
# popularized by BERT (Devlin et al. 2018) — training merges the
# symbol pair with the highest LIKELIHOOD gain score
# count(ab)/(count(a)·count(b)) (the HuggingFace-tokenizers trainer
# formulation of the same criterion), and encoding is greedy
# longest-match-first against the vocab with '##' continuation
# prefixes, whole word -> [UNK] when any position fails to match.
# The reference (swifter) has no tokenizer surface; this is a
# north-star extension (SURVEY §2.2 text family).
# ---------------------------------------------------------------------------
_WP_UNK = "[UNK]"
_WP_CONT = "##"


def _wp_symbols(word: str) -> list[str]:
    """BERT-style initial split: first char plain, rest ##-prefixed."""
    return [word[0]] + [_WP_CONT + c for c in word[1:]]


def _wp_merge(a: str, b: str) -> str:
    """Merged symbol: the continuation marker of the RIGHT side is
    interior after the merge and drops; the left side's marker (if
    any) stays — '##a'+'##b' -> '##ab', 'a'+'##b' -> 'ab'."""
    return a + (b[len(_WP_CONT):] if b.startswith(_WP_CONT) else b)


def wordpiece_train(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 300,
    max_vocab_words: int = 50_000,
) -> list[str]:
    """Train a WordPiece vocabulary: returns the ordered piece list
    (``[UNK]`` first, then the alphabet, then learned merges in merge
    order) — feed to :func:`wordpiece_encode_ids` /
    :func:`wordpiece_decode_text`.

    Distributed part: ONE explode + groupBy word-frequency pass (the
    only corpus-sized work; deterministic top-``max_vocab_words`` cap
    by (freq desc, word) — the bpe_train/unigram_train shape). Driver
    part over that bounded table: greedy pair merging where the next
    merge maximizes the likelihood-gain score
    ``count(ab) / (count(a) * count(b))`` instead of BPE's raw pair
    count. Scores are compared by EXACT INTEGER cross-multiplication
    (``c1*l2*r2 vs c2*l1*r1`` over python bigints) — no float ratio
    anywhere, so the trained vocab is bit-reproducible on any
    platform and partition layout; ties break on the
    lexicographically smallest pair. Merging stops at ``vocab_size``
    pieces (alphabet + [UNK] floor if that is already larger) or when
    no pair occurs twice.
    """
    wf = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .orderBy(F.col("f").desc(), F.col("w"))
        .limit(max_vocab_words)
        .collect()
    )
    if not wf:
        raise ValueError("wordpiece_train: empty corpus")
    words: dict[tuple[str, ...], int] = {}
    for r in wf:
        key = tuple(_wp_symbols(r.w))
        words[key] = words.get(key, 0) + int(r.f)

    alphabet = sorted({s for syms in words for s in syms})
    pieces: list[str] = [_WP_UNK] + alphabet
    seen = set(pieces)

    while len(pieces) < vocab_size:
        pair_counts: dict[tuple[str, str], int] = {}
        sym_counts: dict[str, int] = {}
        for syms, f in words.items():
            for s in syms:
                sym_counts[s] = sym_counts.get(s, 0) + f
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + f
        # candidates: pairs seen >= 2 whose merged symbol is new
        best: tuple[str, str] | None = None
        for p in sorted(pair_counts):
            c = pair_counts[p]
            if c < 2 or _wp_merge(*p) in seen:
                continue
            if best is None:
                best = p
                continue
            # score(p) > score(best) <=> c*lb*rb > cb*l*r (exact ints)
            l, r_ = sym_counts[p[0]], sym_counts[p[1]]
            cb = pair_counts[best]
            lb, rb = sym_counts[best[0]], sym_counts[best[1]]
            if c * lb * rb > cb * l * r_:
                best = p
        if best is None:
            break
        merged = _wp_merge(*best)
        new_words: dict[tuple[str, ...], int] = {}
        for syms, f in words.items():
            out = []
            i = 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_words[key] = new_words.get(key, 0) + f
        words = new_words
        pieces.append(merged)
        seen.add(merged)
    return pieces


def wordpiece_vocab(pieces: list[str]) -> dict[str, int]:
    """Deterministic id table: position in the trained piece list
    (``[UNK]`` = 0 by construction) — derived from the list alone, so
    every executor rebuilds it identically."""
    return {p: i for i, p in enumerate(pieces)}


def _wp_encode_word(
    word: str, vocab: dict[str, int], max_chars: int = 100
) -> list[str]:
    """BERT's WordpieceTokenizer: greedy longest-match-first with
    ``##`` continuation; if any position has NO matching piece the
    WHOLE word becomes ``[UNK]`` (and words over ``max_chars`` chars
    short-circuit to ``[UNK]`` — the public BERT guard)."""
    if not word or len(word) > max_chars:
        return [_WP_UNK]
    out: list[str] = []
    start = 0
    n = len(word)
    while start < n:
        end = n
        cur = None
        while start < end:
            sub = word[start:end]
            if start > 0:
                sub = _WP_CONT + sub
            if sub in vocab:
                cur = sub
                break
            end -= 1
        if cur is None:
            return [_WP_UNK]
        out.append(cur)
        start = end
    return out


def wordpiece_encode_ids(
    df: DataFrame,
    pieces: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    output_col: str = "token_ids",
) -> DataFrame:
    """Greedy-encode every document under the trained vocab: each
    whitespace word segments longest-match-first (whole word ->
    ``[UNK]`` on any miss). Arrow-batched ``mapInPandas`` with a
    per-batch word memo — map-side only, no shuffle (the
    bpe_encode_ids / unigram_encode_ids shape).

    Returns ``(id_col, n_pieces, token_ids array<int>)``.
    """
    vocab = wordpiece_vocab(pieces)

    def batches(it):
        cache: dict[str, list[int]] = {}
        for pdf in it:
            ids_out = []
            n_out = []
            for t in pdf[text_col]:
                doc_ids: list[int] = []
                for w in t.split() if t else []:
                    c = cache.get(w)
                    if c is None:
                        c = [vocab[s] for s in _wp_encode_word(w, vocab)]
                        cache[w] = c
                    doc_ids.extend(c)
                ids_out.append(doc_ids)
                n_out.append(len(doc_ids))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_pieces": pd.Series(n_out, dtype="int64"),
                    output_col: pd.Series(ids_out, dtype="object"),
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        batches, f"{id_col} long, n_pieces long, {output_col} array<int>"
    )


def wordpiece_decode_text(
    df: DataFrame,
    pieces: list[str],
    ids_col: str = "token_ids",
    output_col: str = "decoded",
) -> DataFrame:
    """Invert :func:`wordpiece_encode_ids` with NATIVE expressions
    only (the bpe/unigram decode shape): bounded id -> rendered-piece
    array literal (word-initial pieces carry a leading space,
    continuation pieces drop their ``##``), ``element_at`` per id,
    concatenate, trim. Out-of-range ids decode to a visible
    ``<bad-id>`` marker; the ``[UNK]`` id decodes to the literal
    ``[UNK]`` — lossy is loud.

    Law (the t22 gate): any document whose encoding holds no
    ``[UNK]`` round-trips exactly to its whitespace-normalized text
    (greedy pieces partition each word by construction). One public
    BERT quirk inherited with the flat vocab.txt-style table: a TEXT
    word that literally starts with ``##`` can match a continuation
    piece at position 0 and decode without its marker — such words
    are outside the round-trip domain (the fixture corpus contains no
    ``#``; pytest pins the quirk explicitly so it is a documented
    behavior, not a surprise).
    """
    table = [
        p[len(_WP_CONT):] if p.startswith(_WP_CONT) else " " + p
        for p in pieces
    ]
    sym_arr = F.array(*[F.lit(s) for s in table])
    n_vocab = F.lit(len(table))
    joined = F.array_join(
        F.transform(
            F.col(ids_col),
            lambda i: F.coalesce(
                F.when(
                    (i >= 0) & (i < n_vocab),
                    F.element_at(sym_arr, (i + 1).cast("int")),
                ),
                F.lit(" <bad-id>"),
            ),
        ),
        "",
    )
    return df.withColumn(output_col, F.trim(joined))


# ---------------------------------------------------------------------------
# Trained quality probe — distributed, DETERMINISTIC linear-model
# training inside the engine
# ---------------------------------------------------------------------------
def train_linear_probe(
    df,
    feature_cols: list[str],
    label_col: str,
    lr: float = 0.25,
    iters: int = 24,
    stats: dict | None = None,
):
    """Train a least-squares linear probe with full-batch gradient
    descent, entirely engine-side and BIT-DETERMINISTIC under any
    partition layout. The public pattern: quality-classifier data
    curation (fastText-style filters in C4/CCNet, DCLM, FineWeb-edu —
    all public) trains a tiny linear model over cheap per-doc
    features, then scores the whole corpus with it. The reference has
    no training surface; this is a north-star extension (SURVEY §2.2).

    Determinism is the hard part at scale: float summation order
    across partitions is not associative, so a naive
    ``sum((w·x − y)·x)`` changes bits with the layout. Per the t15
    micro-nat pattern, every per-row gradient contribution is
    quantized to INTEGER micro-units — ``floor(g·1e6 + 0.5)`` — and
    summed as BIGINT (exact, order-free); the weight update runs on
    the driver in plain float64 from those integer sums. The result
    is reproducible to the bit across partitionings AND engines (the
    suite oracle re-derives training as an unrolled DuckDB CTE
    chain).

    Scale shape: the feature frame is computed once (caller
    checkpoints it); each iteration is ONE map-side-combined
    aggregation producing len(feature_cols) longs — no shuffle wider
    than a single summary row, no per-row Python. 24 iterations =
    24 bounded one-row collects (the g1 PageRank discipline).

    Returns the trained weights (python floats, one per feature, in
    ``feature_cols`` order). ``stats``, if given, receives
    ``{"loss_micro_first": int, "loss_micro_last": int}`` — the
    quantized training losses of the first and last iteration.
    """
    from pyspark.sql import functions as F

    w = [0.0] * len(feature_cols)
    n = df.count()
    if n == 0:
        raise ValueError("train_linear_probe: empty input")
    if stats is not None:
        stats.clear()
    # Weights enter each iteration as COLUMNS of a broadcast one-row
    # frame, not literals: literal weights bake into the generated
    # Java, so every iteration compiled a fresh whole-stage codegen
    # class (~0.25 s of driver time x 24 iters — measured 6.4 s of
    # the 8.1 s wall as driver gaps). As attributes, all iterations
    # share ONE compiled plan; the arithmetic (values, op order) is
    # unchanged, so the result stays bit-identical to the unrolled
    # oracle CTE.
    from sparkswift.localdf import local_df

    spark = df.sparkSession
    wcols = [f"__w{j}" for j in range(len(feature_cols))]
    wschema = ", ".join(f"{c} double" for c in wcols)
    # AQE off for the loop (restored in finally — the LPA discipline,
    # graph.py): every iteration is one tiny broadcast + one map-side
    # combined aggregate over an explicit-width checkpointed frame, so
    # AQE contributes no coalescing — only per-query-stage re-planning
    # latency AND an extra job per iteration (each AQE query stage is
    # its own job: measured 77 jobs / 6.5 s of driver gaps for 24
    # iterations; 49 jobs with AQE off). Serial use only, like LPA.
    sess_conf = spark.conf
    aqe_saved = sess_conf.get("spark.sql.adaptive.enabled", "true")
    sess_conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for t in range(iters):
            wdf = local_df(spark, [tuple(w)], wschema)
            j_df = df.crossJoin(F.broadcast(wdf))
            dot = F.col(wcols[0]) * F.col(feature_cols[0])
            for j in range(1, len(feature_cols)):
                dot = dot + F.col(wcols[j]) * F.col(feature_cols[j])
            err = dot - F.col(label_col)
            aggs = [
                F.sum(
                    F.floor((err * F.col(c)) * F.lit(1000000.0) + F.lit(0.5))
                ).cast("long").alias(f"g{j}")
                for j, c in enumerate(feature_cols)
            ]
            aggs.append(
                F.sum(F.floor((err * err) * F.lit(1000000.0) + F.lit(0.5)))
                .cast("long")
                .alias("loss_micro")
            )
            row = j_df.agg(*aggs).collect()[0]
            if stats is not None:
                stats.setdefault("loss_micro_first", row["loss_micro"])
                stats["loss_micro_last"] = row["loss_micro"]
            w = [
                w[j] - lr * (row[f"g{j}"] / 1000000.0) / n
                for j in range(len(feature_cols))
            ]
    finally:
        sess_conf.set("spark.sql.adaptive.enabled", aqe_saved)
    return w


def score_linear_probe(df, feature_cols: list[str], weights: list[float]):
    """Score rows with a trained linear probe: adds ``score_micro``
    (the probe output quantized to integer micro-units — engine-exact)
    and ``pred`` (score ≥ 0.5). Pure native expressions; the dot
    product is built in the same left-associated order as training so
    scores are bit-identical to the oracle's."""
    from pyspark.sql import functions as F

    dot = F.lit(weights[0]) * F.col(feature_cols[0])
    for j in range(1, len(feature_cols)):
        dot = dot + F.lit(weights[j]) * F.col(feature_cols[j])
    return df.withColumn(
        "score_micro",
        F.floor(dot * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"),
    ).withColumn(
        "pred", (dot >= F.lit(0.5)).cast("int")
    )


def bigram_logprob(
    train: DataFrame,
    score: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha_tenths: int = 8,
    floor: float = 1e-9,
    hash_buckets: int | None = None,
) -> DataFrame:
    """Trained interpolated bigram language-model score — one rung up
    from :func:`unigram_logprob` toward the CCNet/KenLM perplexity
    filter: train bigram + unigram counts on one corpus slice, score
    another under Jelinek-Mercer interpolation

        P(w | prev) = alpha * c(prev,w)/c(prev) + (1-alpha) * c(w)/N

    (alpha = ``alpha_tenths``/10), with unseen mass floored at
    ``floor`` so out-of-vocabulary tokens cost a bounded, fixed
    surprisal instead of infinity. High ``avg_nll`` flags text the
    training slice's word-order model finds improbable — the
    perplexity-filter signal.

    Determinism: probabilities are single divisions of exact integer
    counts combined by one fixed-order IEEE expression, and per-token
    surprisal is quantized to INTEGER micro-nats before summing (the
    t15 pattern) — partition-order independent and SQL-oracle-exact.

    Scale shape: bigram pairs are built scan-side (zip of two array
    slices — no window, no self-join), count tables are two hash
    aggregations over the train slice, and scoring is two token-keyed
    hash joins (count tables are vocab-sized; AQE broadcasts them
    when small). Text never shuffles — only (id, prev, cur) rows.
    Open-domain vocab makes the PAIR table vocab²-shaped;
    ``hash_buckets`` bounds both tables JVM-side exactly as p20's
    DSIR does (``pmod(xxhash64(tok), B)`` per token key, so a pair
    key is two bounded ints) — colliding tokens merge their counts,
    the documented trade for a broadcastable model at any corpus
    size. Spark-only hashing (no cross-engine xxhash64), so the suite
    oracle runs the exact-identity variant, the p20 precedent.

    Returns ``(id_col, n_bigrams, sum_surprisal, avg_nll)`` for score
    docs with >= 2 tokens (single-token docs have no bigram evidence).
    """
    if not 0 <= alpha_tenths <= 10:
        raise ValueError("alpha_tenths must be in [0, 10]")
    alpha = alpha_tenths / 10.0
    beta = (10 - alpha_tenths) / 10.0
    # both slices feed token/pair explodes (train twice: bigram +
    # unigram counts) — spread the one-file scans before that work
    train = spread(train.select(F.col(id_col), F.col(text_col)))
    score = spread(score.select(F.col(id_col), F.col(text_col)))

    def pairs_of(df: DataFrame) -> DataFrame:
        toks = tokens(text_col)
        n = F.size(toks)
        prs = F.when(
            n >= 2,
            F.zip_with(
                F.slice(toks, 1, n - 1),
                F.slice(toks, 2, n - 1),
                lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
            ),
        ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
        return df.select(F.col(id_col), F.explode(prs).alias("p")).select(
            id_col, "p.prev", "p.cur"
        )

    def keyed(df: DataFrame) -> DataFrame:
        # token keys -> bounded bucket ints (pair key = two of them)
        if hash_buckets is None:
            return df
        return df.withColumn(
            "prev", F.pmod(F.xxhash64("prev"), F.lit(hash_buckets))
        ).withColumn("cur", F.pmod(F.xxhash64("cur"), F.lit(hash_buckets)))

    tr = keyed(pairs_of(train))
    bi = tr.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cbi")
    )
    uni = train.select(F.explode(tokens(text_col)).alias("tok"))
    if hash_buckets is not None:
        uni = uni.withColumn(
            "tok", F.pmod(F.xxhash64("tok"), F.lit(hash_buckets))
        )
    uni = uni.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cuni")
    )
    total = uni.agg(F.sum("__cuni").cast("bigint").alias("__total"))
    prev_cnt = uni.select(
        F.col("tok").alias("prev"), F.col("__cuni").alias("__cprev")
    )

    sc = (
        keyed(pairs_of(score))
        .join(bi, ["prev", "cur"], "left")
        .join(prev_cnt, "prev", "left")
        .join(
            uni.select(F.col("tok").alias("cur"), F.col("__cuni")),
            "cur",
            "left",
        )
        .crossJoin(F.broadcast(total))
    )
    pbi = F.when(F.col("__cprev").isNull(), F.lit(0.0)).otherwise(
        F.coalesce(F.col("__cbi"), F.lit(0)).cast("double")
        / F.col("__cprev").cast("double")
    )
    puni = F.coalesce(F.col("__cuni"), F.lit(0)).cast("double") / F.col(
        "__total"
    ).cast("double")
    sup = F.round(
        -F.log(
            F.greatest(
                F.lit(alpha) * pbi + F.lit(beta) * puni, F.lit(floor)
            )
        )
        * 1_000_000
    ).cast("bigint")
    return (
        sc.select(F.col(id_col), sup.alias("__sup"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("__sup").cast("bigint").alias("sum_surprisal"),
        )
        .withColumn(
            "avg_nll",
            F.col("sum_surprisal").cast("double")
            / (F.col("n_bigrams").cast("double") * 1e6),
        )
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib COMPRESSION RATIO — the classic cheap
    redundancy/quality signal (public: Gopher's repetition filters
    and RefinedWeb/CCNet-era pipelines use "compresses too well" as a
    boilerplate/spam flag, and "compresses too poorly" as a
    gibberish/encrypted-blob flag): ratio = deflate(utf8(text)) bytes
    / raw utf8 bytes. DETERMINISTIC: zlib with a pinned level is a
    fully specified codec — same bytes on every run and platform
    (unlike a model-based perplexity, there is no float anywhere).

    Arrow-batched ``mapInPandas``, map-side only — the scan-stage
    shape of every other t-family signal. Returns ``(id_col,
    n_bytes, n_compressed, ratio)``; empty/NULL text reports ratio
    NULL (nothing to measure — the caller's filter decides).
    """
    import zlib

    def batches(it):
        for pdf in it:
            n_raw, n_comp, ratio = [], [], []
            for t in pdf[text_col]:
                b = (t or "").encode("utf-8")
                if not b:
                    n_raw.append(0)
                    n_comp.append(0)
                    ratio.append(None)
                    continue
                c = len(zlib.compress(b, level))
                n_raw.append(len(b))
                n_comp.append(c)
                ratio.append(c / len(b))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": pd.Series(n_raw, dtype="int64"),
                    "n_compressed": pd.Series(n_comp, dtype="int64"),
                    "ratio": pd.Series(ratio, dtype="float64"),
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        batches, f"{id_col} long, n_bytes long, n_compressed long, ratio double"
    )


# ---------------------------------------------------------------------------
# URL canonicalization (the CommonCrawl-pipeline stage every web
# corpus runs before URL-level dedup: RFC 3986 normalization + the
# conventional crawl rules). ONE expression template rendered into
# both dialects — the Spark query and the DuckDB oracle run the SAME
# logic, so the string outputs are hash-exact by construction.
# ---------------------------------------------------------------------------
_URL_DIALECTS = {
    "spark": {
        "SPLIT_AMP": "split({x}, '&')",
        "SPLIT_DOT": "split({x}, '\\\\.')",
        "FILTER": "filter({l}, x -> {cond})",
        "SORT": "array_sort({l})",
        "JOINAMP": "array_join({l}, '&')",
        "JOINDOT": "array_join({l}, '.')",
        "SIZE": "size({l})",
        "AT": "element_at({l}, {i})",
        "SLICE": "slice({l}, {a}, {n})",
        # Spark's SQL parser unescapes backslashes in string literals;
        # a regex \. must be written \\. in the SQL text
        "BS": "\\\\",
    },
    "duckdb": {
        "SPLIT_AMP": "string_split({x}, '&')",
        "SPLIT_DOT": "string_split({x}, '.')",
        "FILTER": "list_filter({l}, x -> {cond})",
        "SORT": "list_sort({l})",
        "JOINAMP": "array_to_string({l}, '&')",
        "JOINDOT": "array_to_string({l}, '.')",
        "SIZE": "len({l})",
        "AT": "list_extract({l}, {i})",
        "SLICE": "list_slice({l}, {a}, {a} + {n} - 1)",
        # DuckDB string literals take backslashes verbatim
        "BS": "\\",
    },
}

#: query parameters dropped during canonicalization (tracking noise —
#: the conventional crawl-dedup list; extend per corpus)
_URL_TRACKING_COND = (
    "x <> '' AND substr(x, 1, 4) <> 'utm_' "
    "AND substr(x, 1, 6) <> 'gclid=' AND substr(x, 1, 7) <> 'fbclid='"
)


def canonical_url_sql(url_sql: str, dialect: str) -> str:
    """SQL expression for the canonical form of ``url_sql``:
    lowercase scheme/host, strip a leading ``www.``, drop default
    ports (80/http, 443/https), strip trailing path slashes, drop the
    fragment, and keep the query as the SORTED non-tracking
    parameters. Same template for Spark and DuckDB ⇒ identical
    strings cross-engine."""
    d = _URL_DIALECTS[dialect]
    bs = d["BS"]
    scheme = f"lower(regexp_extract({url_sql}, '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1))"
    host = (
        f"regexp_replace(lower(regexp_extract({url_sql}, "
        f"'^[^:]+://([^/?#:]*)', 1)), '^www{bs}.', '')"
    )
    port = f"regexp_extract({url_sql}, '^[^:]+://[^/?#]*?:([0-9]+)', 1)"
    path = (
        f"regexp_replace(regexp_extract({url_sql}, "
        f"'^[^:]+://[^/?#]*([^?#]*)', 1), '/+$', '')"
    )
    query = f"regexp_extract({url_sql}, '{bs}?([^#]*)', 1)"
    params = d["FILTER"].format(
        l=d["SPLIT_AMP"].format(x=query), cond=_URL_TRACKING_COND
    )
    # DuckDB's array_to_string returns NULL for an EMPTY list (and
    # its concat silently skips NULLs, yielding a stray '?') — pin ''
    q = f"coalesce({d['JOINAMP'].format(l=d['SORT'].format(l=params))}, '')"
    portseg = (
        f"CASE WHEN ({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443') "
        f"OR {port} = '' THEN '' ELSE concat(':', {port}) END"
    )
    return (
        f"concat({scheme}, '://', {host}, {portseg}, {path}, "
        f"CASE WHEN {q} = '' THEN '' ELSE concat('?', {q}) END)"
    )


def registrable_domain_sql(url_sql: str, dialect: str) -> str:
    """SQL expression for the last-two-label domain of the URL's
    host (after the www. strip). A heuristic, documented as such: a
    real public-suffix-list pass (co.uk, com.au, ...) needs the PSL
    data file — out of scope under the zero-dependency rule; at 100
    TB the PSL would broadcast as a small dim table and the
    expression becomes a longest-suffix join against it."""
    d = _URL_DIALECTS[dialect]
    host = (
        f"regexp_replace(lower(regexp_extract({url_sql}, "
        f"'^[^:]+://([^/?#:]*)', 1)), '^www{d['BS']}.', '')"
    )
    labels = d["SPLIT_DOT"].format(x=host)
    n = d["SIZE"].format(l=labels)
    last2 = d["JOINDOT"].format(
        l=d["SLICE"].format(l=labels, a=f"{n} - 1", n="2")
    )
    return f"CASE WHEN {n} < 2 THEN {host} ELSE {last2} END"


def canonical_url(url_col: str):
    """Spark Column: canonical URL (see :func:`canonical_url_sql`)."""
    from pyspark.sql import functions as F

    return F.expr(canonical_url_sql(url_col, "spark"))


def registrable_domain(url_col: str):
    """Spark Column: last-two-label registrable domain (heuristic)."""
    from pyspark.sql import functions as F

    return F.expr(registrable_domain_sql(url_col, "spark"))


def html_extract_text(html_col: str):
    """HTML → text extraction as PURE scan-stage native expressions
    (the first stage of every web-corpus pipeline). Order matters and
    is the point: (1) drop the <head> BLOCK wholesale (title/script/
    style content is not text, and script bodies legally contain bare
    '<' that would corrupt a tag-only stripper), (2) drop <script>/
    <style> blocks left in the body, (3) drop comments, (4) strip
    remaining tags, (5) decode the core entities, (6) collapse
    whitespace. This is the honest zero-dependency slice of
    readability/trafilatura-class extraction — no DOM, no boilerplate
    scoring; those need a real HTML parser. Case-insensitive tags via
    (?i); non-greedy block matches keep multiple blocks independent."""
    from pyspark.sql import functions as F

    c = F.col(html_col)
    c = F.regexp_replace(c, r"(?is)<head\b[^>]*>.*?</head\s*>", " ")
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    # Standard unescape order: &amp; LAST, or source '&amp;lt;'
    # (which must render as the literal text '&lt;') double-decodes
    # to '<'. The other entities can't be manufactured by any of the
    # earlier replacements, so their relative order is free.
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


# ---------------------------------------------------------------------------
# t26 — TRAINED char-n-gram language ID (the model-based rung above
# t2's stopword vote; public pattern: fastText/CLD-class lang-id is a
# linear model over hashed character n-gram features — re-expressed
# here with the engine's own exact-integer training machinery).
# ---------------------------------------------------------------------------

# one unambiguous article pair per language (each word appears in
# exactly ONE language's STOPWORDS list, so a planted text votes for
# exactly one language in lang_id's stopword argmax)
LANGID_ARTICLES: dict[str, tuple[str, str]] = {
    "en": ("the", "a"),
    "de": ("der", "das"),
    "es": ("el", "los"),
    "fr": ("le", "les"),
    "zh": ("的", "是"),
}

_LANGID_MULT = (7, 31, 101, 197, 499)  # n-gram hash multipliers


def synth_langid_text(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    out_col: str = "txt",
) -> DataFrame:
    """Plant a per-language signal into the fixture's (all-English
    vocabulary) text: replace the articles 'the'/'a' with the
    language's own articles per ``LANGID_ARTICLES``, keyed by the
    fixture's ``lang`` column — the t19 marker-supervision pattern
    (the label-generating signal is real text the features can see).
    Pure regexp expressions; the SQL oracle re-derives the same synth
    with regexp_replace, so the weak-label counts are cross-engine
    exact. \\b is ASCII-word-boundary in BOTH Java regex and RE2 —
    consistent, including next to planted CJK characters."""
    base = F.coalesce(F.col(text_col), F.lit(""))
    expr = None
    for lang, (x, y) in sorted(LANGID_ARTICLES.items()):
        planted = F.regexp_replace(
            F.regexp_replace(base, r"\bthe\b", x), r"\ba\b", y
        )
        expr = (
            F.when(F.col(lang_col) == lang, planted)
            if expr is None
            else expr.when(F.col(lang_col) == lang, planted)
        )
    return df.withColumn(out_col, expr.otherwise(base))


def langid_features(
    df: DataFrame,
    text_col: str = "txt",
    id_col: str = "doc_id",
    n_buckets: int = 512,
    ngrams: tuple[int, ...] = (3, 4, 5),
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Hashed char-n-gram frequency features, Arrow-batch vectorized
    (mapInPandas — map-side only, zero shuffle): text is padded with
    one space each side, every 3/4/5-gram hashes to
    (Σ codepoint·multiplier) % n_buckets, and the feature vector is
    the ENRICHMENT n_buckets·count/total (unit scale, so the Gramian
    below is well-conditioned; an all-empty doc gets the zero
    vector). Deterministic pure arithmetic — no interning, no
    locale."""
    import numpy as np
    import pandas as pd

    K = n_buckets
    out_schema = (
        f"{id_col} long, "
        + "".join(f"{c} string, " for c in extra_cols)
        + "feat array<double>"
    )

    def batches(it):
        for pdf in it:
            # per-row loop kept deliberately: a whole-batch
            # concatenate + masked scatter-add variant was measured
            # 5.7× SLOWER (np.add.at over a (rows·K) flat array
            # dominates; per-row np.add.at on K=512 is ~0.13 ms/row
            # and is NOT the t26 bottleneck — r16 A/B)
            feats = []
            for t in pdf[text_col]:
                s = " " + (t or "") + " "
                cs = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                cnt = np.zeros(K, dtype=np.int64)
                for n in ngrams:
                    if len(cs) >= n:
                        win = np.lib.stride_tricks.sliding_window_view(cs, n)
                        h = (win * np.array(_LANGID_MULT[:n])).sum(axis=1) % K
                        np.add.at(cnt, h, 1)
                tot = cnt.sum()
                feats.append(
                    (K * cnt / tot) if tot else np.zeros(K, dtype=np.float64)
                )
            out = {id_col: pdf[id_col]}
            for c in extra_cols:
                out[c] = pdf[c]
            out["feat"] = pd.Series(list(feats))
            yield pd.DataFrame(out)

    return df.select(id_col, *extra_cols, text_col).mapInPandas(
        batches, out_schema
    )


def train_langid_probe(
    feat_df: DataFrame,
    langs: list[str],
    label_col: str = "weak",
    feat_col: str = "feat",
    n_buckets: int = 512,
    ridge: float = 1e-3,
):
    """Train the multiclass linear probe in CLOSED FORM from one
    exact-integer Gramian pass — the t19 quantization discipline
    (per-row products floored to integer micro-units, summed as
    BIGINT: bit-identical under any partition layout), upgraded from
    iterated GD to the normal equations because hashed-frequency
    features are too ill-conditioned for fixed-step GD to converge in
    bounded iterations (measured: 40 GD steps sit at the class prior;
    the closed form separates). One augmented vector
    [1, x_1..x_K, y_1..y_C] per row makes a single pca_gram pass
    yield X'X and X'Y together; the driver then solves C ridge
    systems of size (K+1) — O(K²) driver state, corpus-free.

    Returns ``(W, gram_key)`` where W is a (C, K+1) float64 weight
    matrix (class order = ``langs``) and gram_key is a deterministic
    digest of the INTEGER Gramian — two trainings agree on gram_key
    iff they saw identical quantized sums, the layout-invariance
    certificate. Quantization envelope: per-row products are O(K)
    micro-units, so int64 holds ~1e10 training rows at K=512; past
    that, train on a hash-sampled slice (standard practice for
    lang-id probes) or raise the quantum."""
    import hashlib

    import numpy as np

    from sparkswift.operators.pca import pca_gram

    C = len(langs)
    dim = 1 + n_buckets + C
    onehots = [
        F.when(F.col(label_col) == lang, 1.0).otherwise(0.0)
        for lang in langs
    ]
    aug = feat_df.select(
        F.concat(
            F.array(F.lit(1.0)), F.col(feat_col), F.array(*onehots)
        ).alias("aug")
    )
    rows = pca_gram(aug, "aug", dim).collect()
    m2 = np.zeros((dim, dim), dtype=np.int64)
    for r in rows:
        if r.j != 0:
            m2[r.i - 1, r.j - 1] = r.s
            m2[r.j - 1, r.i - 1] = r.s
    gram_key = hashlib.sha256(m2.tobytes()).hexdigest()
    nf = 1 + n_buckets
    gxx = m2[:nf, :nf] / 1e6
    gxy = m2[:nf, nf:] / 1e6
    W = np.linalg.solve(
        gxx + ridge * np.eye(nf), gxy
    ).T  # (C, K+1)
    return W, gram_key


def score_langid_probe(
    df: DataFrame,
    weights,
    langs: list[str],
    feat_col: str = "feat",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
    out_col: str = "lang_pred",
) -> DataFrame:
    """Score with the trained probe: per-class dot product + argmax,
    Arrow-batch vectorized with the (tiny, broadcast-literal) weight
    matrix; ties break to the first language in ``langs`` order —
    deterministic."""
    import numpy as np
    import pandas as pd

    W = np.asarray(weights, dtype=np.float64)
    out_schema = (
        f"{id_col} long, "
        + "".join(f"{c} string, " for c in extra_cols)
        + f"{out_col} string"
    )
    lang_arr = list(langs)

    def batches(it):
        for pdf in it:
            if len(pdf):
                X = np.stack(
                    [
                        np.concatenate(([1.0], np.asarray(v)))
                        for v in pdf[feat_col]
                    ]
                )
                pred = [lang_arr[i] for i in (X @ W.T).argmax(axis=1)]
            else:
                pred = []
            out = {id_col: pdf[id_col]}
            for c in extra_cols:
                out[c] = pdf[c]
            out[out_col] = pd.Series(pred, dtype="object")
            yield pd.DataFrame(out)

    return df.select(id_col, *extra_cols, feat_col).mapInPandas(
        batches, out_schema
    )
