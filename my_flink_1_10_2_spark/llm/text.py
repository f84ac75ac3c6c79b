"""Text analysis operators: token stats, quality scoring, language ID,
document fingerprinting.

All pure `pyspark.sql.functions` expressions (JVM, whole-stage codegen) —
the 100 TB hot path never enters Python.  Each operator is deterministic
so the DuckDB oracle can replay it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deterministic and replicated verbatim in the oracle SQL.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "fr": ["le", "la", "de", "et", "les"],
    "es": ["el", "la", "de", "y", "los"],
    "de": ["der", "die", "und", "das", "ein"],
}


def tokens(text_col) -> Column:
    """Whitespace tokenization."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, r"\s+")


def token_count(text_col) -> Column:
    return F.size(tokens(text_col))


def char_count(text_col) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.length(c)


def punct_ratio(text_col) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    stripped = F.regexp_replace(c, "[A-Za-z0-9 ]", "")
    return F.length(stripped) / F.greatest(F.length(c), F.lit(1))


def _is_any(w: Column, values: list[str]) -> Column:
    """w IN (values) as an OR-chain — `isin` rejects lambda variables."""
    cond = w == values[0]
    for v in values[1:]:
        cond = cond | (w == v)
    return cond


def avg_word_len(text_col) -> Column:
    words = tokens(text_col)
    total = F.aggregate(
        F.transform(words, lambda w: F.length(w).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return total / F.greatest(F.size(words), F.lit(1))


def quality_score(text_col) -> Column:
    """Composite quality score in [0,1]: rewards reasonable length and
    word size, penalizes punctuation density.  Deterministic arithmetic
    over the stats above."""
    n_tok = token_count(text_col).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    wl = avg_word_len(text_col)
    wl_score = F.lit(1.0) - F.least(F.abs(wl - F.lit(5.0)) / F.lit(5.0), F.lit(1.0))
    p_score = F.lit(1.0) - F.least(punct_ratio(text_col) * 5, F.lit(1.0))
    return F.round((len_score + wl_score + p_score) / 3, 6)


def lang_scores(text_col) -> dict[str, Column]:
    """Stopword-hit count per candidate language."""
    words = tokens(text_col)

    def matcher(sw):
        # exactly one lambda param — Spark binds one column per parameter
        return lambda w: _is_any(w, sw)

    return {
        lang: F.size(F.filter(words, matcher(sw))) for lang, sw in STOPWORDS.items()
    }


LANG_ORDER = ("en", "fr", "es", "de")


def lang_id(text_col) -> Column:
    """Pick the language with the most stopword hits.  Ties break by the
    fixed precedence en > fr > es > de (deterministic, oracle-replayable
    as a CASE chain); 'und' when nothing matches."""
    scores = lang_scores(text_col)
    expr = F.lit("und")
    # Build the CASE chain back-to-front so earlier langs win ties via >=.
    for lang in reversed(LANG_ORDER):
        s = scores[lang]
        cond = s > 0
        for other in LANG_ORDER:
            if LANG_ORDER.index(other) < LANG_ORDER.index(lang):
                cond = cond & (s > scores[other])
            elif other != lang:
                cond = cond & (s >= scores[other])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text_col, modulus: int = 2147483647, base: int = 31) -> Column:
    """Polynomial rolling-hash fingerprint over the token stream:
    ``h = sum(base^i * ascii-sum(token_i)) mod modulus`` — a deterministic
    document signature cheap enough for 100 TB (pure codegen arithmetic).
    """
    words = tokens(text_col)
    word_val = lambda w: F.aggregate(  # noqa: E731  ascii-sum of one token
        F.transform(F.split(w, ""), lambda ch: F.ascii(ch).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return F.aggregate(
        F.transform(words, word_val),
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * base + x) % modulus,
    )


def profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full stats battery as columns."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        char_count(text_col).alias("n_chars_computed"),
        F.round(punct_ratio(text_col), 6).alias("punct_ratio"),
        F.round(avg_word_len(text_col), 6).alias("avg_word_len"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )


def dup_ngram_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 8
) -> DataFrame:
    """Duplicate-n-gram fraction per document — the Gopher/C4-style
    quality signal: what share of a document's word n-gram POSITIONS
    carry a gram that also appears in at least one other document.

    Shape: one gram explode (positions kept), one (gram → distinct-doc
    count) aggregate joined back on the gram, one per-doc rollup —
    shuffles keyed on gram and doc only.  The fraction is emitted in
    exact integer 1e-6 units (integer division), so the metric is
    bitwise stable under any aggregation order.

    Output: (id, n_grams, n_dup, dup_frac_e6); documents with fewer
    than ``n`` words have no gram positions and are excluded.
    """
    from my_flink_1_10_2_spark.llm.dedup import shingle_rows

    grams = shingle_rows(docs, text_col, id_col, n)
    gram_docs = grams.select(id_col, "shingle").distinct()
    spread = gram_docs.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("__docs")
    )
    tagged = grams.join(spread, "shingle")
    return (
        tagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("__docs") >= 2, 1)).alias("n_dup"),
        )
        .select(
            id_col,
            "n_grams",
            "n_dup",
            F.expr("CAST(n_dup * 1000000 DIV n_grams AS BIGINT)").alias(
                "dup_frac_e6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al., "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", 2021 — §A1.1).
# Every threshold is an integer CROSS-MULTIPLIED comparison (e.g. mean
# word length in [3,10] becomes 3·w <= chars <= 10·w), so the whole rule
# set is exact BIGINT arithmetic — no float ratios, bitwise replayable
# by any SQL engine, and pure codegen at 100 TB (zero Python, zero
# shuffles: one projection).

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_stats(text_col) -> dict[str, Column]:
    """The integer counting statistics under the Gopher rules: word
    count, chars-in-words, alpha-bearing words, symbol counts (#, ...,
    …), line bullet/ellipsis counts, distinct required-stopword hits."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.filter(F.split(c, r"\s+"), lambda w: w != "")
    lines = F.split(c, "\n")
    n_hash = F.length(c) - F.length(F.regexp_replace(c, "#", ""))
    n_dots = (
        (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    n_uellip = F.length(c) - F.length(F.regexp_replace(c, "…", ""))
    lower_words = F.transform(words, F.lower)
    stop_hits = None
    for sw in GOPHER_STOPWORDS:
        hit = F.when(F.array_contains(lower_words, sw), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    return {
        "n_words": F.size(words).cast("bigint"),
        "n_word_chars": F.aggregate(
            F.transform(words, lambda w: F.length(w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
        "n_alpha_words": F.size(
            F.filter(words, lambda w: w.rlike("[A-Za-z]"))
        ).cast("bigint"),
        "n_symbols": (n_hash.cast("bigint") + n_dots + n_uellip.cast("bigint")),
        "n_lines": F.size(lines).cast("bigint"),
        "n_bullet_lines": F.size(
            F.filter(
                lines,
                lambda l: l.startswith("•") | l.startswith("- ") | l.startswith("* "),
            )
        ).cast("bigint"),
        "n_ellipsis_lines": F.size(
            F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
        ).cast("bigint"),
        "n_stop_hits": stop_hits.cast("bigint"),
    }


def gopher_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Append the Gopher §A1.1 counting statistics, one 0/1 flag per
    rule, and the conjunctive ``passes_gopher`` verdict:

      word count in [min_words, max_words]; mean word length in [3,10];
      symbol-to-word ratio (#, ..., …) <= 0.1; < 90% of lines
      bullet-started; < 30% of lines ellipsis-ended; >= 80% of words
      contain an alphabetic character; >= 2 distinct required stopwords.
    """
    s = gopher_stats(text_col)
    out = df
    for name, col in s.items():
        out = out.withColumn(name, col)
    w, ch = F.col("n_words"), F.col("n_word_chars")
    flags = {
        "flag_word_count": (w >= min_words) & (w <= max_words),
        "flag_mean_word_len": (F.lit(3) * w <= ch) & (ch <= F.lit(10) * w),
        "flag_symbol_ratio": F.lit(10) * F.col("n_symbols") <= w,
        "flag_bullet_lines": F.lit(10) * F.col("n_bullet_lines")
        <= F.lit(9) * F.col("n_lines"),
        "flag_ellipsis_lines": F.lit(10) * F.col("n_ellipsis_lines")
        <= F.lit(3) * F.col("n_lines"),
        "flag_alpha_words": F.lit(5) * F.col("n_alpha_words") >= F.lit(4) * w,
        "flag_stopwords": F.col("n_stop_hits") >= 2,
    }
    passes = None
    for name, cond in flags.items():
        out = out.withColumn(name, cond.cast("int"))
        passes = cond if passes is None else passes & cond
    return out.withColumn("passes_gopher", passes.cast("int"))


def feature_hash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_features: int = 64,
    seed: int = 0,
    out_col: str = "fh",
) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al., "Feature hashing
    for large scale multitask learning", ICML 2009): token → md5 bucket
    in [0, num_features), signed by the hash parity, counts accumulated
    into a dense BIGINT vector — vocabulary-free text vectorization, the
    standard first step when a 100 TB corpus can't materialize a vocab.

    Plan shape: explode → one (id, bucket)-keyed partial-agg shuffle →
    per-doc dense assembly from the sparse map (a single 64-lookup pass,
    not a per-bucket scan of the token list).  Deterministic md5
    construction (the sketch-module idiom), so any engine reproduces the
    identical vector."""
    c = F.col(text_col)
    words = df.select(
        F.col(id_col),
        F.explode(F.filter(F.split(F.lower(c), r"\s+"), lambda w: w != "")).alias(
            "__w"
        ),
    )
    hx = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"fh|{seed}|"), F.col("__w"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    # hash once per token; bucket and sign both derive from the column
    hashed = words.withColumn("__h", hx).select(
        id_col,
        (F.col("__h") % num_features).alias("__b"),
        F.when(F.col("__h") % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("__s"),
    )
    sparse = hashed.groupBy(id_col, "__b").agg(
        F.sum("__s").cast("bigint").alias("__v")
    )
    assembled = sparse.groupBy(id_col).agg(
        F.map_from_entries(
            F.array_agg(F.struct(F.col("__b"), F.col("__v")))
        ).alias("__m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(num_features - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("__m"), i.cast("bigint")), F.lit(0).cast("bigint")
        ),
    )
    # documents with no tokens get the all-zero vector via the left join
    zeros = F.array(*[F.lit(0).cast("bigint")] * num_features)
    return (
        df.select(id_col)
        .join(assembled, id_col, "left")
        .select(id_col, F.coalesce(dense, zeros).alias(out_col))
    )


def zipf_fit(df: DataFrame, text_col: str = "text", top_k: int = 100) -> DataFrame:
    """Zipf-law fit over the corpus term-frequency distribution: the
    least-squares slope of ln(freq) against ln(rank) for the ``top_k``
    most frequent terms (Zipf's exponent ≈ −slope; natural corpora sit
    near 1, synthetic/templated ones far away — a cheap distribution
    fingerprint for dataset QA).

    Exactness protocol: term counts are exact; ranks are (freq DESC,
    term) — a total order; ln runs through libm (Arrow UDF on the k-row
    relation — bitwise equal to any libm-bound SQL engine, unlike the
    JVM intrinsic); ln values quantize to 1e-9 integer units so every
    regression sum is exact DECIMAL(38) arithmetic, order-independent;
    the closed-form slope/intercept are a fixed sequence of IEEE ops.

    Scale: one (term) partial-agg shuffle + a k-row TakeOrdered — the
    corpus-sized relation never feeds a window.  Returns one row
    (n_terms_fit, slope, intercept) with intercept in ln-freq units.
    """
    import math

    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType
    from pyspark.sql import Window

    def _ln():
        def kernel(s):
            return pd.Series([math.log(float(v)) for v in s], dtype="float64")

        kernel.__annotations__ = {"s": pd.Series, "return": pd.Series}
        return pandas_udf(kernel, DoubleType())

    c = F.col(text_col)
    words = df.select(
        F.explode(F.filter(F.split(F.lower(c), r"\s+"), lambda w: w != "")).alias(
            "term"
        )
    )
    freqs = words.groupBy("term").agg(F.count("*").alias("freq"))
    top = freqs.orderBy(F.col("freq").desc(), "term").limit(top_k)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("freq").desc(), "term")),
    )
    ln = _ln()
    q = ranked.select(
        F.round(ln(F.col("rank").cast("double")) * 1e9)
        .cast("decimal(38,0)")
        .alias("xq"),
        F.round(ln(F.col("freq").cast("double")) * 1e9)
        .cast("decimal(38,0)")
        .alias("yq"),
    )
    sums = q.agg(
        F.count("*").cast("decimal(38,0)").alias("k"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return sums.select(
        F.col("k").cast("bigint").alias("n_terms_fit"),
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("k").cast("double")
            / F.lit(1e9)
        ).alias("intercept"),
    )


def readability_stats(text_col) -> dict[str, Column]:
    """Flesch reading-ease inputs as exact integers: words, sentences
    (terminated by . ! ? — at least 1), and syllables per the standard
    vowel-group heuristic (maximal [aeiouy]+ runs per word, minimum 1
    per word; the trailing silent-e refinement is intentionally omitted
    to keep the count a pure regexp aggregate — documented deviation
    from dictionary syllabification, fine for corpus-level QA)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.filter(F.split(F.lower(c), r"\s+"), lambda w: w != "")
    n_words = F.size(words).cast("bigint")
    n_sentences = F.greatest(
        F.size(F.filter(F.split(c, r"[.!?]+"), lambda s: F.trim(s) != "")),
        F.lit(1),
    ).cast("bigint")
    syl = lambda w: F.greatest(  # noqa: E731
        F.size(F.filter(F.split(w, r"[^aeiouy]+"), lambda g: g != "")), F.lit(1)
    )
    n_syllables = F.aggregate(
        F.transform(words, lambda w: syl(w).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return {
        "n_words": n_words,
        "n_sentences": n_sentences,
        "n_syllables": n_syllables,
    }


def flesch_reading_ease(text_col) -> Column:
    """Flesch reading ease = 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words) — two exact-integer ratios, a fixed IEEE
    expression tree, engine-bitwise.  NULL for empty documents."""
    s = readability_stats(text_col)
    wps = s["n_words"].cast("double") / s["n_sentences"].cast("double")
    spw = s["n_syllables"].cast("double") / s["n_words"].cast("double")
    return F.when(
        s["n_words"] > 0,
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw,
    )


def gopher_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher §A1.1 INTRA-document repetition signals (the half of the
    rule set :func:`gopher_flags` doesn't cover): duplicate-line
    fractions, the top word-2-gram's character share, and the token
    share covered by word-6-grams repeated inside the same document.

    Exact-integer definitions (all fractions in 1e-6 units, integer
    division — bitwise stable):
      - lines = non-empty '\\n'-split lines; a line instance is DUP if
        its text occurs >= 2 times in the document
      - dup_line_frac_e6      = dup line instances / lines
      - dup_line_char_frac_e6 = chars in dup line instances / chars in
        all line instances
      - top2_char_frac_e6     = occurrences(top word-2-gram) * len(gram)
        / length(text); ties broken by lexicographically smallest gram
      - dup6_tok_frac_e6      = tokens covered by the UNION of repeated
        6-gram spans / word count (overlaps counted once — same maximal
        -span merge as exact-substring dedup, scoped to one document)

    Plan shape: three keyed aggregates (line, 2-gram, 6-gram — each
    sharded by (doc, value)), one keyed per-doc window for the span
    union, left-joined back to the per-doc base — every shuffle is keyed
    on doc or (doc, value), nothing single-partition, linear at corpus
    scale.

    Output: (id, n_lines, n_dup_lines, dup_line_frac_e6,
    dup_line_char_frac_e6, top2_occurrences, top2_char_frac_e6,
    dup6_covered_tokens, dup6_tok_frac_e6).
    """
    from pyspark.sql.window import Window

    from my_flink_1_10_2_spark.llm.dedup import shingle_rows_pos

    base = df.select(
        F.col(id_col),
        F.length(text_col).cast("bigint").alias("__text_chars"),
        F.size(F.split(F.col(text_col), r"\s+")).cast("bigint").alias("__n_words"),
    )

    lines = (
        df.select(
            F.col(id_col), F.explode(F.split(F.col(text_col), "\n")).alias("__l")
        )
        .where(F.col("__l") != "")
        .groupBy(id_col, "__l")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    line_stats = lines.groupBy(id_col).agg(
        F.sum("__c").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("__c") >= 2, F.col("__c")).otherwise(0))
        .cast("bigint")
        .alias("n_dup_lines"),
        F.sum(F.col("__c") * F.length("__l")).cast("bigint").alias("__line_chars"),
        F.sum(
            F.when(F.col("__c") >= 2, F.col("__c") * F.length("__l")).otherwise(0)
        )
        .cast("bigint")
        .alias("__dup_line_chars"),
    )

    g2 = (
        shingle_rows_pos(df, text_col, id_col, n=2)
        .groupBy(id_col, "shingle")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w2 = Window.partitionBy(id_col).orderBy(F.desc("__c"), F.asc("shingle"))
    top2 = (
        g2.withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") == 1)
        .select(
            F.col(id_col),
            F.col("__c").cast("bigint").alias("top2_occurrences"),
            (F.col("__c") * F.length("shingle")).cast("bigint").alias("__top2_chars"),
        )
    )

    g6 = shingle_rows_pos(df, text_col, id_col, n=6)
    rep6 = (
        g6.groupBy(id_col, "shingle")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= 2)
        .select(id_col, "shingle")
    )
    hits6 = g6.join(rep6, [id_col, "shingle"]).select(id_col, "pos").distinct()
    w6 = Window.partitionBy(id_col).orderBy("pos")
    cov6 = (
        hits6.withColumn("__prev", F.lag("pos").over(w6))
        .withColumn(
            "__gap",
            F.when(
                F.col("__prev").isNull(), F.lit(6)
            ).otherwise(F.least(F.lit(6), F.col("pos") - F.col("__prev"))),
        )
        .groupBy(id_col)
        .agg(F.sum("__gap").cast("bigint").alias("dup6_covered_tokens"))
    )

    out = (
        base.join(line_stats, id_col, "left")
        .join(top2, id_col, "left")
        .join(cov6, id_col, "left")
        .na.fill(
            {
                "n_lines": 0,
                "n_dup_lines": 0,
                "__line_chars": 0,
                "__dup_line_chars": 0,
                "top2_occurrences": 0,
                "__top2_chars": 0,
                "dup6_covered_tokens": 0,
            }
        )
    )
    return out.select(
        F.col(id_col),
        "n_lines",
        "n_dup_lines",
        F.expr("CAST(n_dup_lines * 1000000 DIV greatest(n_lines, 1) AS BIGINT)").alias(
            "dup_line_frac_e6"
        ),
        F.expr(
            "CAST(__dup_line_chars * 1000000 DIV greatest(__line_chars, 1) AS BIGINT)"
        ).alias("dup_line_char_frac_e6"),
        "top2_occurrences",
        F.expr(
            "CAST(__top2_chars * 1000000 DIV greatest(__text_chars, 1) AS BIGINT)"
        ).alias("top2_char_frac_e6"),
        "dup6_covered_tokens",
        F.expr(
            "CAST(dup6_covered_tokens * 1000000 DIV greatest(__n_words, 1) AS BIGINT)"
        ).alias("dup6_tok_frac_e6"),
    )
