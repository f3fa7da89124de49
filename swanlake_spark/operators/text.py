"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure built-in-function DataFrame transforms (JVM-side,
whole-stage codegen, no Python UDFs) so they scale linearly over 100 TB
of documents: narrow per-row transforms, no shuffles.

Operators: tokenization, token counting, quality scoring, language-ID
heuristic, document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from swanlake_spark.plans.quoting import quote_identifier

# Stopword profiles for the language-ID heuristic (n-gram/stopword
# frequency heuristics are the classic cheap lang-ID approach).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "fr": ["le", "la", "de", "et", "un", "que", "pour", "dans", "est", "sur"],
}


def tokens(text_col: str | Column = "text") -> Column:
    """Whitespace tokenization of trimmed text."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(c), r"\s+")


def token_count(text_col: str | Column = "text") -> Column:
    """Whitespace token count (INT)."""
    return F.size(tokens(text_col)).cast("int")


def bpe_ish_token_count(text_col: str | Column = "text") -> Column:
    """A BPE-ish proxy token count: word-piece split on non-alphanumerics
    plus a length/4 penalty for long words (approximates subword
    splitting without a vocab)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.split(F.trim(c), r"[^A-Za-z0-9]+")
    return F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.greatest(F.lit(1), F.ceil(F.length(w) / 4).cast("int")),
    ).cast("int")


# SQL-text fragments for the quality battery (r12: the py4j-built
# column trees cost ~0.21 s of driver time per quality_score plan
# build — ~80 expression-node round trips, mostly the stopword-filter
# lambdas and the 10-element literal array; each fragment below is ONE
# F.expr parse JVM-side). The EXPRESSIONS are unchanged: same operator
# tree, and every double literal carries the D suffix so it parses as
# DOUBLE exactly like the former Python-float lits (a bare `64.0` in
# SQL text is DECIMAL(3,1) — decimal division would silently change
# the math). Verified bit-for-bit (struct.pack doubles) against the
# py4j form before adoption.
_SW_EN_SQL = "array(" + ",".join("'%s'" % w for w in STOPWORDS["en"]) + ")"


def _tok_sql(cq: str) -> str:
    """SQL text of ``tokens()`` over an already-quoted column."""
    return "split(trim(%s), '\\\\s+')" % cq


def _stop_cnt_sql(cq: str) -> str:
    """SQL text of the English-stopword hit count."""
    return "size(filter(%s, w -> array_contains(%s, lower(w))))" % (
        _tok_sql(cq),
        _SW_EN_SQL,
    )


def _feature_exprs(text_col: str) -> dict:
    """The five quality-feature expressions, in append order (dict
    insertion order IS the column order ``withColumns`` appends in,
    matching the former withColumn chain)."""
    c = quote_identifier(text_col)
    t = _tok_sql(c)
    return {
        "n_chars_q": F.expr("CAST(length(%s) AS INT)" % c),
        "n_tokens": F.expr("CAST(size(%s) AS INT)" % t),
        "avg_token_len": F.expr(
            "round((length(%s) - size(%s) + 1) / size(%s), 4)" % (c, t, t)
        ),
        "alpha_ratio": F.expr(
            "round(length(regexp_replace(%s, '[^A-Za-z]', ''))"
            " / length(%s), 4)" % (c, c)
        ),
        "stopword_ratio": F.expr(
            "round(%s / size(%s), 4)" % (_stop_cnt_sql(c), t)
        ),
    }


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-signal columns: n_chars_q, n_tokens, avg_token_len,
    alpha_ratio, space_ratio, stopword_ratio."""
    # one withColumns projection: a 5-deep withColumn chain measured
    # ~64 ms of driver time vs ~21 ms for the single call (same
    # replace-if-exists semantics, same append order)
    return df.withColumns(_feature_exprs(text_col))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """A single [0,1] quality score: rewards mid-length documents,
    alphabetic content and natural stopword rates.

    Computed from *unrounded* ratios — combining pre-rounded 4-decimal
    features through the 0.4/0.3 weights lands exactly on decimal half
    boundaries, where engines' rounding modes diverge."""
    c = quote_identifier(text_col)
    t = _tok_sql(c)
    alpha_raw = (
        "(length(regexp_replace(%s, '[^A-Za-z]', '')) / length(%s))" % (c, c)
    )
    stop_raw = "(%s / size(%s))" % (_stop_cnt_sql(c), t)
    score = (
        "(0.4D * least(size(%s) / 64.0D, 1.0D)"
        " + 0.3D * %s"
        " + 0.3D * least(%s * 4, 1.0D))" % (t, alpha_raw, stop_raw)
    )
    # floor(x*1e4 + 0.5)/1e4 instead of round(x, 4): the weighted blend
    # can land within 1 ulp of a decimal half-boundary, where engines'
    # round() implementations diverge; floor of identical IEEE doubles
    # cannot (score >= 0, so this IS half-up). `quality` references only
    # the RAW ratios, never the rounded feature columns, so folding all
    # six into one withColumns projection is column-for-column identical
    # to quality_features(...).withColumn("quality", ...).
    exprs = _feature_exprs(text_col)
    exprs["quality"] = F.expr(
        "CAST(floor(%s * 10000 + 0.5D) AS DOUBLE) / 10000.0D" % score
    )
    return df.withColumns(exprs)


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cheap language ID: per-language stopword hit-rate; argmax wins,
    'und' (undetermined) if the best rate is below 2%."""
    # r12: SQL-text build (was ~0.19 s of driver time per plan — four
    # stopword-filter lambda trees through py4j). Expressions unchanged:
    # the four _sc_ rate columns land in one withColumns projection,
    # pred_lang references them from a second (withColumns entries
    # cannot see each other), and the nested CASE keeps the same
    # first-language-in-dict-order tie-break the when() fold produced.
    c = quote_identifier(text_col)
    t = _tok_sql(c)
    rates = {}
    for lang, words in STOPWORDS.items():
        arr = "array(" + ",".join("'%s'" % w for w in words) + ")"
        rates[f"_sc_{lang}"] = F.expr(
            "size(filter(%s, w -> array_contains(%s, lower(w))))"
            " / size(%s)" % (t, arr, t)
        )
    out = df.withColumns(rates)
    best = "greatest(%s)" % ",".join(f"`_sc_{la}`" for la in STOPWORDS)
    pred = "'und'"
    # deterministic tie-break: first language (in dict order) achieving max
    for lang in reversed(list(STOPWORDS)):
        pred = "CASE WHEN `_sc_%s` = %s THEN '%s' ELSE %s END" % (
            lang,
            best,
            lang,
            pred,
        )
    out = out.withColumn(
        "pred_lang",
        F.expr(
            "CASE WHEN %s >= 0.02D THEN %s ELSE 'und' END" % (best, pred)
        ),
    )
    return out.drop(*[f"_sc_{lang}" for lang in STOPWORDS])


def fingerprint(text_col: str | Column = "text", bits: int = 64) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lower-cased text, truncated to bits/4 hex chars. Cross-engine
    reproducible (md5 is standard everywhere)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    norm = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.substring(F.md5(norm), 1, bits // 4)


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    top_k: int | None = None,
) -> DataFrame:
    """Corpus vocabulary: global token counts (lower-cased whitespace
    tokens), the tokenizer-training prerequisite. One explode + one
    map-side-combinable groupBy — a single shuffle keyed on token, no
    global window. ``top_k`` bounds the result via a count-ordered limit
    (a top-k reduce, not a full sort of the vocabulary); ``rank`` is
    assigned only within that bounded set."""
    from pyspark.sql.window import Window

    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .withColumn("token", F.lower("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("count"))
        .filter(F.col("count") >= min_count)
    )
    if top_k is None:
        return counts
    top = counts.orderBy(F.col("count").desc(), F.col("token")).limit(top_k)
    w = Window.orderBy(F.col("count").desc(), F.col("token"))
    # the window runs over <= top_k rows (bounded small), not the corpus
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_per_doc: int = 3,
) -> DataFrame:
    """Smooth TF-IDF (sklearn's formula: idf = ln((N+1)/(df+1)) + 1) with
    the top ``n_per_doc`` terms per document.

    Shape (r12): ONE corpus explode. The ``(doc, token)`` count table
    already holds exactly one row per document-term pair, so document
    frequency is an analytic ``count(*) OVER (PARTITION BY token)`` on
    it — the former separate explode → distinct → groupBy(token) →
    join leg re-tokenized the whole corpus a second time for a number
    derivable from the first pass. Three token/doc-keyed shuffles
    total (tf groupBy, df window, top-n window), never a global sort;
    values are identical (integer pair counts either way)."""
    from pyspark.sql.window import Window

    toks = (
        df.select(id_col, F.explode(tokens(text_col)).alias("token"))
        .withColumn("token", F.lower("token"))
        .filter(F.col("token") != "")
    )
    tf = toks.groupBy(id_col, "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    n_docs = df.select(id_col).distinct().count()
    w_t = Window.partitionBy("token")
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(w_t).cast("long")
    ).withColumn(
        "tfidf",
        F.floor(F.col("tf") * idf * 10000 + 0.5) / 10000.0,
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= n_per_doc)
        .select(id_col, "token", "tf", "df", "tfidf", "rk")
    )
