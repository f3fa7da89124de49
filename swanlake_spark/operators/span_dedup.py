"""Exact duplicate-SPAN detection and removal (substring dedup).

The dedup modality the document-level families in ``dedup.py`` can't
express: two documents that are globally different but share a long
verbatim passage (boilerplate, license text, quoted articles) — the
case studied in "Deduplicating Training Data Makes Language Models
Better" (Lee et al. 2022, public), whose ExactSubstr tool removes
repeated spans of >= N tokens via a suffix array.

Spark-first re-expression — a suffix array over a concatenated 100 TB
corpus is a single-machine construction, so the same semantics
decompose into window hashing, which is one linear explode + one
hash-keyed shuffle:

1. every ``min_tokens``-long token window (stride 1) of every document
   is hashed (``xxhash64`` of the joined window text, JVM-side);
2. one groupBy(window-hash) finds hashes occurring more than once;
   each surviving group carries its occurrences' (doc, pos) and the
   group's deterministic FIRST occurrence (min (doc, pos)) — only
   groups with >1 occurrence shuffle anything wide, and a cap bounds
   pathological boilerplate groups;
3. per document, its duplicated window starts merge into maximal
   spans (overlapping or adjacent windows coalesce — a repeated
   passage of K tokens yields K-min_tokens+1 windows that fold into
   one span); the merge is an ``aggregate`` fold over the doc's own
   sorted positions, bounded by the doc's token count;
4. removal keeps the globally-first occurrence of every duplicated
   window and strips covered tokens elsewhere (keep_first=True — the
   paper's setting), or strips every occurrence (keep_first=False).

Hash-collision note: xxhash64 over >= 8-token windows makes a false
window-match ~2^-64; the verified-exact variant is the pure-Python
reference implementation in tests/test_span_dedup.py, which this
module is compared against on randomized corpora.

Scale: cost is O(total tokens) rows through one shuffle keyed by
window hash — the same shape as the MinHash shingle pass; no
suffix-array-style global ordering, no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swanlake_spark.operators.text import tokens
from swanlake_spark.plans.quoting import quote_identifier

# a window repeated more than this many times (site-wide boilerplate)
# is still fully processed for REMOVAL, but its occurrence list is
# never collected anywhere — the cap only bounds the reported examples
_EXAMPLES_CAP = 8


def _windows(df: DataFrame, min_tokens: int, id_col: str, text_col: str):
    """(id, pos, whash) for every stride-1 token window. ``pos`` is the
    0-based index of the window's first token.

    Window identity = xxhash64 of the window's TOKEN-HASH slice, not of
    joined text: each token hashes once per document, and a window then
    hashes 8 longs instead of building an L-token string — measured
    ~4× less CPU on the window explode, the dominant cost at scale
    (window equality semantics are identical: token-sequence equality,
    with the same 2^-64 per-window collision odds the text hash had).

    The source is spread across cores first (``dedup._spread``): window
    generation is CPU-bound and a single-file source would otherwise
    run it on one core — measured 75 s → ~5 s for 2.4 M windows on the
    single-file sf1 documents table."""
    from swanlake_spark.operators.dedup import _spread

    df = _spread(df)
    # One F.expr for the whole window-hash chain (r12: the py4j-built
    # lambda nest cost ~0.14 s of driver time per plan build). The
    # structure is UNCHANGED from the py4j form, preserving two hard-won
    # properties documented in earlier rounds:
    # - the token-hash array is LET-BOUND via a single-element
    #   transform so it evaluates once per doc — referencing the
    #   tokenize chain inside the window lambda re-evaluates it per
    #   window (no CSE through lambda bodies; measured 50 s vs 0.3 s
    #   on a 20k-token doc);
    # - short docs yield an EMPTY array, not a descending
    #   sequence(1, m-L+1) walk (Spark auto-negates the step).
    L = int(min_tokens)
    win_hash = F.expr(
        "flatten(transform(array(transform(split(trim(`"
        + text_col
        + "`), '\\\\s+'), t -> xxhash64(t))), arr -> "
        f"CASE WHEN size(arr) >= {L} "
        f"THEN transform(sequence(1, size(arr) - {L - 1}), "
        f"i -> xxhash64(slice(arr, i, {L}))) "
        "ELSE CAST(array() AS array<bigint>) END))"
    )
    # posexplode the INLINE expression in one select: aliasing the
    # array into a column and exploding the alias in a second select
    # measured 17x slower at sf1 (Catalyst pushes a size>0 filter that
    # re-evaluates the whole lambda chain below the spread exchange,
    # single-core); the inline Generate evaluates it once per doc on
    # the spread partitions, and empty arrays yield no rows anyway —
    # no filter needed
    return df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(win_hash).alias("_pos", "_wh"),
    )


def _merged_spans_sql(ss: str, min_tokens: int) -> str:
    """:func:`_merged_spans` rendered as SQL text over the array
    expression ``ss`` — one parse round trip instead of the ~30 py4j
    calls the Column form costs per plan build (r12). Same fold, same
    types; try_element_at because plain element_at raises under the
    engine's ANSI mode even inside the unmatched branch's condition."""
    L = int(min_tokens)
    last = "try_element_at(acc, -1)"
    return (
        f"aggregate({ss}, "
        "CAST(array() AS array<struct<s:bigint,e:bigint>>), "
        f"(acc, s) -> CASE WHEN {last} IS NOT NULL AND s <= {last}.e "
        f"THEN concat(slice(acc, 1, size(acc) - 1), "
        f"array(named_struct('s', {last}.s, "
        f"'e', CAST(s + {L} AS BIGINT)))) "
        f"ELSE concat(acc, array(named_struct('s', CAST(s AS BIGINT), "
        f"'e', CAST(s + {L} AS BIGINT)))) END)"
    )


def _merged_spans(ss, min_tokens: int):
    """Fold a SORTED array of duplicated window starts into maximal
    ``[start, end)`` spans: starts s1 <= s2 coalesce when s2 <=
    prev_end (windows overlap or touch — a repeated passage of K
    tokens yields K-min_tokens+1 windows that fold into one span).
    Fold state: array of ``struct<s,e>`` pairs, bounded by the doc's
    own token count. ``ss`` is a column NAME (rendered as one SQL
    expression) or a Column (py4j form kept for composability)."""
    if isinstance(ss, str):
        return F.expr(_merged_spans_sql(quote_identifier(ss), min_tokens))
    L = F.lit(min_tokens)
    init = F.array().cast("array<struct<s:long,e:long>>")

    def step(acc, s):
        # try_element_at: NULL on empty acc (plain element_at raises
        # under the engine's ANSI mode, even inside the unmatched
        # branch's condition)
        last = F.try_element_at(acc, F.lit(-1))
        extend = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(
                F.struct(
                    last["s"].alias("s"), (s + L).cast("long").alias("e")
                )
            ),
        )
        new = F.concat(
            acc,
            F.array(
                F.struct(
                    s.cast("long").alias("s"), (s + L).cast("long").alias("e")
                )
            ),
        )
        return F.when(
            last.isNotNull() & (s <= last["e"]), extend
        ).otherwise(new)

    return F.aggregate(ss, init, step)


def duplicate_spans(
    df: DataFrame,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated spans per document: ``(doc_id, span_start,
    span_end, n_tokens)`` in TOKEN indices (inclusive start, exclusive
    end). A span is any run of tokens covered by windows whose text
    occurs elsewhere in the corpus (another document or another
    position of the same document)."""
    from pyspark.sql import Window

    w = _windows(df, min_tokens, id_col, text_col)
    # r12: occurrence counting as a WINDOW over the hash partition
    # instead of groupBy + semi-join back. The join shape evaluated the
    # corpus window-explode TWICE (once under the aggregate, once under
    # the probe side — Catalyst does not reuse the exchange across the
    # two shapes) and shuffled the explode output twice; one analytic
    # pass evaluates and shuffles it once. Skew class is unchanged:
    # either shape routes all occurrences of one hash to one task.
    ww = Window.partitionBy("_wh")
    dup_w = (
        w.withColumn("_n", F.count(F.lit(1)).over(ww))
        .filter(F.col("_n") > 1)
        .drop("_n")
    )
    starts = (
        dup_w.groupBy("_id")
        .agg(F.sort_array(F.collect_list("_pos")).alias("_ss"))
    )
    spans = starts.select(
        "_id", _merged_spans("_ss", min_tokens).alias("_spans")
    )
    return (
        spans.select("_id", F.explode("_spans").alias("_sp"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_sp.s").alias("span_start"),
            F.col("_sp.e").alias("span_end"),
            (F.col("_sp.e") - F.col("_sp.s")).alias("n_tokens"),
        )
    )


def _strip_starts(
    df: DataFrame,
    starts: DataFrame,
    min_tokens: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Shared strip-rebuild: given ``starts`` = (_id, _ss sorted window
    starts), merge the starts into maximal spans and reassemble each
    document's kept text as a flatten of COMPLEMENT-interval slices —
    O(tokens + spans) per document (the linear rebuild; see the r5→r6
    history in strip_duplicate_spans)."""
    from swanlake_spark.operators.dedup import _spread

    toks = tokens(text_col)
    # the rebuild is CPU-bound too (token-array reassembly)
    base = _spread(df).select(
        F.col(id_col).alias("_id"), F.struct(*df.columns).alias("_row"),
        toks.alias("_toks"),
    )
    joined = base.join(starts, "_id", "left")

    # One F.expr for the whole rebuild (r12: the py4j lambda nest cost
    # ~0.23 s of driver time per plan build). Structure unchanged: the
    # merged span array is let-bound via a single-element transform so
    # the fold runs once per doc; spans are sorted+disjoint with
    # e_i <= s_{i+1} and e_K <= T, so every complement length is >= 0
    # (slice is 1-based; zero-length slices yield empty arrays).
    merged = _merged_spans_sql("`_ss`", min_tokens)
    kept = F.expr(
        "CASE WHEN `_ss` IS NULL THEN `_toks` ELSE "
        f"flatten(flatten(transform(array({merged}), spans -> "
        "zip_with("
        "concat(array(CAST(0 AS BIGINT)), transform(spans, p -> p.e)), "
        "concat(transform(spans, p -> p.s), "
        "array(CAST(size(`_toks`) AS BIGINT))), "
        "(a, b) -> slice(`_toks`, CAST(a + 1 AS INT), "
        "CAST(b - a AS INT)))))) END"
    )
    return joined.select(
        F.col("_row")[id_col].alias(id_col),
        F.array_join(kept, " ").alias(text_col),
        (F.size("_toks") - F.size(kept)).alias("n_tokens_removed"),
    )


def strip_duplicate_spans(
    df: DataFrame,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_first: bool = True,
) -> DataFrame:
    """Remove duplicated spans, returning ``(id_col, text,
    n_tokens_removed)`` with the covered tokens stripped.

    ``keep_first=True`` (the Lee et al. setting) preserves the
    corpus-wide FIRST occurrence of every duplicated window —
    deterministically min (doc, pos) per window hash — so exactly one
    copy of each repeated passage survives; ``False`` strips every
    occurrence. Document identity is preserved (empty-text documents
    remain as rows — dropping them is the caller's policy)."""
    from pyspark.sql import Window

    w = _windows(df, min_tokens, id_col, text_col)
    # r12: same single-pass analytic shape as duplicate_spans — the
    # former groupBy(_wh) + join-back evaluated the corpus window
    # explode twice and shuffled it twice; one window pass computes the
    # occurrence count and the deterministic first occurrence in a
    # single shuffle of the explode output. Values are identical
    # (count + min(struct) over the same hash groups).
    ww = Window.partitionBy("_wh")
    dup_w = (
        w.withColumn("_n", F.count(F.lit(1)).over(ww))
        .withColumn("_first", F.min(F.struct("_id", "_pos")).over(ww))
        .filter(F.col("_n") > 1)
        .drop("_n")
    )
    if keep_first:
        dup_w = dup_w.filter(
            ~(
                (F.col("_id") == F.col("_first._id"))
                & (F.col("_pos") == F.col("_first._pos"))
            )
        )
    starts = (
        dup_w.groupBy("_id")
        .agg(F.sort_array(F.collect_set("_pos")).alias("_ss"))
    )
    # LINEAR rebuild (r5 verdict: the per-token `exists` over raw
    # duplicate-window starts was O(tokens x starts) per document —
    # ~O(T^2) on exactly the boilerplate-heavy documents span dedup
    # exists for; Spark's `exists` is a full array scan, no sorted
    # short-circuit). Instead: merge the starts into maximal spans
    # (same fold duplicate_spans uses — one pass over the starts),
    # take the COMPLEMENT intervals [0,s1), [e1,s2), ..., [eK,T), and
    # reassemble the kept text as a flatten of slices — O(T + spans);
    # shared with the cross-corpus strip (_strip_starts).
    return _strip_starts(df, starts, min_tokens, id_col, text_col)


def contaminated_spans(
    corpus: DataFrame,
    reference: DataFrame,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_id_col: str = "doc_id",
    ref_text_col: str = "text",
) -> DataFrame:
    """Cross-corpus duplicate spans: maximal runs of corpus tokens
    covered by ``min_tokens``-windows that occur ANYWHERE in
    ``reference`` — the span-level view of train/eval contamination
    (the doc-level n-gram test in ``curation.decontaminate`` answers
    "is this document tainted?"; this answers "WHICH tokens?").
    Returns ``(id_col, span_start, span_end, n_tokens)``.

    Shape: reference windows reduce to a distinct-hash set (one
    map-side-combined aggregation, reference-sized); corpus windows
    semi-join against it — no occurrence lists, no cross product. At
    100 TB corpus / GB-scale eval suites the hash set is dim-sized and
    the join broadcasts."""
    ref_w = _windows(reference, min_tokens, ref_id_col, ref_text_col)
    ref_hashes = ref_w.select("_wh").distinct()
    w = _windows(corpus, min_tokens, id_col, text_col)
    hit = w.join(ref_hashes, "_wh", "left_semi")
    starts = hit.groupBy("_id").agg(
        F.sort_array(F.collect_set("_pos")).alias("_ss")
    )
    spans = starts.select(
        "_id", _merged_spans(F.col("_ss"), min_tokens).alias("_spans")
    )
    return (
        spans.select("_id", F.explode("_spans").alias("_sp"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_sp.s").alias("span_start"),
            F.col("_sp.e").alias("span_end"),
            (F.col("_sp.e") - F.col("_sp.s")).alias("n_tokens"),
        )
    )


def strip_contaminated_spans(
    corpus: DataFrame,
    reference: DataFrame,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_id_col: str = "doc_id",
    ref_text_col: str = "text",
) -> DataFrame:
    """Remove every reference-overlapping span from the corpus (no
    keep-first — the reference is an EVAL set, so every overlapping
    occurrence goes), returning ``(id_col, text, n_tokens_removed)``.
    Document identity is preserved; a fully-contaminated document
    survives as an empty-text row (dropping is the caller's policy,
    same contract as strip_duplicate_spans)."""
    ref_w = _windows(reference, min_tokens, ref_id_col, ref_text_col)
    ref_hashes = ref_w.select("_wh").distinct()
    w = _windows(corpus, min_tokens, id_col, text_col)
    hit = w.join(ref_hashes, "_wh", "left_semi")
    starts = hit.groupBy("_id").agg(
        F.sort_array(F.collect_set("_pos")).alias("_ss")
    )
    return _strip_starts(corpus, starts, min_tokens, id_col, text_col)


def span_dedup_stats(
    df: DataFrame,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One-row corpus report: documents affected, duplicated spans,
    duplicated tokens, plus up to ``_EXAMPLES_CAP`` example spans —
    the audit output a curation run logs before destructive removal."""
    spans = duplicate_spans(df, min_tokens, id_col, text_col)
    return spans.agg(
        F.count_distinct(id_col).alias("docs_affected"),
        F.count(F.lit(1)).alias("dup_spans"),
        F.sum("n_tokens").alias("dup_tokens"),
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(id_col, "span_start", "span_end")
                )
            ),
            1,
            _EXAMPLES_CAP,
        ).alias("examples"),
    )
