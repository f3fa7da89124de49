"""Distributed BPE tokenizer training + encoding.

A training-data pipeline needs its tokenizer trained ON the corpus the
engine curates (the reference feeds curated parquet to downstream
training jobs; the tokenizer-fit step is the canonical first consumer).
Classic BPE (Sennrich et al. 2016, public algorithm) fits here
Spark-first:

- **Train on word frequencies, not the corpus.** The corpus collapses
  to a ``(word, freq)`` table first (one map-side-combinable shuffle —
  at 100 TB the distinct-word table is vocabulary-sized, millions of
  rows, not corpus-sized). Every merge iteration then runs on that
  bounded table only.
- **One shuffle per merge.** Each iteration explodes adjacent symbol
  pairs weighted by word frequency, takes the max-count pair
  (deterministic tiebreak: count DESC, pair ASC), and rewrites every
  word's symbol array with a greedy left-to-right merge fold — a pure
  ``F.aggregate`` lambda, JVM-side, no Python in the loop.
- **Encoding is a join.** The trained table already carries every
  in-vocabulary word's final segmentation; ``encode`` joins documents'
  words against it (broadcast when the vocab is small) and falls back
  to character symbols for OOV words (documented simplification: real
  deployments export the merges to their tokenizer runtime; the
  engine-side encoding exists for corpus statistics, packing and
  dedup-by-token pipelines).

Determinism: the merge sequence is a pure function of the word
frequencies (ties broken lexicographically), so training is
reproducible across layouts and engines — verified against a pure
Python reference implementation in tests/test_tokenizer.py.

Lineage: the word table re-persists per iteration and truncates
lineage every ``_CHECKPOINT_EVERY`` merges via localCheckpoint — the
table is vocabulary-sized (bounded, not corpus-sized), so
executor-local copies are safe at any corpus scale; a lost executor
restarts the (cheap) training loop, never touching corpus data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swanlake_spark.plans.quoting import quote_identifier

END = "</w>"  # word-end marker, per the original BPE formulation

_CHECKPOINT_EVERY = 8


def word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``(word, freq)`` over whitespace-split words — the bounded
    training table (one shuffle, map-side combined)."""
    return (
        df.select(
            F.explode(
                F.split(F.trim(F.col(text_col)), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _char_symbols_sql(col_name: str) -> str:
    """word → [c1, c2, ..., cn, </w>] as SQL text (same expression the
    former Column-API form built — split/filter/concat — rendered as
    one string so plan construction is one py4j round trip, the r12
    pattern; END contains no SQL specials)."""
    return (
        f"concat(filter(split({quote_identifier(col_name)}, ''), c -> c != ''), "
        f"array('{END}'))"
    )


def _char_symbols(word_col_name: str) -> "F.Column":
    """word → [c1, c2, ..., cn, </w>]"""
    return F.expr(_char_symbols_sql(word_col_name))


# [(s_i, s_i+1)] structs for counting — zip of the array with its own
# tail (both slices are length n-1, so zip_with pads nothing). Field
# names pinned with named_struct, identical to the former
# struct(a AS a, b AS b) Column form.
_ADJ_PAIRS_SQL = (
    "zip_with(slice({c}, 1, size({c}) - 1), "
    "slice({c}, 2, size({c}) - 1), "
    "(a, b) -> named_struct('a', a, 'b', b))"
)


def _adjacent_pairs(col_name: str) -> "F.Column":
    """[(s_i, s_i+1)] structs for counting."""
    return F.expr(_ADJ_PAIRS_SQL.format(c=quote_identifier(col_name)))


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal (default parser mode:
    C-style escapes, so backslash and quote are the only specials —
    symbols never contain whitespace, the corpus words are
    whitespace-split)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _fold_sql(col_name: str, pairs: list[tuple[str, str]]) -> str:
    """The greedy left-to-right merge fold rendered as ONE SQL
    expression string. Semantically identical to the former
    ``F.when``-built fold (same CASE order, same struct shape); built
    as text because the py4j-constructed form cost one driver round
    trip per node — ~0.26 s per 16-pair fold, ~1.6 s per training run
    of pure driver serialization (r12 profile)."""
    tok = "CASE " + " ".join(
        f"WHEN acc.prev = {_sql_str(a)} AND x = {_sql_str(b)} "
        f"THEN {_sql_str(a + b)}"
        for a, b in pairs
    ) + " END"
    flush = (
        "CASE WHEN acc.prev != '' THEN concat(acc.out, array(acc.prev)) "
        "ELSE acc.out END"
    )
    return (
        f"aggregate({quote_identifier(col_name)}, "
        "named_struct('out', CAST(array() AS array<string>), 'prev', ''), "
        f"(acc, x) -> CASE WHEN {tok} IS NOT NULL "
        f"THEN named_struct('out', concat(acc.out, array({tok})), "
        "'prev', '') "
        f"ELSE named_struct('out', {flush}, 'prev', x) END, "
        f"acc -> {flush})"
    )


def _merge_fold(col_name: str, a: str, b: str) -> "F.Column":
    """Greedy left-to-right merge of adjacent (a, b) → a+b inside a
    symbol array — a single JVM-side aggregate fold, the same pass a
    single-node BPE trainer makes over one word."""
    return F.expr(_fold_sql(col_name, [(a, b)]))


def select_batch(
    ranked: list[tuple[str, str, int]], k: int
) -> list[tuple[str, str]]:
    """Greedy top-``k`` NON-INTERACTING merge selection from a ranked
    (count DESC, a ASC, b ASC) pair list — the standard batched-BPE
    optimization. A candidate is taken only if

    - it shares NO symbol with any already-selected pair (neither side
      equals either side of a selected pair), and
    - neither of its symbols equals an already-selected pair's
      CONCATENATION (and vice versa, including concat-vs-concat).

    Symbol-disjointness makes the batch exact with respect to itself
    (merging (a1,b1) can neither create nor destroy occurrences of a
    disjoint (a2,b2): the new symbol a1+b1 is fresh and adjacency of
    a2,b2 has no a1/b1 between them, so every selected pair's count is
    invariant under the batch's other merges). The concatenation rule
    additionally guarantees no pair can match a token another pair
    JUST produced — which is what lets the whole batch apply in ONE
    fold pass (:func:`_merge_fold_multi`) with results identical to
    applying the merges sequentially in rank order."""
    taken: list[tuple[str, str]] = []
    used: set[str] = set()      # symbols of selected pairs
    concats: set[str] = set()   # tokens selected pairs will produce
    for a, b, _n in ranked:
        if len(taken) >= k:
            break
        ab = a + b
        if (
            a in used or b in used
            or a in concats or b in concats
            or ab in used or ab in concats
        ):
            continue
        taken.append((a, b))
        used.add(a)
        used.add(b)
        concats.add(ab)
    return taken


def _merge_fold_multi(
    col_name: str, pairs: list[tuple[str, str]]
) -> "F.Column":
    """Apply a whole NON-INTERACTING batch (see :func:`select_batch`)
    in one greedy left-to-right fold — a single ``F.aggregate`` pass
    with a CASE chain over the batch's pairs, instead of one chained
    fold per merge. select_batch's disjointness + concatenation rules
    make this pass produce exactly what applying the merges one at a
    time (in rank order) would: no pair can consume another pair's
    symbols or freshly-produced token, so per-position at most one
    pair can ever match."""
    return F.expr(_fold_sql(col_name, pairs))


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 64,
    merge_batch: int = 1,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Fit ``n_merges`` BPE merges on ``df``'s text column.

    Returns ``(merges, segmented)``: the ordered merge list and the
    ``(word, freq, tokens)`` table holding every distinct word's final
    segmentation (the encoding join table). Each iteration is one
    bounded shuffle over the distinct-word table; the corpus itself is
    read exactly once (inside :func:`word_freqs`).

    ``merge_batch`` > 1 takes up to that many NON-INTERACTING merges
    per driver round-trip (see :func:`select_batch`) — one pair-count
    job then serves up to K merges, cutting the driver-coordinated
    loop ~K× so a production 30k–100k-merge vocabulary is hours of
    shuffles, not hours of round-trips. ``merge_batch=1`` is exact
    classic BPE; batched selection is the standard approximation
    (selection within a batch doesn't see pairs CREATED by the batch's
    earlier merges — counts of the selected disjoint pairs themselves
    are exact). Both paths are deterministic (count DESC, pair ASC
    tiebreak) and property-tested against a pure-Python reference."""
    # The distinct-word table is vocabulary-sized: a handful of
    # partitions right-sizes every iteration's task count (32 tasks on
    # a 20k-row table is pure scheduling overhead).
    words = (
        word_freqs(df, text_col)
        .withColumn("syms", _char_symbols("word"))
        .coalesce(8)
        # non-eager: materializes inside round 1's pair-count job
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[str, str]] = []
    cur = words
    k = max(1, int(merge_batch))
    while len(merges) < n_merges:
        want = min(k, n_merges - len(merges))
        # over-fetch so greedy disjoint selection can skip interacting
        # candidates and still fill the batch (4× is ample: each taken
        # pair blocks at most its two symbols)
        fetch = want if want == 1 else min(4 * want + 8, 512)
        top = (
            cur.select(
                F.explode(_adjacent_pairs("syms")).alias("p"),
                F.col("freq"),
            )
            .groupBy("p")
            .agg(F.sum("freq").alias("n"))
            .filter(F.col("n") > 1)  # singleton pairs aren't worth a merge
            .orderBy(F.col("n").desc(), F.col("p.a"), F.col("p.b"))
            .limit(fetch)
            .collect()
        )
        ranked = [(r["p"]["a"], r["p"]["b"], int(r["n"])) for r in top]
        batch = select_batch(ranked, want)
        if not batch:
            break  # nothing left worth merging (all pairs unique)
        merges.extend(batch)
        # the whole batch applies in ONE fold pass (exact — see
        # select_batch/_merge_fold_multi), so lineage grows one fold
        # layer per ROUND, not per merge. r12: the fold materializes
        # EVERY round (the connected_components cadence) — each fold
        # layer is a 16-pair CASE chain inside an aggregate, and
        # leaving K layers lazy made every subsequent pair-count job
        # re-analyze and re-execute all K (measured on the bench
        # corpus: per-round checkpoint 3.6-4.0 s vs the lazy cadence's
        # 4.7-6.0 s for train+encode; planning time, not data, is the
        # cost at small vocab). The checkpoint is vocabulary-sized —
        # bounded at any corpus scale, the module-docstring lineage
        # contract unchanged.
        if len(batch) == 1:
            cur = cur.withColumn("syms", _merge_fold("syms", *batch[0]))
        else:
            cur = cur.withColumn(
                "syms", _merge_fold_multi("syms", batch)
            )
        # non-eager: the checkpoint materializes inside the NEXT
        # round's pair-count job (or the caller's first action), so
        # each round runs ONE job instead of checkpoint + count —
        # lineage still truncates at every round (r12)
        cur = cur.localCheckpoint(eager=False)
    segmented = cur.select(
        "word", "freq", F.col("syms").alias("tokens")
    )
    return merges, segmented


def group_merges(
    merges: list[tuple[str, str]],
) -> list[list[tuple[str, str]]]:
    """Split an ORDERED merge list into maximal consecutive
    conflict-free groups (the :func:`select_batch` rule: no shared
    symbols, no symbol-equals-concatenation). Each group applies in one
    fused fold with results identical to applying its merges one at a
    time, so ``fold(g1); fold(g2); ...`` reproduces the exact
    sequential semantics of the full list."""
    groups: list[list[tuple[str, str]]] = []
    cur: list[tuple[str, str]] = []
    used: set[str] = set()
    concats: set[str] = set()
    for a, b in merges:
        ab = a + b
        if (
            a in used or b in used
            or a in concats or b in concats
            or ab in used or ab in concats
        ):
            groups.append(cur)
            cur, used, concats = [], set(), set()
        cur.append((a, b))
        used.add(a)
        used.add(b)
        concats.add(ab)
    if cur:
        groups.append(cur)
    return groups


def segment_words(
    words: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
    out_col: str = "tokens",
) -> DataFrame:
    """Segment arbitrary words by applying an ordered merge list — the
    standard BPE encode over a (distinct) word column, char symbols
    folded through the merges in conflict-free fused groups. Used for
    OOV words at encode time so unseen words get TRUE BPE
    segmentations, not a character fallback."""
    out = words.withColumn(out_col, _char_symbols(word_col))
    for i, grp in enumerate(group_merges(merges)):
        if len(grp) == 1:
            out = out.withColumn(out_col, _merge_fold(out_col, *grp[0]))
        else:
            out = out.withColumn(
                out_col, _merge_fold_multi(out_col, grp)
            )
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            out = out.localCheckpoint(eager=True)
    return out


def encode(
    df: DataFrame,
    segmented: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool = True,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Tokenize documents with a trained segmentation table:
    ``(id, tokens, n_tokens)``. Words join against the trained table
    (broadcast by default — vocabularies are dim-sized). OOV words:
    with ``merges`` given, the DISTINCT unseen words fold through the
    merge list (:func:`segment_words`) — the segmentation a real BPE
    tokenizer produces; without it they fall back to character symbols
    (the pre-r5 behavior, kept as the zero-extra-jobs default). Token
    order is reconstructed from the word's position, so the output is
    deterministic."""
    seg = segmented.select("word", "tokens")
    if broadcast_vocab:
        seg = F.broadcast(seg)
    exploded = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.trim(F.col(text_col)), r"\s+")
        ).alias("pos", "word"),
    ).filter(F.col("word") != "")
    if merges is not None:
        oov = (
            exploded.join(seg.select("word"), "word", "left_anti")
            .select("word")
            .distinct()
        )
        oov_seg = segment_words(oov, merges)
        seg = seg.unionByName(oov_seg)
        if broadcast_vocab:
            seg = F.broadcast(seg)
    joined = exploded.join(seg, "word", "left").select(
        id_col,
        "pos",
        F.expr(
            f"coalesce(tokens, {_char_symbols_sql('word')})"
        ).alias("word_tokens"),
    )
    # Same regroup aggregate as the former Column-API form (array_sort
    # over (pos, word_tokens) structs sorts by pos first — pos is
    # unique per doc, so the struct order is total), rendered as one
    # SQL string.
    return (
        joined.groupBy(id_col)
        .agg(
            F.expr(
                "flatten(transform(array_sort(collect_list("
                "struct(pos, word_tokens))), s -> s.word_tokens))"
            ).alias("tokens")
        )
        .withColumn("n_tokens", F.size("tokens"))
    )
