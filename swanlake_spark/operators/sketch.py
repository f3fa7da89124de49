"""Count-min sketch + exact-verified heavy hitters.

Frequent-item analysis over a 100 TB corpus (top tokens, domains, URLs,
near-dup cluster sizes) can't afford ``GROUP BY value`` when the value
space has billions of distinct members: the shuffle carries one partial
count per distinct value per map task — the long tail IS the shuffle.
The classic sketch answer (Cormode & Muthukrishnan's count-min, the
same estimator family behind the approximation surface the reference
inherits from its DuckDB execution layer — SURVEY.md §2.4's
``approx_count_distinct`` row) bounds state at d×w counters regardless
of cardinality.

Spark-first decomposition, no UDFs and no driver state:

1. **Build** (``count_min``): each row contributes d (row, bucket)
   pairs — a d-element inline array explode — and ONE map-side-combined
   aggregation folds them into ≤ d×w cells. The shuffle is bounded by
   the sketch size, not the value cardinality.
2. **Densify**: the sparse cells become d bucket-indexed arrays in a
   ONE-ROW DataFrame (transform over 0..w-1) — O(1) lookups downstream,
   built once.
3. **Filter + exact verify** (``heavy_hitters``): a broadcast of the
   one-row sketch joins every row; ``least`` over the d array lookups
   is the classic min-estimate. Rows whose estimate clears the
   threshold proceed to an EXACT count restricted to survivors.

The result is **exact, not approximate**: count-min never
underestimates (hashing can only merge counts), so every value with
true count ≥ T survives the filter — the sketch only prunes; the final
``HAVING count ≥ T`` removes the false positives. The DuckDB oracle is
therefore plain ``GROUP BY ... HAVING`` — a rare sketch with an exact
oracle row. Accuracy economics: the verify pass aggregates only
surviving rows, whose expected volume is the true heavy mass plus
N·d·(1/w)-scale collision noise — with w sized ≥ ~100/φ for a φN
threshold, survivors are dominated by true heavy hitters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from swanlake_spark.plans.quoting import quote_identifier


def _col(name: str) -> Column:
    """A column NAME as one identifier — the same reading the SQL-text
    paths give it, so a name containing a backtick or a dot works on
    both."""
    return F.col(quote_identifier(name))


def _bucket(item: Column, i: int, w: int) -> Column:
    """Row-hash i's bucket for the item: xxhash64 seeded by the row
    index (pairwise-independent enough for CM's Markov bound)."""
    return F.pmod(F.xxhash64(item, F.lit(i)), F.lit(w)).cast("int")


def count_min(
    df: DataFrame, col: str | Column, d: int = 4, w: int = 4096
) -> DataFrame:
    """d×w count-min sketch of ``col`` as a ONE-ROW DataFrame with a
    ``cms`` column: map<row-index, dense bucket array> (lookup =
    ``try_element_at(try_element_at(cms, i), bucket+1)``).

    One explode (×d) + one bounded aggregation; the one-row densify
    runs on ≤ d×w cells. Sketches over different DataFrames merge by
    cell-wise addition (counters are linear) — partition-parallel
    builds need no special merge path because the groupBy already IS
    the merge."""
    item = (_col(col) if isinstance(col, str) else col).cast("string")
    if isinstance(col, str):
        # one F.expr per plan build (r12) — the per-row-hash py4j
        # construction cost ~0.7 s of driver time per build; the SQL
        # text parses to the identical explode/struct/pmod expression
        q = quote_identifier(col)
        pair = F.expr(
            "explode(array(" + ",".join(
                f"named_struct('i', {i}, 'b', CAST(pmod(xxhash64("
                f"CAST({q} AS STRING), {i}), {w}) AS INT))"
                for i in range(d)
            ) + "))"
        ).alias("p")
    else:
        pair = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _bucket(item, i, w).alias("b")
                    )
                    for i in range(d)
                ]
            )
        ).alias("p")
    cells = (
        df.where(item.isNotNull())
        .select(pair)
        .groupBy("p.i", "p.b")
        .agg(F.count("*").alias("cnt"))
    )
    return densify(cells, w)


def densify(cells: DataFrame, w: int) -> DataFrame:
    """Sparse ``(i, b, cnt)`` cells → the ONE-ROW ``cms`` frame
    (map<row-index, dense bucket array>). Fully distributed (two
    bounded aggregations over ≤ d×w cells) — shared by the batch build
    above and the streaming sink (streaming/sketch.py), whose
    cross-batch merged cells densify without any driver collect."""
    dense = cells.groupBy("i").agg(
        F.expr(
            "map_from_entries(sort_array(collect_list(struct(b, cnt))))"
        ).alias("m")
    )
    dense = dense.select(
        "i",
        F.expr(
            f"transform(sequence(0, {w - 1}), "
            "x -> coalesce(try_element_at(m, x), 0))"
        ).alias("arr"),
    )
    return dense.groupBy().agg(
        F.expr("map_from_entries(collect_list(struct(i, arr)))").alias(
            "cms"
        )
    )


def cm_estimate(
    cms: Column | str, item: Column | str, d: int, w: int
) -> Column:
    """Min over the d row estimates — the count-min upper bound on the
    item's true count (d map probes + O(1) array reads per row).
    String arguments take the one-round-trip F.expr path (r12); Column
    arguments keep the composable py4j form."""
    if isinstance(cms, str) and isinstance(item, str):
        q_cms, q_item = quote_identifier(cms), quote_identifier(item)
        probes = ",".join(
            f"coalesce(try_element_at(try_element_at({q_cms}, {i}), "
            f"CAST(pmod(xxhash64(CAST({q_item} AS STRING), {i}), {w}) "
            f"AS INT) + 1), 0)"
            for i in range(d)
        )
        return F.expr(f"least({probes})")
    cms = _col(cms) if isinstance(cms, str) else cms
    item = (_col(item) if isinstance(item, str) else item).cast("string")
    return F.least(
        *[
            F.coalesce(
                F.try_element_at(
                    F.try_element_at(cms, F.lit(i)),
                    _bucket(item, i, w) + F.lit(1),
                ),
                F.lit(0),
            )
            for i in range(d)
        ]
    )


def heavy_hitters(
    df: DataFrame,
    col: str | Column,
    threshold: int,
    d: int = 4,
    w: int = 4096,
) -> DataFrame:
    """EXACT ``(value, cnt)`` of every value with count ≥ threshold,
    via a count-min pre-filter (module docstring). Returns columns
    ``(value STRING, cnt BIGINT)``; deterministic under any
    partitioning (hash buckets are content-only)."""
    item = (_col(col) if isinstance(col, str) else col).cast("string")
    cms = F.broadcast(count_min(df, col, d, w))
    survivors = (
        df.select(item.alias("value"))
        .where(F.col("value").isNotNull())
        .crossJoin(cms)
        .where(cm_estimate("cms", "value", d, w) >= threshold)
    )
    return (
        survivors.groupBy("value")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= threshold)
    )


# -- KMV theta sketch ---------------------------------------------------------
#
# Distinct counting with SET ALGEBRA: ``GROUP BY`` + count(DISTINCT)
# answers one distinct count, but audience-overlap questions — how many
# documents appear in BOTH crawls, how many users in segment A but not
# B — need |A∩B| / |A∪B| over value spaces too large to join exactly.
# The K-Minimum-Values synopsis (Bar-Yossef et al. RANDOM '02; Beyer et
# al. SIGMOD '07 for the multiset-operation estimators; the same
# construction behind Apache DataSketches' theta sketch) keeps the k
# smallest uniform hashes of each set: below k distinct values the
# sketch IS the set (estimates are exact); above, the k-th smallest
# hash θ estimates the density — distinct ≈ (k−1)/θ, and any
# intersection/union/difference restricted to hashes < min(θA, θB) is
# a uniform sample of the true operation with the same estimator.
# Sketches merge by keeping the k smallest of the union — associative
# and order-independent, so partition-parallel builds and cross-batch
# streaming folds are exact merges, the same linearity argument as the
# count-min cells above.
#
# Scale-sound build, no UDFs and no unbounded per-group state: hashes
# are uniform in [0,1), so a group with n̂ distinct values has its k-th
# smallest hash near k/n̂ — a pre-filter at _KMV_PREFILTER_SLACK·k/n̂
# (n̂ from one approx_count_distinct pass) bounds the per-group sort to
# O(k) rows REGARDLESS of group cardinality, which keeps the window
# sort from serializing a billion-distinct group into one task. The
# slack makes missing a true k-minimum vanishingly unlikely; the
# build still VERIFIES (survivors < k while n̂ says ≥ k possible) and
# routes affected groups through the unfiltered path — correct even if
# the tail probability fires.

_KMV_PREFILTER_SLACK = 4.0


def _kmv_hash(col: Column) -> Column:
    """xxhash64 mapped to a uniform double in [0, 1): the signed long
    shifts into unsigned position, then scales by 2^-64. 53-bit double
    spacing is far below any k-th-order-statistic gap at practical k."""
    return (F.xxhash64(col.cast("string")) / F.lit(float(2**64))) + F.lit(0.5)


def kmv_sketch(
    df: DataFrame,
    col: str | Column,
    k: int = 1024,
    by: list[str] | None = None,
    _prefilter_slack: float = _KMV_PREFILTER_SLACK,
    _pin: bool = True,
) -> DataFrame:
    """Per-group KMV sketch of ``col``: the group columns plus ``kmv``,
    a sorted ascending array<double> of the k smallest distinct value
    hashes (module section comment). ``by=None`` builds one global
    sketch (a single-row DataFrame).

    Deterministic under any partitioning: hashes are content-only and
    the k-minimum set is order-independent.

    The pre-filter applies BEFORE the distinct (filtering by hash
    commutes with dedup), so the distinct shuffle carries ~slack·k
    surviving hashes per group instead of every distinct value — the
    whole build shuffles O(k · groups), never O(distinct). The
    estimate pass is one extra scan with map-side-bounded HLL partials;
    the window's top-k is additionally rank-limit-pushed map-side
    (WindowGroupLimit), so no stage holds more than k·partitions rows
    of any group."""
    from pyspark.sql import Window

    by = list(by or [])
    item = F.col(col) if isinstance(col, str) else col
    raw = df.where(item.isNotNull()).select(
        *by, _kmv_hash(item).alias("__h")
    )
    # r12: the estimate table is groups-sized (one row per group) but
    # sits on the DAG THREE times — under `pre`, under the `risky`
    # probe, and again when the caller executes the returned sketch.
    # Lazy recomputation re-scanned the full input for each reference
    # (the "2 source scans" contract below was 5-6 in practice);
    # pinning the tiny frame executor-local restores it: scan #1 builds
    # `est`, scan #2 builds the survivors, everything downstream reads
    # the pinned rows. Same values — checkpointing changes nothing
    # about the deterministic hash/top-k math.
    est = raw.groupBy(*by).agg(
        F.approx_count_distinct("__h").alias("__n")
    )
    if _pin:
        est = est.localCheckpoint(eager=True)
    pre = raw.join(est, on=by) if by else raw.crossJoin(F.broadcast(est))
    cut = F.least(
        F.lit(1.0), F.lit(_prefilter_slack) * F.lit(k) / F.col("__n")
    )
    surv = pre.where(F.col("__h") < cut).drop("__n").distinct()
    w = Window.partitionBy(*by).orderBy("__h")
    topk = (
        surv.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
    # pinned for the same reason: k·groups rows, read by the risky
    # probe AND by the caller's action (often twice — set-algebra
    # callers split the sketch frame into both join legs).
    # ``_pin=False`` returns the LAZY plan (plan-quality tests assert
    # the WindowGroupLimit pushdown, which a checkpoint scan hides).
    sk = topk.groupBy(*by).agg(
        F.array_sort(F.collect_list("__h")).alias("kmv")
    )
    if _pin:
        sk = sk.localCheckpoint(eager=True)
    # verify the tail bound: a group can only have LOST a true
    # k-minimum if the pre-filter actually cut (cut < 1 ⇔ n̂ > slack·k)
    # yet fewer than k survivors came back — recompute those groups
    # (semi-join pruned) without the filter. With slack 4 this path is
    # probability ~exp(-k) noise; it exists so correctness never rests
    # on a tail bound. Groups where cut == 1 filtered nothing, so their
    # sketch is complete by construction (the exact regime).
    # Detection runs from EST's side (est left-join sk, survivor count
    # coalesced to 0): a group whose pre-filter dropped EVERY hash is
    # absent from sk entirely, and a sketch-side join would silently
    # drop it from the output instead of recomputing it — the same
    # zero-survivor case sampling.stratified_sample detects explicitly.
    joined = (
        est.join(sk, on=by, how="left")
        if by
        else est.join(sk, on=F.lit(True), how="left")
    )
    risky = joined.where(
        (F.coalesce(F.size("kmv"), F.lit(0)) < F.lit(k))
        & (F.col("__n") > F.lit(_prefilter_slack) * F.lit(k))
    )
    if len(risky.take(1)) == 0:
        return sk
    hashed = raw.distinct()
    if by:
        safe = sk.join(risky.select(*by), on=by, how="left_anti")
        redo_src = hashed.join(
            F.broadcast(risky.select(*by).distinct()), on=by, how="left_semi"
        )
        redo = (
            redo_src.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
            .groupBy(*by)
            .agg(F.array_sort(F.collect_list("__h")).alias("kmv"))
        )
        return safe.unionByName(redo)
    redo = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
        .groupBy()
        .agg(F.array_sort(F.collect_list("__h")).alias("kmv"))
    )
    return redo


def kmv_theta(sk: Column, k: int) -> Column:
    """The sketch's sampling threshold θ: 1.0 in the exact regime
    (fewer than k entries — the sketch holds every hash), else the k-th
    smallest hash."""
    return F.when(
        F.size(sk) < F.lit(k), F.lit(1.0)
    ).otherwise(F.element_at(sk, F.lit(k)))


def kmv_distinct(sk: Column, k: int) -> Column:
    """Distinct-count estimate: exact size below k, else the unbiased
    (k−1)/θ order-statistic estimator (Beyer et al. '07)."""
    return F.when(
        F.size(sk) < F.lit(k), F.size(sk).cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.element_at(sk, F.lit(k)))


def kmv_union(a: Column, b: Column, k: int) -> Column:
    """Merged sketch: k smallest of the union — the exact sketch of the
    unioned input (associative, commutative, idempotent)."""
    return F.slice(F.array_sort(F.array_union(a, b)), 1, k)


def kmv_set_ops(a: Column, b: Column, k: int) -> Column:
    """Struct of multiset estimates for two sketches: ``union_est``,
    ``intersect_est``, ``a_minus_b_est``/``b_minus_a_est`` (set
    differences), ``jaccard`` (+ the observed sample sizes).
    Every hash < θ = min(θA, θB) is a uniform θ-sample of A∪B, so
    |{common hashes < θ}|/θ estimates |A∩B| with the SAME estimator
    the distinct count uses — exact when both sketches are exact."""
    theta = F.least(kmv_theta(a, k), kmv_theta(b, k))
    below = lambda s: F.filter(s, lambda x: x < theta)  # noqa: E731
    a_n = F.size(below(a))
    b_n = F.size(below(b))
    inter_n = F.size(F.array_intersect(below(a), below(b)))
    union_n = F.size(F.array_union(below(a), below(b)))
    return F.struct(
        (union_n / theta).alias("union_est"),
        (inter_n / theta).alias("intersect_est"),
        ((a_n - inter_n) / theta).alias("a_minus_b_est"),
        ((b_n - inter_n) / theta).alias("b_minus_a_est"),
        F.when(union_n > 0, inter_n / union_n)
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
        inter_n.alias("intersect_sample"),
        union_n.alias("union_sample"),
    )


# -- fixed-bin histogram quantile sketch --------------------------------------
#
# Quantiles with MERGEABLE state: Spark's percentile_approx state isn't
# exposed for SQL-level merging, so rollups and streams can't fold it.
# A fixed-bin equi-width histogram (the classic DB optimizer synopsis)
# is: bin counters are linear — partition-parallel builds, cross-shard
# rollups, and cross-batch streaming folds are all ONE elementwise add
# — at the cost of a value-error bound of one bin width (hi−lo)/B
# instead of percentile_approx's rank-relative bound. Pick B for the
# precision the question needs; 4096 doubles per group is still tiny.

def histogram_sketch(
    df: DataFrame,
    col: str | Column,
    bins: int = 1024,
    lo: float | None = None,
    hi: float | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Equi-width histogram of ``col``: group columns plus ``counts``
    (array<long>, length ``bins``) and the shared ``lo``/``hi`` range.

    The range is GLOBAL (one min/max pass when not supplied) so every
    group's sketch shares bin boundaries — the precondition for
    merging sketches across groups, shards, or stream batches with
    ``hist_merge``. Values outside [lo, hi) clamp into the edge bins.
    Build cost: one scan + one ≤ bins·groups aggregation; no UDFs."""
    by = list(by or [])
    c = (F.col(col) if isinstance(col, str) else col).cast("double")
    if lo is None or hi is None:
        r = df.agg(F.min(c).alias("l"), F.max(c).alias("h")).collect()[0]
        lo = float(r["l"]) if lo is None else lo
        hi = float(r["h"]) if hi is None else hi
    if hi <= lo:
        hi = lo + 1.0
    width = (hi - lo) / bins
    b = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((c - F.lit(lo)) / F.lit(width))),
    ).cast("int")
    cells = (
        df.where(c.isNotNull())
        .groupBy(*by, b.alias("__b"))
        .agg(F.count("*").alias("__n"))
    )
    # r12: the bucket map MUST be a bound column before the densify
    # transform reads it — referencing the map_from_entries(collect_…)
    # aggregate inside the lambda re-built the whole map PER BUCKET
    # INDEX (Catalyst does no CSE through lambda bodies): O(bins²)
    # per group, measured ~0.5 s of the ~1.1 s sketch build at
    # bins=1024 on the bench lineitem. Same two-step shape as
    # densify() above; values unchanged.
    g = cells.groupBy(*by).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__b"), F.col("__n")))
        ).alias("__m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(bins - 1)),
        lambda i: F.coalesce(
            F.try_element_at("__m", i), F.lit(0).cast("long")
        ),
    )
    return g.select(
        *by,
        dense.alias("counts"),
        F.lit(float(lo)).alias("lo"),
        F.lit(float(hi)).alias("hi"),
    )


def hist_merge(a: Column, b: Column) -> Column:
    """Elementwise sum of two count arrays — the entire merge (bins
    must share lo/hi/length, which ``histogram_sketch`` guarantees by
    construction for one build and the caller for cross-build folds)."""
    return F.zip_with(a, b, lambda x, y: x + y)


def _hq_operand(v) -> str:
    """Render a hist_quantile operand as SQL text: a column name
    backticked, a number as a double literal."""
    if isinstance(v, str):
        return quote_identifier(v)
    return repr(float(v)) + "D"


def hist_quantile(
    counts: Column | str,
    lo: Column | float | str,
    hi: Column | float | str,
    q: float,
) -> Column:
    """Quantile estimate from a histogram sketch: walk the CDF to the
    q·total rank, interpolate linearly inside the crossing bin. Value
    error ≤ one bin width by construction. ``q`` in [0, 1].

    Implementation note: the rank target AND the CDF-walk struct are
    let-bound via 1-element ``transform``s so each computes once —
    Catalyst does no CSE through lambda bodies (an inlined aggregate
    would re-sum the array per step/reference, an O(B²) trap). With a
    string/number operand set the whole expression renders as ONE SQL
    string (r12: the py4j-built form cost ~0.2 s of driver time per
    call AND re-evaluated the walk aggregate once per reference —
    4× per row — because lambda bodies skip codegen subexpression
    elimination); Column operands keep the composable py4j form."""
    if isinstance(counts, str) and not isinstance(lo, Column) and not isinstance(hi, Column):
        c, lo_s, hi_s = quote_identifier(counts), _hq_operand(lo), _hq_operand(hi)
        width = f"(({hi_s} - {lo_s}) / size({c}))"
        target = (
            f"greatest({repr(float(q))}D * CAST(aggregate({c}, "
            f"CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE), 1.0D)"
        )
        init = (
            "named_struct('cum', 0.0D, 'i', 0, 'fi', -1, "
            "'fcum', 0.0D, 'fcnt', 0.0D)"
        )
        step = (
            "(acc, x) -> named_struct("
            "'cum', acc.cum + x, "
            "'i', acc.i + 1, "
            "'fi', CASE WHEN acc.fi < 0 AND (acc.cum + x) >= t "
            "THEN acc.i ELSE acc.fi END, "
            "'fcum', CASE WHEN acc.fi < 0 AND (acc.cum + x) >= t "
            "THEN acc.cum ELSE acc.fcum END, "
            "'fcnt', CASE WHEN acc.fi < 0 AND (acc.cum + x) >= t "
            "THEN CAST(x AS DOUBLE) ELSE acc.fcnt END)"
        )
        frac = (
            "CASE WHEN w.fcnt > 0.0D THEN (t - w.fcum) / w.fcnt "
            "ELSE 0.0D END"
        )
        body = (
            f"CASE WHEN w.fi < 0 THEN {hi_s} "
            f"ELSE {lo_s} + {width} * (CAST(w.fi AS DOUBLE) + {frac}) END"
        )
        return F.expr(
            "try_element_at(transform(array("
            + target
            + "), t -> try_element_at(transform(array("
            + f"aggregate({c}, {init}, {step})"
            + f"), w -> {body}), 1)), 1)"
        )
    counts = _col(counts) if isinstance(counts, str) else counts
    lo = F.lit(lo) if not isinstance(lo, Column) else lo
    hi = F.lit(hi) if not isinstance(hi, Column) else hi
    nbins = F.size(counts)
    width = (hi - lo) / nbins
    total = F.aggregate(
        counts, F.lit(0).cast("long"), lambda acc, x: acc + x
    ).cast("double")

    def walk(target):
        acc0 = F.struct(
            F.lit(0.0).alias("cum"),
            F.lit(0).alias("i"),
            F.lit(-1).alias("fi"),
            F.lit(0.0).alias("fcum"),
            F.lit(0.0).alias("fcnt"),
        )

        def step(acc, x):
            hit = (acc.fi < 0) & ((acc.cum + x) >= target)
            return F.struct(
                (acc.cum + x).alias("cum"),
                (acc.i + 1).alias("i"),
                F.when(hit, acc.i).otherwise(acc.fi).alias("fi"),
                F.when(hit, acc.cum).otherwise(acc.fcum).alias("fcum"),
                F.when(hit, x.cast("double"))
                .otherwise(acc.fcnt)
                .alias("fcnt"),
            )

        w = F.aggregate(counts, acc0, step)
        frac = F.when(
            w.fcnt > 0, (target - w.fcum) / w.fcnt
        ).otherwise(F.lit(0.0))
        return F.when(w.fi < 0, hi).otherwise(
            lo + width * (w.fi.cast("double") + frac)
        )

    # let-bind the rank target (computed once) as a lambda variable
    return F.try_element_at(
        F.transform(
            F.array(F.greatest(F.lit(q) * total, F.lit(1.0))),
            walk,
        ),
        F.lit(1),
    )
