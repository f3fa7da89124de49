"""Materialized views: persisted query results with durable definitions
and COW refresh.

Beyond-reference extension (DuckDB has no materialized views): a 100 TB
training pipeline keeps rollups — per-domain token counts, per-day
dedup stats, quality histograms — that are queried constantly and
recomputed on a cadence. This module persists them as ordinary parquet
tables plus a JSON *definition sidecar* stored beside the data (same
durable-metadata discipline as ``versions.py`` manifests), so the
defining SQL survives engine restarts and lives with the data it
defines.

SQL surface (engine.py routes these):

- ``CREATE MATERIALIZED VIEW mv AS <query>`` — materialize + register.
- ``REFRESH MATERIALIZED VIEW mv`` — recompute; the publish rides the
  COW overwrite path (staging + rename), so readers never see a
  half-refreshed view and the pre-refresh contents stay time-travelable
  (versions.py records a snapshot per refresh).
- ``REFRESH MATERIALIZED VIEW mv WHERE <pred>`` — partial refresh:
  recompute only the rows matching ``pred`` (pushed into the defining
  query) and replace just those rows: only the view's files holding
  matching rows are rewritten, so on a day-partitioned view a day's
  rollup refresh touches that day's files. The predicate must reference
  output columns of the view.
- ``DROP MATERIALIZED VIEW mv`` — drop table + sidecar.

Scale notes: refresh cost equals the defining query (Catalyst optimizes
it like any other); partial refresh bounds the rewrite to the matched
files. The sidecar is one tiny JSON — never a data copy.
"""

from __future__ import annotations

import json
import math
import re

from pyspark.sql import DataFrame, SparkSession

from swanlake_spark.errors import InvalidArgument, NotFound


def _sidecar_path(spark: SparkSession, table: str) -> str | None:
    from swanlake_spark.operators.dml import _table_meta

    try:
        loc = _table_meta(spark, table)[0]
    except Exception:  # noqa: BLE001 — no such table: no sidecar
        return None
    if loc is None:
        return None
    return loc.rstrip("/") + "/_swl_matview.json"


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _read_sidecar(spark: SparkSession, name: str) -> dict | None:
    path = _sidecar_path(spark, name)
    if path is None:
        return None
    jvm, fs, p = _fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def definition(spark: SparkSession, name: str) -> str | None:
    """The defining SQL, or None if ``name`` is not a materialized
    view."""
    meta = _read_sidecar(spark, name)
    return meta["query"] if meta else None


def _write_sidecar(
    spark: SparkSession, name: str, query: str, **extra
) -> None:
    path = _sidecar_path(spark, name)
    jvm, fs, p = _fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(
            bytearray(
                json.dumps({"query": query, **extra}).encode("utf-8")
            )
        )
    finally:
        out.close()


# -- incremental maintenance --------------------------------------------------
#
# For single-table GROUP BY views over decomposable aggregates, a base
# write can be folded into the view WITHOUT recomputing it: the version
# manifests say exactly which files were added and removed since the
# view's recorded base snapshot, and only those files are read. At
# 100 TB this is the difference between a rollup refresh that scans a
# day's new partition and one that rescans the warehouse. Appends merge
# per group; deletes/rewrites maintain differentially — added rows
# weigh +1 and removed rows -1 in one signed aggregation (the counting
# algorithm, Gupta/Mumick SIGMOD '93), with a hidden per-group state
# sidecar (_state_specs) carrying group liveness and the sum/count
# decompositions that make the fold exact, incl. NULL restoration and
# group retirement. min/max deletion isn't invertible, so the groups
# that truly lost rows recompute from the current base snapshot while
# every other group still merges incrementally (refresh_incremental).

_MERGEABLE_AGGS = ("count", "sum", "min", "max", "avg", "approx_count_distinct")

_INC_VIEW_RE = re.compile(
    r"^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<table>[\w.`\"]+)\s*"
    r"(?:WHERE\s+(?P<pred>.+?)\s*)?GROUP\s+BY\s+(?P<groups>[\w.`\",\s]+?)"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# Equi-join chain shape (r7): SELECT <items> FROM T0 JOIN T1 ON x = y
# [JOIN T2 ON ...]* [WHERE p] GROUP BY <cols>. Maintained via the
# multilinear telescoping delta (Griffin/Libkin; Gupta/Mumick),
# generalizing the two-table bilinear identity A2⋈B2 − A1⋈B1 =
# ΔA⋈B2 + A1⋈ΔB to n tables:
#
#   V2 − V1 = Σ_i  T0@old ⋈ … ⋈ T(i-1)@old ⋈ ΔTi ⋈ T(i+1)@new ⋈ … ⋈ Tn@new
#
# (each cross term between two deltas rides exactly once inside the
# earlier-indexed term). The signed join delta feeds the SAME
# counting-algorithm aggregation the single-table path uses. ON columns
# must be bare identifiers, every ON must link the joined table to some
# earlier table in the chain, and all tables' column sets must be
# pairwise disjoint (checked at stamp time — ambiguous definitions fall
# back to full refresh).
_INC_JOIN_RE = re.compile(
    r"^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<from>[\w.`\"]+"
    r"(?:\s+(?:INNER\s+)?JOIN\s+[\w.`\"]+\s+ON\s+"
    r"[\w`\"]+\s*=\s*[\w`\"]+)+)\s+"
    r"(?:WHERE\s+(?P<pred>.+?)\s*)?GROUP\s+BY\s+(?P<groups>[\w.`\",\s]+?)"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_JOIN_SEG_RE = re.compile(
    r"\s+(?:INNER\s+)?JOIN\s+(?P<table>[\w.`\"]+)\s+ON\s+"
    r"(?P<lon>[\w`\"]+)\s*=\s*(?P<ron>[\w`\"]+)",
    re.IGNORECASE,
)
_AGG_ITEM_RE = re.compile(
    r"^\s*(?P<fn>approx_count_distinct|count|sum|min|max|avg)\s*"
    r"\((?P<arg>.+)\)\s+AS\s+"
    r"(?P<alias>[\w`\"]+)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_IDENT_RE = re.compile(r"^\s*[\w`\".]+\s*$")

# The delta fold re-evaluates the predicate and aggregate arguments at
# REFRESH time against only the appended rows, so they must be pure
# functions of the row: a subquery re-reads ANOTHER table as of refresh
# time, and a non-deterministic function re-reads the clock/RNG —
# either silently diverges the view from a full recompute. Such
# definitions force the loud full-refresh fallback.
_NONDET_RE = re.compile(
    r"\b(current_date|current_timestamp|current_time|localtimestamp|"
    r"now|today|rand|randn|random|uuid|unix_timestamp|shuffle|"
    r"monotonically_increasing_id|input_file_name)\b",
    re.IGNORECASE,
)
_SUBQUERY_RE = re.compile(r"\bselect\b", re.IGNORECASE)


def _impure(expr: str | None) -> bool:
    return bool(expr) and bool(
        _SUBQUERY_RE.search(expr) or _NONDET_RE.search(expr)
    )


def _split_depth0(body: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def parse_incremental(query: str) -> dict | None:
    """Decompose a defining query into the shape incremental refresh
    can maintain: ``SELECT <group cols + mergeable aggs> FROM t [WHERE
    p] GROUP BY <cols>`` — single-table, or (r7) an equi-join chain
    ``FROM t0 JOIN t1 ON x = y [JOIN t2 ON ...]*`` with bare
    unqualified ON columns — aggs in count/sum/min/max/avg (avg
    decomposes into a sum+count merge carried in the hidden state
    sidecar), every agg aliased, group items bare identifiers, and the
    predicate + agg arguments pure row functions (no subqueries, no
    non-deterministic functions — see ``_impure``). Returns ``{base,
    pred, groups, aggs: [(fn, arg, alias)], items, groups_raw}`` (+
    ``joins: [{table, on_l, on_r}]``/``from_sql`` for join shapes, and
    legacy ``base2``/``on_l``/``on_r`` when the chain is exactly two
    tables) or None when the query is outside the supported shape
    (caller falls back loudly to full refresh)."""
    m = _INC_VIEW_RE.match(query)
    mj = None if m else _INC_JOIN_RE.match(query)
    if mj is not None:
        m = mj
    if not m:
        return None
    groups = [g.strip().strip('`"') for g in m.group("groups").split(",")]
    # bare identifiers only: a qualified group item (t.day) outputs its
    # bare name, which would desync every by-name path downstream
    # (state slicing, merge selects) — such definitions refresh fully
    if not all(
        _IDENT_RE.match(g) and "(" not in g and "." not in g for g in groups
    ):
        return None
    pred = (m.group("pred") or "").strip() or None
    if _impure(pred):
        return None
    aggs: list[tuple[str, str, str]] = []
    plain: list[str] = []
    for item in _split_depth0(m.group("items")):
        am = _AGG_ITEM_RE.match(item)
        if am:
            aggs.append(
                (
                    am.group("fn").lower(),
                    am.group("arg").strip(),
                    am.group("alias").strip('`"'),
                )
            )
            continue
        if _IDENT_RE.match(item):
            plain.append(item.strip().strip('`"'))
            continue
        return None  # expression we can't merge (distinct, udaf, ...)
    if not aggs:
        return None
    if {p.lower() for p in plain} - {g.lower() for g in groups}:
        return None  # non-grouped bare column (invalid SQL anyway)
    for _, arg, _ in aggs:
        if re.search(r"\bdistinct\b", arg, re.IGNORECASE):
            return None  # count(DISTINCT ...) is not mergeable
        if _impure(arg):
            return None
    out = {
        "pred": pred,
        "groups": groups,
        "aggs": aggs,
        # raw text for rebuilding the defining SELECT over a pinned
        # snapshot of the base (same item order = same view schema)
        "items": m.group("items"),
        "groups_raw": m.group("groups").strip(),
    }
    if mj is None:
        out["base"] = m.group("table").strip('`"')
        return out
    from_txt = mj.group("from")
    head = re.match(r"^\s*([\w.`\"]+)", from_txt).group(1)
    out["base"] = head.strip('`"')
    joins = []
    for seg in _JOIN_SEG_RE.finditer(from_txt):
        on_l = seg.group("lon").strip('`"')
        on_r = seg.group("ron").strip('`"')
        # bare identifiers only, same rationale as group items: the
        # delta evaluation joins plain DataFrames whose column
        # namespaces are flat
        if not all(
            _IDENT_RE.match(c) and "." not in c for c in (on_l, on_r)
        ):
            return None
        joins.append(
            {
                "table": seg.group("table").strip('`"'),
                "on_l": on_l,
                "on_r": on_r,
            }
        )
    out["joins"] = joins
    out["from_sql"] = from_txt.strip()
    if len(joins) == 1:
        # legacy two-table fields (pre-n-ary sidecars / callers)
        out["base2"] = joins[0]["table"]
        out["on_l"], out["on_r"] = joins[0]["on_l"], joins[0]["on_r"]
    return out


def _base_stamp(spark: SparkSession, query: str) -> dict:
    """Sidecar fields recording the base snapshot(s) the view's
    contents reflect — only for incrementally-maintainable definitions
    over version-tracked bases. Join definitions stamp BOTH tables and
    additionally require disjoint column sets (a shared column name
    would make the flat post-join namespace of the delta evaluation
    ambiguous) and ON columns that resolve one-per-side; anything else
    returns no stamp, which routes every later refresh through the
    full-recompute path."""
    from swanlake_spark import versions

    shape = parse_incremental(query)
    if shape is None:
        return {}
    v = versions.current_version(spark, shape["base"])
    if v == 0:
        return {}  # base not snapshot-tracked: no delta identity
    if not shape.get("joins"):
        return {"base_table": shape["base"], "base_version": v}
    tables = [shape["base"]] + [j["table"] for j in shape["joins"]]
    vers = [v]
    for t in tables[1:]:
        tv = versions.current_version(spark, t)
        if tv == 0:
            return {}
        vers.append(tv)
    colsets: list[set[str]] = []
    for t in tables:
        try:
            cols = {f.name.lower() for f in spark.table(t).schema.fields}
        except Exception:  # noqa: BLE001 — unresolvable base: no stamp
            return {}
        if any(cols & prev for prev in colsets):
            return {}  # shared column name: flat delta namespace ambiguous
        colsets.append(cols)
    # every ON must resolve one side in the joined table and the other
    # in SOME earlier table of the chain (star schemas link each dim to
    # the fact; snowflakes link dim-to-dim — both are chains here)
    seen = set(colsets[0])
    for i, j in enumerate(shape["joins"]):
        lon, ron = j["on_l"].lower(), j["on_r"].lower()
        tc = colsets[i + 1]
        if not ((lon in seen and ron in tc) or (lon in tc and ron in seen)):
            return {}
        seen |= tc
    stamp = {
        "base_table": tables[0],
        "base_version": vers[0],
        "bases": [
            {"table": t, "version": tv} for t, tv in zip(tables, vers)
        ],
    }
    if len(tables) == 2:  # legacy two-table fields for older readers
        stamp["base2_table"] = tables[1]
        stamp["base2_version"] = vers[1]
    return stamp


def _meta_bases(meta: dict) -> list[tuple[str, int]]:
    """The (table, version) base list a sidecar/stamp records —
    ``bases`` when present (n-ary join views), else reconstructed from
    the legacy single/two-table fields."""
    if meta.get("bases"):
        return [(b["table"], b["version"]) for b in meta["bases"]]
    out = [(meta["base_table"], meta["base_version"])]
    if meta.get("base2_table"):
        out.append((meta["base2_table"], meta["base2_version"]))
    return out


def _stamp_still_current(spark: SparkSession, stamp: dict) -> bool:
    """True when every stamped base is still at its stamped version —
    the unpinned-materialization race check, per base."""
    from swanlake_spark import versions

    return all(
        versions.current_version(spark, t) == v
        for t, v in _meta_bases(stamp)
    )


def _stamp_state_key(stamp: dict):
    """State-directory key for a stamp: the base version, or the
    ``<v1>_<v2>[_<v3>...]`` composite for join views (every base
    snapshot identifies the state)."""
    bases = _meta_bases(stamp)
    if len(bases) == 1:
        return bases[0][1]
    return "_".join(str(v) for _t, v in bases)


def _materialize(
    spark: SparkSession, q: str, stamp: dict
) -> tuple[DataFrame, DataFrame | None, bool]:
    """Evaluate the defining query — and, when the definition carries
    ``avg`` aggregates, its hidden merge-state twin (per-group sum +
    count for every avg) — against EXACTLY the stamped base snapshot.

    The stamp is taken from the version manifests, so an unpinned
    ``spark.sql(q)`` read could include an append published between the
    stamp and the scan while the stamp predates it: the next
    INCREMENTAL refresh would fold those same files again (silent
    double-counting). Pinning closes the window: a temp view named
    like the base shadows the catalog table with
    ``versions.read_version`` of the stamped snapshot, so the stored
    stamp matches the materialized contents exactly. Returns
    ``(view_df, state_df | None, pinned, combined)``; ``combined`` (or
    None when no avg state is needed) is ONE projection carrying the
    view columns followed by the state components — view_df and
    state_df are column slices of it, so the base aggregates once per
    execution instead of once per output, and a small-refresh publish
    can serve both writes from a single Arrow collect. Callers on the
    unpinned path (no stamp, or a db-qualified base name temp views
    cannot shadow) must re-validate the stamp after materializing."""
    shape = parse_incremental(q) if stamp else None

    def _build(base_name):
        df = spark.sql(q)
        if not shape:
            return df, None, None
        items = [
            _rewrite_acd_items(shape)
            if _acd_specs(shape)
            else shape["items"]
        ]
        state_names = []
        for expr, alias in _state_specs(shape):
            items.append(f"{expr} AS `{alias}`")
            state_names.append(alias)
        from_txt = shape.get("from_sql") or base_name
        sel = f"SELECT {', '.join(items)} FROM {from_txt}"
        if shape["pred"]:
            sel += f" WHERE {shape['pred']}"
        sel += f" GROUP BY {shape['groups_raw']}"
        combined = spark.sql(sel)
        view_cols = df.columns
        # qualified group items (t.day) output their bare name
        bare_groups = [g.split(".")[-1] for g in shape["groups"]]
        return (
            combined.select(*view_cols),
            combined.select(*bare_groups, *state_names),
            combined,
        )

    unpinnable = (
        not stamp
        or shape is None
        or any("." in t for t, _v in _meta_bases(stamp))
    )
    if unpinnable:
        df, state, combined = _build(shape["base"] if shape else None)
        return df, state, False, combined
    from swanlake_spark import versions
    from swanlake_spark.operators.dml import forget_meta

    base = stamp["base_table"]
    pins = _meta_bases(stamp)
    for t, v in pins:
        versions.read_version(spark, t, v).createOrReplaceTempView(t)
    forget_meta(spark)  # the views shadow the base tables meanwhile
    try:
        # analysis (temp-view resolution) happens eagerly in spark.sql
        df, state, combined = _build(base)
    finally:
        for t, _v in pins:
            spark.catalog.dropTempView(t)
        forget_meta(spark)
    return df, state, True, combined


# -- hidden avg merge state ---------------------------------------------------
#
# avg decomposes exactly into sum+count, but the published view stores
# only the quotient — the components live in a state sidecar parquet
# under ``<view>/_swl_matview_state/v<base_version>`` (the leading "_"
# hides the directory from table scans, the Hadoop hidden-file
# convention). Refresh merges state, derives the avg column from the
# merged components, and writes the next state dir keyed by the new
# base version — a crash between state write and sidecar publish
# leaves the OLD sidecar pointing at the OLD state, still consistent.

_STATE_DIR = "_swl_matview_state"

# A join-delta side at or under this many file bytes ships as an
# explicit broadcast in the bilinear join delta (refresh_incremental):
# the common fact-append refresh then joins the appended files against
# the dim snapshot with no shuffle at all.
_JOIN_DELTA_BROADCAST_MAX = 64 * 1024 * 1024

# A dim-side delta's distinct link keys, when at most this many,
# are pushed into the anchor owning the join column as a LITERAL In
# filter — it reaches the parquet scan (PushedFilters), so row-group
# min/max stats skip the untouched bulk of a huge fact anchor instead
# of scanning it (the classic IVM dim-delta asymmetry). Above the cap
# the term falls back to the plain anchor join (still delta-driven).
_DIM_PRUNE_KEY_CAP = 10_000

# Test hook: when a list, each join-delta term's formatted physical
# plan is appended (tests assert the pushed key filter reaches the
# fact scan). None in production — zero cost.
_JOIN_TERM_PLAN_SINK: list | None = None


def _avg_specs(shape: dict) -> list[tuple[str, str]]:
    return [(arg, a) for fn, arg, a in shape["aggs"] if fn == "avg"]


def _acd_specs(shape: dict) -> list[tuple[str, str]]:
    """approx_count_distinct aggregates (r7): maintained through a
    mergeable DataSketches HLL state column. HLL registers are
    per-item maxima, so sketch union is exactly order- and
    partition-independent: estimate(union of delta sketches) is
    BIT-IDENTICAL to estimate(sketch of the full base) — incremental
    and full refresh can never drift (verified by the parity tests).
    The defining query's ``approx_count_distinct`` is translated to
    ``hll_sketch_estimate(hll_sketch_agg(...))`` at materialize time so
    the ESTIMATOR is the same on every path (Spark's native
    approx_count_distinct is a different HLL++ implementation whose
    estimates differ from DataSketches')."""
    return [
        (arg, a)
        for fn, arg, a in shape["aggs"]
        if fn == "approx_count_distinct"
    ]


def _acd_view_expr(arg: str) -> str:
    """The view-column expression for an approx_count_distinct item —
    coalesce keeps the SQL convention that a group with only NULL
    arguments counts 0 distinct values (a NULL sketch estimates
    NULL)."""
    return (
        f"coalesce(hll_sketch_estimate(hll_sketch_agg({arg})), 0)"
    )


def _rewrite_acd_items(shape: dict) -> str:
    """The defining query's item list with every approx_count_distinct
    replaced by its DataSketches twin (column order preserved)."""
    out = []
    for item in _split_depth0(shape["items"]):
        am = _AGG_ITEM_RE.match(item)
        if am and am.group("fn").lower() == "approx_count_distinct":
            out.append(
                f'{_acd_view_expr(am.group("arg").strip())} '
                f'AS {am.group("alias")}'
            )
        else:
            out.append(item.strip())
    return ", ".join(out)


def _state_path(
    spark: SparkSession,
    name: str,
    base_version: int,
    loc: str | None = None,
) -> str:
    if loc is None:
        from swanlake_spark.operators.dml import _table_meta

        loc = _table_meta(spark, name)[0]
    return f"{loc.rstrip('/')}/{_STATE_DIR}/v{base_version}"


def _state_specs(shape: dict) -> list[tuple[str, str]]:
    """Hidden per-group merge-state components for a maintainable
    shape: group liveness (``count(*)`` — a group leaves the view
    exactly when its live-row count reaches zero), the sum+count
    decomposition for every ``avg``, and the NULL-restoring
    ``count(arg)`` for every ``sum`` (a sum reverts to NULL when the
    last non-NULL argument row is deleted) — everything differential
    (delete-capable) maintenance needs; the counting algorithm of
    Gupta/Mumick/Subrahmanian, "Maintaining Views Incrementally"
    (SIGMOD '93)."""
    specs = [("count(*)", "__swl_rows")]
    for fn, arg, alias in shape["aggs"]:
        if fn == "avg":
            specs.append((f"sum({arg})", f"__swl_sum__{alias}"))
            specs.append((f"count({arg})", f"__swl_cnt__{alias}"))
        elif fn == "sum":
            specs.append((f"count({arg})", f"__swl_cnt__{alias}"))
        elif fn == "approx_count_distinct":
            specs.append(
                (f"hll_sketch_agg({arg})", f"__swl_hll__{alias}")
            )
    return specs


def _publish_state(
    spark: SparkSession,
    name: str,
    state: DataFrame | None,
    base_version: int,
    sweep: bool = True,
    in_bytes: float = math.inf,
    loc: str | None = None,
) -> None:
    """Write the avg merge state keyed by the base version it reflects
    and (unless deferred — incremental refresh sweeps only after every
    plan reading the OLD state has executed) sweep older state dirs
    (tiny, view-sized parquet). ``in_bytes``, the size of the files the
    state is computed from when the caller measured it, lets the write
    take the single-Arrow-collect fast path (:func:`_driver_parquet_write`)."""
    if state is None:
        return
    path = _state_path(spark, name, base_version, loc)
    if not _driver_parquet_write(path, state, in_bytes):
        state.write.mode("overwrite").parquet(path)
    if sweep:
        _sweep_state(spark, name, base_version, loc)


def _total_bytes(spark: SparkSession, paths: list[str]) -> int:
    import os as _os

    from swanlake_spark.operators.dml import _local_os_path

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in paths:
        osp = _local_os_path(f)
        if osp is not None:
            total += _os.stat(osp).st_size  # one syscall vs ~2 ms Py4J
            continue
        p = jvm.org.apache.hadoop.fs.Path(f)
        total += int(p.getFileSystem(conf).getFileStatus(p).getLen())
    return total


def _write_arrow_dir(path: str, tbl) -> bool:
    """Write an Arrow table as one parquet file under a FRESH ``path``
    dir (``dml._write_staged_arrow``) — no output committer, no task
    scheduling, the driver-side write of point DML (``dml._cow``).
    Local-scheme only (pyarrow writes OS paths)."""
    import os
    import shutil

    from swanlake_spark.operators import dml

    base = dml._local_os_path(path)
    if base is None:
        return False
    try:
        if os.path.isdir(base):
            shutil.rmtree(base)
        dml._write_staged_arrow(base, tbl)
        return True
    except Exception:
        import logging

        logging.getLogger(__name__).warning(
            "driver-side parquet write fell back to the distributed path",
            exc_info=True,
        )
        return False


def _driver_parquet_write(path: str, df, in_bytes: float) -> bool:
    """``df`` collected through point DML's guard (``dml._driver_rows``,
    given the ``in_bytes`` it is computed from) and written under
    ``path`` (:func:`_write_arrow_dir`); False when either refuses."""
    from swanlake_spark.operators import dml

    tbl = dml._driver_rows(df, in_bytes, path)
    return tbl is not None and _write_arrow_dir(path, tbl)


def _sweep_state(
    spark: SparkSession,
    name: str,
    keep_version: int,
    loc: str | None = None,
) -> None:
    path = _state_path(spark, name, keep_version, loc)
    jvm, fs, _ = _fs(spark, path)
    parent = jvm.org.apache.hadoop.fs.Path(path).getParent()
    if not fs.exists(parent):
        return
    for st in fs.listStatus(parent):
        child = st.getPath()
        if child.getName() != f"v{keep_version}":
            fs.delete(child, True)


def _wsigned(expr: str) -> str:
    """Sign-adjusted aggregate argument for the weighted delta fold:
    delta rows carry ``_swl_w`` = +1 (added file) / -1 (removed file).
    CASE + unary minus rather than ``expr * w``: negation preserves a
    decimal's exact precision/scale, while decimal×int widens past the
    38-digit cap and truncates scale."""
    return f"CASE WHEN _swl_w > 0 THEN ({expr}) ELSE -({expr}) END"


def _wcount(arg: str) -> str:
    """Signed count contribution of one delta row for ``count(arg)``."""
    a = arg.strip()
    if a == "*":
        return "_swl_w"
    return f"CASE WHEN ({a}) IS NOT NULL THEN _swl_w ELSE 0 END"


def _delta_agg(delta, shape: dict, weighted: bool, state_mode: str):
    """ONE aggregation over the delta rows (map-side combined — the
    only shuffle the differential path pays on data). ``weighted``
    folds added and removed rows together with signs, so
    rewritten-but-unchanged rows cancel algebraically and the merged
    deltas can be negative; min/max never take the weighted path (their
    deltas aren't invertible — the hybrid path recomputes affected
    groups instead)."""
    from pyspark.sql import functions as F

    exprs = []
    for fn, arg, alias in shape["aggs"]:
        if fn == "avg":
            exprs.append(F.expr(
                f"sum({_wsigned(arg)})" if weighted else f"sum({arg})"
            ).alias(f"__swl_sum__{alias}"))
            exprs.append(F.expr(
                f"sum({_wcount(arg)})" if weighted else f"count({arg})"
            ).alias(f"__swl_cnt__{alias}"))
            continue
        if fn == "approx_count_distinct":
            # append-only by construction (removals route through the
            # recompute path — HLL can't subtract); the delta is just
            # the mergeable sketch, the estimate derives at merge time
            exprs.append(
                F.expr(f"hll_sketch_agg({arg})").alias(
                    f"__swl_hll__{alias}"
                )
            )
            continue
        if fn == "count":
            e = f"sum({_wcount(arg)})" if weighted else f"count({arg})"
        elif fn == "sum":
            e = f"sum({_wsigned(arg)})" if weighted else f"sum({arg})"
        else:  # min/max — append-only deltas here by construction
            e = f"{fn}({arg})"
        exprs.append(F.expr(e).alias(alias))
        if fn == "sum" and state_mode == "full":
            exprs.append(F.expr(
                f"sum({_wcount(arg)})" if weighted else f"count({arg})"
            ).alias(f"__swl_cnt__{alias}"))
    if state_mode == "full":
        exprs.append(F.expr(
            "sum(_swl_w)" if weighted else "count(*)"
        ).alias("__swl_rows"))
    return delta.groupBy(*shape["groups"]).agg(*exprs)


def _merge_exprs(
    o, d, shape: dict, gl: list, dgl: list, view_types: dict,
    state_types: dict, state_mode: str,
):
    """Per-column merge expressions folding a delta aggregate ``d``
    into the current view+state ``o`` (full-outer joined by the
    caller). Returns (merged view columns, merged state columns).

    With full state the sum/avg results derive from merged components
    (``count`` restores NULL when the last non-NULL argument leaves;
    ``__swl_rows`` reaching zero drops the group — the caller filters).
    Every merged column casts back to the view/state's exact type:
    decimal arithmetic widens per merge, and the COW publish renames
    staged files in verbatim, so a widened physical type under the
    narrower table schema would break the next scan."""
    from pyspark.sql import functions as F

    merged = [
        F.coalesce(o[g], d[dg]).alias(g) for g, dg in zip(gl, dgl)
    ]
    state_cols = []
    for fn, _arg, alias in shape["aggs"]:
        if fn == "avg":
            so, sd = o[f"__swl_sum__{alias}"], d[f"__swl_sum__{alias}"]
            co, cd = o[f"__swl_cnt__{alias}"], d[f"__swl_cnt__{alias}"]
            sum_t = (
                F.when(so.isNull(), sd)
                .when(sd.isNull(), so)
                .otherwise(so + sd)
            )
            cnt_t = F.coalesce(co, F.lit(0)) + F.coalesce(cd, F.lit(0))
            e = F.when(cnt_t == 0, F.lit(None)).otherwise(
                (sum_t / cnt_t).cast(view_types[alias])
            )
            state_cols.append(
                sum_t.cast(state_types[f"__swl_sum__{alias}"]).alias(
                    f"__swl_sum__{alias}"
                )
            )
            state_cols.append(
                cnt_t.cast("long").alias(f"__swl_cnt__{alias}")
            )
        elif fn == "approx_count_distinct":
            ho, hd = o[f"__swl_hll__{alias}"], d[f"__swl_hll__{alias}"]
            sk = (
                F.when(ho.isNull(), hd)
                .when(hd.isNull(), ho)
                .otherwise(F.hll_union(ho, hd))
            )
            e = F.coalesce(F.hll_sketch_estimate(sk), F.lit(0))
            state_cols.append(sk.alias(f"__swl_hll__{alias}"))
        elif fn == "count":
            e = F.coalesce(o[alias], F.lit(0)) + F.coalesce(d[alias], F.lit(0))
        elif fn == "sum":
            oc, dc = o[alias], d[alias]
            sum_t = (
                F.when(oc.isNull(), dc)
                .when(dc.isNull(), oc)
                .otherwise(oc + dc)
            )
            if state_mode == "full":
                co = o[f"__swl_cnt__{alias}"]
                cd = d[f"__swl_cnt__{alias}"]
                cnt_t = F.coalesce(co, F.lit(0)) + F.coalesce(cd, F.lit(0))
                e = F.when(cnt_t == 0, F.lit(None)).otherwise(sum_t)
                state_cols.append(
                    cnt_t.cast("long").alias(f"__swl_cnt__{alias}")
                )
            else:
                e = sum_t
        else:  # min / max — d only ever aggregates appended rows here
            oc, dc = o[alias], d[alias]
            cmb = F.least if fn == "min" else F.greatest
            e = (
                F.when(oc.isNull(), dc)
                .when(dc.isNull(), oc)
                .otherwise(cmb(oc, dc))
            )
        merged.append(e.cast(view_types[alias]).alias(alias))
    if state_mode == "full":
        state_cols.append(
            (
                F.coalesce(o["__swl_rows"], F.lit(0))
                + F.coalesce(d["__swl_rows"], F.lit(0))
            ).cast("long").alias("__swl_rows")
        )
    return merged, state_cols


def _read_delta(
    spark: SparkSession, base: str, names, label: str, loc: str | None = None
):
    """Rows of an explicit set of base-table file names (live or
    retained — retirement mirrors the table-relative path, so
    partition values survive), in the base's column order."""
    from swanlake_spark import versions

    # pinning the CURRENT catalog schema on the read skips one parquet
    # schema-inference driver job per delta (r12); the .select below
    # pinned it anyway
    sch = spark.table(base).schema
    files = versions._resolve_names(spark, base, sorted(names), label, loc)
    df = versions._read_files(spark, base, files, loc, sch)
    return df.select(*[f.name for f in sch.fields])


def _nullsafe_on(left, right, lcols, rcols=None):
    cond = None
    for lg, rg in zip(lcols, rcols or lcols):
        c = left[lg].eqNullSafe(right[rg])
        cond = c if cond is None else cond & c
    return cond


def _rename_delta_groups(d, gl):
    """Alias the delta aggregate's group columns to fresh names (and
    fresh attribute ids): the delta's scan lineage can also appear
    inside the other side of the merge join (hybrid path), and a join
    condition referencing a same-id attribute on both sides is an
    ambiguous self-join."""
    from pyspark.sql import functions as F

    dgl = [f"__swl_d_{i}" for i in range(len(gl))]
    return (
        d.select(
            *[F.col(g).alias(a) for g, a in zip(gl, dgl)],
            *[c for c in d.columns if c not in gl],
        ),
        dgl,
    )


def refresh_incremental(spark: SparkSession, name: str) -> int:
    """REFRESH MATERIALIZED VIEW ... INCREMENTAL: fold the base-table
    file delta since the recorded snapshot into the view without
    rescanning the base (see module section comment). Returns the
    number of changed base files folded in (0 = nothing to do).

    Maintenance strategy by delta shape:

    - **Appends only** (files added): aggregate just the added files,
      merge per group — the r5 path, unchanged semantics.
    - **Deletes/rewrites, additive aggregates** (count/sum/avg): the
      counting algorithm — added rows weigh +1, removed rows -1, ONE
      signed aggregation over only the changed files, merged into the
      view. Rewritten-but-unchanged rows cancel algebraically (a
      compaction nets to zero), ``count(arg)`` state restores
      NULL-when-empty sums/avgs, and ``__swl_rows`` hitting zero
      retires the group. No base rescan, ever.
    - **Deletes/rewrites with min/max**: deletion isn't invertible for
      extrema, so the groups that actually lost rows (net-delete rows
      after the exceptAll cancellation) recompute from the current base
      snapshot — a semi-join-pruned scan — while every other group
      merges its net-added rows incrementally.

    Requires the full merge state (written by every create/refresh
    since differential support); raises InvalidArgument — demanding a
    full REFRESH — when the definition isn't mergeable, the base isn't
    snapshot-tracked, or the state predates differential support."""
    from pyspark.sql import functions as F

    from swanlake_spark import versions
    from swanlake_spark.operators import dml

    meta = _read_sidecar(spark, name)
    if meta is None:
        raise NotFound(f"{name} is not a materialized view")
    q = meta["query"]
    shape = parse_incremental(q)
    if shape is None:
        raise InvalidArgument(
            f"{name} is not incrementally maintainable (supported: "
            f"single-table or two-table-equi-join GROUP BY with "
            f"count/sum/min/max/avg aggregates over deterministic, "
            f"subquery-free arguments); "
            f"run REFRESH MATERIALIZED VIEW {name}"
        )
    base, base_v = meta.get("base_table"), meta.get("base_version")
    if base is None or base_v is None:
        raise InvalidArgument(
            f"{name} has no recorded base snapshot (base table was not "
            f"snapshot-tracked at the last refresh); run a full REFRESH"
        )
    is_join = bool(shape.get("joins"))
    stamped = _meta_bases(meta)
    if is_join and len(stamped) != 1 + len(shape["joins"]):
        raise InvalidArgument(
            f"{name} is a join view without a recorded snapshot for "
            f"every base (created before join maintenance support, or "
            f"the stamp was dropped — ambiguous columns / untracked "
            f"base); run a full REFRESH to establish it"
        )
    # one DESCRIBE per table for the whole refresh: every versions/
    # state helper below takes the threaded location (the metadata tax
    # otherwise dominates a small refresh — measured ~0.7 s of DESCRIBE
    # + repeat resolution on a 30-group rollup)
    view_loc = dml._table_meta(spark, name)[0]

    def _snap_diff(tbl, stamped_v, loc):
        cur = versions.current_version(spark, tbl, loc)
        try:
            old_n = set(
                versions.snapshot_file_names(spark, tbl, stamped_v, loc)
            )
        except NotFound as exc:
            # the stamped snapshot was reclaimed by expire/VACUUM
            # RETAIN: the delta baseline is gone, so incremental can't
            # proceed — say exactly that instead of a bare
            # missing-manifest error
            raise InvalidArgument(
                f"{name}'s recorded base snapshot v{stamped_v} of "
                f"{tbl} has been expired (snapshot retention ran since "
                f"the last refresh); run REFRESH MATERIALIZED VIEW "
                f"{name} to re-baseline"
            ) from exc
        cur_n = set(versions.snapshot_file_names(spark, tbl, cur, loc))
        return cur, old_n, old_n - cur_n, cur_n - old_n

    # per-base snapshot state for the whole refresh: stamped version,
    # current version, resolved location, old-snapshot names, and the
    # removed/added file-name delta
    tinfo: list[dict] = []
    for tbl, sv in stamped:
        loc = dml._table_meta(spark, tbl)[0]
        cur, old_n, rem, add = _snap_diff(tbl, sv, loc)
        tinfo.append(
            dict(tbl=tbl, sv=sv, cur=cur, loc=loc, old=old_n,
                 rem=rem, add=add)
        )
    t0 = tinfo[0]
    base_loc = t0["loc"]
    cur_v, old_names = t0["cur"], t0["old"]
    removed_names, added_names = t0["rem"], t0["add"]
    if not any(t["rem"] or t["add"] for t in tinfo):
        return 0
    removed_any = any(t["rem"] for t in tinfo)
    key_old = (
        "_".join(str(t["sv"]) for t in tinfo) if is_join else base_v
    )
    key_new = (
        "_".join(str(t["cur"]) for t in tinfo) if is_join else cur_v
    )
    gl = [g for g in shape["groups"]]
    avgs = _avg_specs(shape)
    acds = _acd_specs(shape)
    # aggregates whose deletes aren't invertible: min/max (no inverse
    # for extrema) and approx_count_distinct (HLL registers are maxima
    # — no subtraction); removals route their affected groups through
    # the recompute path
    has_minmax = bool(acds) or any(
        fn in ("min", "max") for fn, _, _ in shape["aggs"]
    )

    # merge state for the stamped snapshot (see _state_specs): absent
    # for views untouched since before state support; avg-components
    # only ("legacy") for avg views from before differential support
    try:
        s = spark.read.parquet(_state_path(spark, name, key_old, view_loc))
    except Exception:  # noqa: BLE001 — state dir absent
        s = None
    state_mode = "none"
    if s is not None:
        state_mode = "full" if "__swl_rows" in s.columns else "legacy"
    if (avgs or acds) and s is None:
        raise InvalidArgument(
            f"{name} has avg/approx_count_distinct aggregates but no "
            f"merge state for base snapshot v{key_old} (view predates "
            f"state support or state was removed); run a full REFRESH"
        )
    if removed_any and state_mode != "full":
        raise InvalidArgument(
            f"a base table of {name} was rewritten (UPDATE/DELETE/"
            f"compaction) since the last refresh, and the view's merge "
            f"state predates differential (delete-capable) maintenance; "
            f"run a full REFRESH once to establish it"
        )

    if is_join:
        # Multilinear join delta (module section comment): the
        # telescoping sum over tables i anchors every earlier table at
        # its OLD snapshot and every later table at its NEW snapshot,
        # so each cross term between two deltas rides exactly once
        # (inside the earlier-indexed term). Signs distribute: the
        # inserted side of the view's join input unions the ΔTi⁺ terms,
        # the deleted side the ΔTi⁻ terms; rewritten-but-unchanged rows
        # cancel downstream the same way single-table deltas do
        # (weighted agg / exceptAll netting). Cost model: a fact-side
        # delta scans the dim anchors once per refresh (dim-scan per
        # refresh); a dim-side delta's term prunes the fact anchor by
        # the delta's link keys pushed as a literal In filter
        # (_prune_keys / _term), so the anchor scan row-group-skips
        # everything the dim correction doesn't touch — the classic
        # IVM asymmetry reduced to key-local fact I/O. Delta sides
        # under the broadcast bound ship as broadcasts.
        ntab = len(tinfo)
        _anchors: dict[tuple[int, str], DataFrame] = {}

        def _anchor(j: int, which: str) -> DataFrame:
            if (j, which) not in _anchors:
                t = tinfo[j]
                v = t["sv"] if which == "old" else t["cur"]
                # both anchors read with the schema their manifest
                # records, so a concurrent ALTER cannot split a
                # snapshot's files from its schema, and no parquet
                # schema-inference job runs
                _anchors[(j, which)] = versions.read_version(
                    spark, t["tbl"], v, t["loc"]
                )
            return _anchors[(j, which)]

        schemas = [_anchor(j, "new").schema for j in range(ntab)]
        colsets = [{f.name.lower() for f in sch.fields} for sch in schemas]
        # normalize each ON so lcol lives in the earlier chain prefix
        # and rcol in the joined table (stamp time validated this)
        conds: list[tuple[str, str]] = []
        seen: set[str] = set(colsets[0])
        for i, j in enumerate(shape["joins"]):
            lon, ron = j["on_l"], j["on_r"]
            if lon.lower() not in seen:
                lon, ron = ron, lon
            conds.append((lon, ron))
            seen |= colsets[i + 1]

        def _dside(tbl, names, label, loc):
            df = _read_delta(spark, tbl, names, label, loc)
            try:
                small_delta = _total_bytes(
                    spark,
                    versions._resolve_names(
                        spark, tbl, sorted(names), label, loc
                    ),
                ) <= _JOIN_DELTA_BROADCAST_MAX
            except Exception:  # noqa: BLE001 — size unknown: no hint
                small_delta = False
            return (F.broadcast(df) if small_delta else df), small_delta

        def _prune_keys(delta_df: DataFrame, small: bool, i: int):
            """Distinct link-key values of a DIM-side delta (i > 0),
            for literal pushdown into the anchor scan that owns the
            join column. Only broadcast-sized deltas are eligible (the
            collect is then bounded by the same budget as the
            broadcast itself); a delta with more than
            _DIM_PRUNE_KEY_CAP distinct keys returns None and the term
            joins unpruned."""
            if i == 0 or not small:
                return None
            # owner check BEFORE the collect: if no earlier anchor
            # carries the join column, the keys would be discarded —
            # don't pay a driver job to fetch them
            lcol = conds[i - 1][0]
            if not any(lcol.lower() in colsets[j] for j in range(i)):
                return None
            rcol = conds[i - 1][1]
            rows = (
                delta_df.select(rcol)
                .distinct()
                .limit(_DIM_PRUNE_KEY_CAP + 1)
                .collect()
            )
            if len(rows) > _DIM_PRUNE_KEY_CAP:
                return None
            # NULL link keys never survive the equality join, so
            # dropping them from the pushed filter is exact
            return [r[0] for r in rows if r[0] is not None]

        def _fold(frames: list[DataFrame]) -> DataFrame:
            acc = frames[0]
            for j in range(1, len(frames)):
                lcol, rcol = conds[j - 1]
                acc = acc.join(frames[j], acc[lcol] == frames[j][rcol])
            return acc

        def _term(i: int, delta_df: DataFrame, keys=None) -> DataFrame:
            frames = [
                _anchor(j, "old")
                if j < i
                else (delta_df if j == i else _anchor(j, "new"))
                for j in range(ntab)
            ]
            if keys is not None:
                # dim-delta prune: the anchor owning the link column
                # (the FACT in a star schema) only contributes rows
                # whose key the delta actually touches — push those
                # keys as a literal In so the parquet scan's row-group
                # stats skip everything else. A 10-row dim correction
                # then reads ~10 keys' worth of fact, not 100 TB.
                lcol = conds[i - 1][0]
                owner = next(
                    (j for j in range(i) if lcol.lower() in colsets[j]),
                    None,
                )
                if owner is not None:
                    frames[owner] = frames[owner].where(
                        F.col(lcol).isin(keys)
                    )
            out = _fold(frames)
            if _JOIN_TERM_PLAN_SINK is not None:
                je = out._jdf.queryExecution()
                mode = (
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")
                )
                _JOIN_TERM_PLAN_SINK.append(je.explainString(mode))
            return out

        ins_parts, dl_parts = [], []
        for i, t in enumerate(tinfo):
            if t["add"]:
                d, small = _dside(t["tbl"], t["add"], f'v{t["cur"]}', t["loc"])
                ins_parts.append(_term(i, d, _prune_keys(d, small, i)))
            if t["rem"]:
                d, small = _dside(t["tbl"], t["rem"], f'v{t["sv"]}', t["loc"])
                dl_parts.append(_term(i, d, _prune_keys(d, small, i)))

        def _union(parts):
            out = parts[0]
            for pce in parts[1:]:
                out = out.unionByName(pce)
            return out

        if ins_parts:
            ins = _union(ins_parts)
        else:
            # pure-removal delta: an empty, schema-correct insert side
            # (a local relation — never schedules the anchor scans)
            ins = spark.createDataFrame([], schema=dl_parts[0].schema)
        dl = _union(dl_parts) if dl_parts else None
    else:
        ins = _read_delta(spark, base, added_names, f"v{cur_v}", base_loc)
        dl = None
        if removed_names:
            dl = _read_delta(
                spark, base, removed_names, f"v{base_v}", base_loc
            )
    if shape["pred"]:
        ins = ins.filter(F.expr(shape["pred"]))
        if dl is not None:
            dl = dl.filter(F.expr(shape["pred"]))

    # Fast-publish eligibility, decided up front so the merge joins can
    # broadcast their (view-sized) sides too: when the CURRENT view +
    # changed files are within the point-DML driver-rewrite bound, the
    # merge plans as broadcast joins (no exchanges) and the view and
    # state publish through ONE Arrow collect instead of distributed
    # write jobs — a 4-row rollup refresh otherwise rides ~2 s of job
    # floor (SCALE.md r6 table). Beyond the bound, everything takes the
    # distributed path unchanged.
    # ONE catalog resolution of the view serves the eligibility probe,
    # the merge's old side, and the schema reads below (each
    # spark.table call is a ~25 ms analyze round trip)
    o = spark.table(name)
    try:
        in_paths = set(o.inputFiles())
        for t in tinfo:
            if t["add"]:
                in_paths.update(
                    versions._resolve_names(
                        spark, t["tbl"], sorted(t["add"]),
                        f'v{t["cur"]}', t["loc"],
                    )
                )
            if t["rem"]:
                in_paths.update(
                    versions._resolve_names(
                        spark, t["tbl"], sorted(t["rem"]),
                        f'v{t["sv"]}', t["loc"],
                    )
                )
        if is_join:
            # each table-i delta term also scans its anchors: every
            # earlier table at its OLD snapshot and every later table
            # at its NEW snapshot — count them toward the
            # driver-collect bound (a fact-only append therefore counts
            # the dim snapshots but never the fact's own old snapshot)
            def _snap_paths(j: int, which: str) -> list[str]:
                t = tinfo[j]
                v = t["sv"] if which == "old" else t["cur"]
                return versions._resolve_names(
                    spark,
                    t["tbl"],
                    sorted(
                        t["old"]
                        if which == "old"
                        else versions.snapshot_file_names(
                            spark, t["tbl"], v, t["loc"]
                        )
                    ),
                    f"v{v}",
                    t["loc"],
                )

            for i, t in enumerate(tinfo):
                if not (t["add"] or t["rem"]):
                    continue
                for j in range(len(tinfo)):
                    if j != i:
                        in_paths.update(
                            _snap_paths(j, "old" if j < i else "new")
                        )
        in_bytes = _total_bytes(spark, sorted(in_paths))
    except Exception:
        in_bytes = math.inf
    small = in_bytes <= dml._DRIVER_REWRITE_MAX_BYTES

    view_fields = o.schema.fields
    view_types = {f.name: f.dataType for f in view_fields}
    state_types = (
        {f.name: f.dataType for f in s.schema.fields} if s is not None else {}
    )
    if s is not None:
        # fold the hidden state (written by the stamped publish that
        # produced base_v) into the "old" side of the merge
        comp_names = [c for c in s.columns if c.startswith("__swl_")]
        sj = s.select(
            *[F.col(g).alias(f"__swl_g_{i}") for i, g in enumerate(gl)],
            *comp_names,
        )
        scond = None
        for i, g in enumerate(gl):
            c = o[g].eqNullSafe(sj[f"__swl_g_{i}"])
            scond = c if scond is None else scond & c
        if small:
            sj = F.broadcast(sj)
        o = o.join(sj, scond, "full_outer").select(
            *[
                F.coalesce(o[g], sj[f"__swl_g_{i}"]).alias(g)
                for i, g in enumerate(gl)
            ],
            *[o[f.name] for f in view_fields if f.name not in gl],
            *comp_names,
        )

    if has_minmax and removed_any:
        # Hybrid: net out the rewrite noise first, so "affected" means
        # groups that truly lost rows — a point delete inside a
        # million-row file affects one group, not every group the
        # rewritten file touches.
        net_ins = ins.exceptAll(dl)
        net_del = dl.exceptAll(ins)
        # group keys renamed + dataset-aliased joins: affected shares
        # scan lineage with net_ins and the current base, and a join
        # referencing same-named attributes of two such datasets is an
        # ambiguous self-join — string-qualified references through
        # explicit dataset aliases resolve per side
        aff_names = [f"__swl_a_{i}" for i in range(len(gl))]
        affected = net_del.select(
            *[F.col(g).alias(a) for g, a in zip(gl, aff_names)]
        ).distinct()

        def _aff_join(df, how):
            left = df.alias("__swl_l")
            right = affected.alias("__swl_r")
            cond = None
            for g, a in zip(gl, aff_names):
                c = F.col(f"__swl_l.{g}").eqNullSafe(F.col(f"__swl_r.{a}"))
                cond = c if cond is None else cond & c
            return left.join(right, cond, how)

        if is_join:
            cur_base = _fold(
                [_anchor(j, "new") for j in range(len(tinfo))]
            )
        else:
            # read with the schema the snapshot's manifest records
            cur_base = versions.read_version(spark, base, cur_v, base_loc)
        if shape["pred"]:
            cur_base = cur_base.filter(F.expr(shape["pred"]))
        rec_aggs = [
            F.expr(
                _acd_view_expr(arg)
                if fn == "approx_count_distinct"
                else f"{fn}({arg})"
            ).alias(alias)
            for fn, arg, alias in shape["aggs"]
        ]
        rec_state = [
            F.expr(expr).alias(alias) for expr, alias in _state_specs(shape)
        ]
        rec = (
            _aff_join(cur_base, "left_semi")
            .groupBy(*gl)
            .agg(*rec_aggs, *rec_state)
        )
        rec_combined = rec.select(
            *[
                F.col(f.name).cast(view_types[f.name]).alias(f.name)
                for f in view_fields
            ],
            *[
                F.col(a).cast(state_types.get(a, "long")).alias(a)
                for _, a in _state_specs(shape)
            ],
        )
        o_u = _aff_join(o, "left_anti")
        ins_u = _aff_join(net_ins, "left_anti")
        d, dgl = _rename_delta_groups(
            _delta_agg(ins_u, shape, weighted=False, state_mode="full"), gl
        )
        joined = o_u.join(
            F.broadcast(d) if small else d,
            _nullsafe_on(o_u, d, gl, dgl),
            "full_outer",
        )
        merged_cols, state_cols = _merge_exprs(
            o_u, d, shape, gl, dgl, view_types, state_types, "full"
        )
        combined = joined.select(*merged_cols, *state_cols).unionByName(
            rec_combined
        )
    else:
        weighted = removed_any
        delta_src = ins.withColumn("_swl_w", F.lit(1))
        if dl is not None:
            delta_src = delta_src.unionByName(
                dl.withColumn("_swl_w", F.lit(-1))
            )
        elif not weighted:
            delta_src = ins  # plain exprs never reference _swl_w
        d, dgl = _rename_delta_groups(
            _delta_agg(delta_src, shape, weighted, state_mode), gl
        )
        joined = o.join(
            F.broadcast(d) if small else d,
            _nullsafe_on(o, d, gl, dgl),
            "full_outer",
        )
        merged_cols, state_cols = _merge_exprs(
            o, d, shape, gl, dgl, view_types, state_types, state_mode
        )
        combined = joined.select(*merged_cols, *state_cols)
    if state_mode == "full":
        combined = combined.filter(F.col("__swl_rows") > 0)

    state_names = gl + [c for c in combined.columns if c.startswith("__swl_")]
    view_order = [f.name for f in view_fields]
    n = sum(len(t["add"]) + len(t["rem"]) for t in tinfo)
    with dml.table_write_lock(spark, name, loc=view_loc):
        # Ordering: both the merged view and the next state read the
        # OLD view + OLD state files, so (1) write the new state to its
        # own version-keyed dir first (disturbs nothing it reads), (2)
        # publish the view, (3) stamp the sidecar, (4) only then sweep
        # the old state dir — every plan that needed the old files has
        # executed by then. A crash anywhere leaves either a fully
        # consistent older publish plus harmless orphans, or (between 2
        # and 3) the pre-existing stale-sidecar window shared with the
        # non-state path.
        state_published = False
        published = False
        maintain_state = state_mode != "none"
        part_cols = dml._table_meta(spark, name)[1]
        # ONE Arrow collect serves both publishes: the combined
        # projection carries the view columns AND the state components,
        # the driver slices it into the two parquet writes — the merge
        # plan executes once, not twice
        tbl = dml._driver_rows(combined, in_bytes, view_loc, part_cols)
        if tbl is not None:
            staging = dml.staging_dir(spark, name, loc=view_loc)
            if maintain_state:
                state_published = _write_arrow_dir(
                    _state_path(spark, name, key_new, view_loc),
                    tbl.select(state_names),
                )
            if not maintain_state or state_published:
                published = _write_arrow_dir(staging, tbl.select(view_order))
                if published:
                    dml.publish(
                        spark, name, staging, None, view_loc,
                        op="matview_refresh_incremental",
                    )
                    dml._rm_path(spark, staging)
        if maintain_state and not state_published:
            _publish_state(
                spark,
                name,
                combined.select(*state_names),
                key_new,
                sweep=False,
                in_bytes=in_bytes,
                loc=view_loc,
            )
        if not published:
            dml.StagingPin(
                spark, name, view_loc, part_cols,
                op="matview_refresh_incremental",
            ).publish(_aligned(spark, name, combined), None)
        stamp_extra = {}
        if is_join:
            stamp_extra["bases"] = [
                {"table": t["tbl"], "version": t["cur"]} for t in tinfo
            ]
            if len(tinfo) == 2:  # legacy fields for older readers
                stamp_extra["base2_table"] = tinfo[1]["tbl"]
                stamp_extra["base2_version"] = tinfo[1]["cur"]
        _write_sidecar(
            spark, name, q, base_table=base, base_version=cur_v,
            **stamp_extra,
        )
        if maintain_state:
            _sweep_state(spark, name, key_new, view_loc)
    return n



def create(
    spark: SparkSession,
    name: str,
    query: str,
    location: str | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """CREATE MATERIALIZED VIEW: run the query, persist as a parquet
    table (optionally partitioned, so reads and a partial refresh's
    match scan prune partitions), write the definition sidecar
    (with the base snapshot stamp when the definition is incrementally
    maintainable)."""
    if spark.catalog.tableExists(name):
        raise InvalidArgument(f"table or view {name} already exists")
    stamp = _base_stamp(spark, query)
    # the materializing read is PINNED to the stamped snapshot: an
    # append racing this create lands in neither the view nor the
    # stamp, and the first INCREMENTAL refresh folds it in exactly once
    df, state, pinned, _combined = _materialize(spark, query, stamp)
    writer = df.write.format("parquet").mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if location:
        writer = writer.option("path", location)
    writer.saveAsTable(name)
    from swanlake_spark import versions

    if stamp:
        _publish_state(spark, name, state, _stamp_state_key(stamp))
    if stamp and not pinned:
        # unpinnable (db-qualified base): the live reads (view AND
        # state, just executed) may have seen an append newer than the
        # stamp — keep the stamp only if no publish landed across the
        # whole materialization window, else drop it (the next
        # INCREMENTAL demands a full refresh; never double-count). The
        # orphaned state dir is harmless — unused without a stamp,
        # swept at the next stamped publish.
        if not _stamp_still_current(spark, stamp):
            stamp = {}
    _write_sidecar(spark, name, query, **stamp)
    versions.record_version(spark, name, "matview_create")
    return spark.table(name).count()


def _aligned(spark: SparkSession, name: str, df: DataFrame) -> DataFrame:
    """Reorder ``df`` to the table's column order before publishing:
    ``saveAsTable(partitionBy=...)`` moves partition columns to the end
    of the saved schema, whatever the defining query's order."""
    return df.select(*[f.name for f in spark.table(name).schema.fields])


def refresh(
    spark: SparkSession, name: str, where: str | None = None
) -> int:
    """REFRESH MATERIALIZED VIEW: recompute the defining query and
    publish it through the COW path (``dml.publish``). With ``where``,
    only the matching output rows recompute, and only the view's files
    holding matching rows are rewritten. Returns the number of rows in
    the refreshed region."""
    q = definition(spark, name)
    if q is None:
        raise NotFound(f"{name} is not a materialized view")
    from pyspark.sql import functions as F

    from swanlake_spark.operators import dml

    if where is None:
        stamp = _base_stamp(spark, q)
        # pinned to the stamped snapshot (see _materialize): the stamp
        # and the refreshed contents reflect the same base version, so
        # INCREMENTAL can never double-count a racing append
        df, state, pinned, combined = _materialize(spark, q, stamp)
        new_df = _aligned(spark, name, df)
        # Small rollup views take the one-Arrow-collect publish (the
        # base scan inside the collect still runs distributed; only the
        # result lands on the driver): the CURRENT view's on-disk size
        # is the stability proxy for the recomputed size — rollup
        # cardinality doesn't move between refreshes. Saves the
        # separate count() job and the distributed staging write.
        loc, part_cols = dml._table_meta(spark, name)[:2]
        try:
            in_bytes = _total_bytes(spark, list(spark.table(name).inputFiles()))
        except Exception:
            in_bytes = math.inf
        n = None
        with dml.table_write_lock(spark, name, loc=loc):
            published = False
            state_published = False
            # ONE collect serves the view AND (when avg state is
            # maintained) the state write: the base scan inside the
            # collect still runs distributed, only the rollup result
            # lands on the driver
            src_df = combined if (stamp and combined is not None) else new_df
            tbl = dml._driver_rows(src_df, in_bytes, loc, part_cols)
            if tbl is not None:
                view_order = [f.name for f in spark.table(name).schema.fields]
                if stamp and combined is not None:
                    state_names = [
                        c for c in src_df.columns if c.startswith("__swl_")
                    ]
                    bare_groups = [
                        g.split(".")[-1] for g in parse_incremental(q)["groups"]
                    ]
                    state_published = _write_arrow_dir(
                        _state_path(spark, name, _stamp_state_key(stamp)),
                        tbl.select(bare_groups + state_names),
                    )
                staging = dml.staging_dir(spark, name)
                if _write_arrow_dir(staging, tbl.select(view_order)):
                    n = tbl.num_rows
                    dml.publish(
                        spark, name, staging, None, loc, op="matview_refresh"
                    )
                    dml._rm_path(spark, staging)
                    published = True
            if not published:
                n = new_df.count()
                dml.StagingPin(
                    spark, name, loc, part_cols, op="matview_refresh"
                ).publish(new_df, None)
            if stamp and not state_published:
                _publish_state(
                    spark, name, state, _stamp_state_key(stamp),
                    in_bytes=in_bytes,
                )
            elif stamp and state_published:
                _sweep_state(spark, name, _stamp_state_key(stamp))
            if stamp and not pinned:
                # unpinnable (db-qualified base): keep the stamp only
                # if no base publish landed across materialization
                if not _stamp_still_current(spark, stamp):
                    stamp = {}
            # the sidecar carries the new stamp
            _write_sidecar(spark, name, q, **stamp)
        return n
    # Partial refresh = refresh-UPSERT on the predicate's region: the
    # predicate applies to the VIEW's output columns; the matching rows
    # recompute from source and replace the view's current matching
    # region. Only the files holding matching rows are rewritten, as
    # their non-matching rows ∪ the recomputed region; on a
    # partitioned view each row lands in its own partition directory.
    new_df = _aligned(
        spark, name, spark.sql(f"SELECT * FROM ({q}) __mv WHERE {where}")
    )
    n = new_df.count()
    loc, part_cols, schema = dml._table_meta(spark, name)
    with dml.table_write_lock(spark, name, loc=loc):
        # no file matched: nothing to replace, the region is new rows
        files, matched = dml._matched_files(spark, name, where, loc=loc)
        if matched:
            region = dml._read_table_files(spark, files, schema, loc)
            keep = region.filter(~F.coalesce(F.expr(where), F.lit(False)))
            new_df = keep.unionByName(new_df)
        dml.StagingPin(
            spark, name, loc, part_cols, op="matview_refresh_partial", schema=schema
        ).publish(new_df, files)
        # Partial refresh leaves the view reflecting TWO base
        # snapshots (the refreshed region sees newer base data than
        # the rest), so the incremental base stamp is no longer a
        # single consistent point — clear it; a later full REFRESH
        # re-establishes it. Keeping the old stamp would double-count
        # appends inside the refreshed region on the next INCREMENTAL.
        _write_sidecar(spark, name, q)
    return n


def drop(spark: SparkSession, name: str) -> None:
    """DROP MATERIALIZED VIEW: remove sidecar + table + files."""
    if definition(spark, name) is None:
        raise NotFound(f"{name} is not a materialized view")
    from swanlake_spark import versions
    from swanlake_spark.operators.dml import _rm_path, _table_meta

    loc = _table_meta(spark, name)[0]
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    versions.forget(spark, loc)
    if loc:
        _rm_path(spark, loc)
