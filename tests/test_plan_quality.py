"""Physical-plan quality guards: the properties that make the engine
viable at 100 TB must not silently regress (SCALE.md "Execution model").

Checks the optimized plans of representative queries for predicate
pushdown into the Parquet scan, column pruning, broadcast selection for
small dimensions, and whole-stage codegen coverage.
"""

import re

import pytest


def _formatted_plan(df):
    je = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return je.explainString(mode)


@pytest.fixture(scope="module")
def warehouse(engine, sf_dir):
    engine.attach_warehouse(sf_dir)
    return engine


class TestPlanQuality:
    def test_filter_pushdown_reaches_scan(self, warehouse):
        df = warehouse.query(
            "SELECT l_orderkey FROM lineitem WHERE l_quantity < 5.0"
        ).df
        plan = _formatted_plan(df)
        assert re.search(r"PushedFilters: \[[^\]]*LessThan\(l_quantity", plan), (
            "l_quantity filter must be pushed into the parquet scan"
        )

    def test_column_pruning(self, warehouse):
        df = warehouse.query("SELECT l_orderkey, l_quantity FROM lineitem").df
        plan = _formatted_plan(df)
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, plan
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols == {"l_orderkey", "l_quantity"}, (
            f"scan must read only projected columns, got {cols}"
        )

    def test_small_dimension_broadcast(self, warehouse):
        df = warehouse.query(
            "SELECT n_name, count(*) AS c FROM lineitem "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name"
        ).df
        plan = _formatted_plan(df)
        assert "BroadcastHashJoin" in plan, "small dims must broadcast"
        assert "CartesianProduct" not in plan

    def test_two_phase_aggregation(self, warehouse):
        # map-side partial aggregation before the shuffle: the property
        # that keeps groupBy shuffle volume at O(groups), not O(rows)
        df = warehouse.query(
            "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem "
            "GROUP BY l_returnflag"
        ).df
        plan = _formatted_plan(df)
        assert "partial_sum" in plan, "map-side combine missing"
        assert plan.index("partial_sum") < plan.index("Exchange") or (
            "HashAggregate" in plan.split("Exchange")[0]
        )

    def test_limit_becomes_ordered_limit(self, warehouse):
        df = warehouse.query(
            "SELECT o_orderkey FROM orders ORDER BY o_totalprice DESC LIMIT 5"
        ).df
        plan = _formatted_plan(df)
        assert "TakeOrderedAndProject" in plan, (
            "ORDER BY + LIMIT must plan as top-K, not global sort"
        )


class TestPKProbePruning:
    def test_pk_probe_scan_is_key_range_bounded(self, engine):
        """The PK existence probe must push the batch key range into the
        parquet scan (row-group pruning) instead of scanning the table."""
        import tempfile
        import uuid

        from swanlake_spark import constraints

        t = f"pkp_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_pkp_")
        engine.execute(
            f"CREATE TABLE {t} (id INT PRIMARY KEY, v STRING) USING parquet LOCATION '{loc}'"
        )
        engine.execute(f"INSERT INTO {t} VALUES (1, 'a'), (50, 'b'), (900, 'c')")
        stats = {"_min_id": 40, "_max_id": 60}
        probe = constraints.bounded_existing_probe(engine.spark, t, ["id"], stats)
        plan = _formatted_plan(probe)
        assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(id,40\)", plan), plan
        assert re.search(r"LessThanOrEqual\(id,60\)", plan), plan

    def test_pk_checks_still_enforced(self, engine):
        import tempfile
        import uuid

        import pytest

        from swanlake_spark.errors import InvalidArgument

        t = f"pkp_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_pkp_")
        engine.execute(
            f"CREATE TABLE {t} (id INT PRIMARY KEY, v STRING) USING parquet LOCATION '{loc}'"
        )
        engine.execute(f"INSERT INTO {t} VALUES (1, 'a'), (2, 'b')")
        with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
            engine.execute(f"INSERT INTO {t} VALUES (2, 'dup')")
        with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
            engine.execute(f"INSERT INTO {t} VALUES (7, 'x'), (7, 'y')")
        engine.execute(f"INSERT INTO {t} VALUES (3, 'c')")
        assert engine.query(f"SELECT count(*) AS c FROM {t}").collect()[0].c == 3


class TestPartitionPruning:
    def test_partition_filter_prunes_scan(self, engine):
        """Hive-style partitioned table + partition-key filter must show
        PartitionFilters in the scan and read only matching partitions —
        the mechanism that turns a 100 TB table into a one-day scan."""
        import tempfile
        import uuid

        t = f"part_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_part_")
        engine.execute(
            f"CREATE TABLE {t} (v DOUBLE, day STRING) USING parquet "
            f"PARTITIONED BY (day) LOCATION '{loc}'"
        )
        engine.execute(
            f"INSERT INTO {t} VALUES (1.0, '2026-01-01'), (2.0, '2026-01-02'), "
            f"(3.0, '2026-01-03')"
        )
        df = engine.query(f"SELECT v FROM {t} WHERE day = '2026-01-02'").df
        plan = _formatted_plan(df)
        assert re.search(r"PartitionFilters: \[[^\]]*day", plan), plan
        # only the matching partition's file is read
        assert len(df.inputFiles()) == 1, df.inputFiles()
        assert [r.v for r in df.collect()] == [2.0]

    def test_dynamic_partition_overwrite_dml(self, engine):
        """UPDATE restricted to a partition-key predicate rewrites only
        that partition (operators/dml.py dynamic overwrite path)."""
        import os
        import tempfile
        import uuid
        from urllib.parse import urlparse

        t = f"part_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_part_")
        engine.execute(
            f"CREATE TABLE {t} (v DOUBLE, day STRING) USING parquet "
            f"PARTITIONED BY (day) LOCATION '{loc}'"
        )
        engine.execute(
            f"INSERT INTO {t} VALUES (1.0, '2026-01-01'), (2.0, '2026-01-02')"
        )
        from swanlake_spark.operators import dml

        table_loc = urlparse(dml._table_meta(engine.spark, t)[0]).path or loc
        other = os.path.join(table_loc, "day=2026-01-01")
        before = sorted(os.listdir(other))
        n = engine.execute_update(f"UPDATE {t} SET v = 9.0 WHERE day = '2026-01-02'")
        assert n == 1
        # untouched partition's files unchanged
        assert sorted(os.listdir(other)) == before
        rows = {r.day: r.v for r in engine.query(f"SELECT v, day FROM {t}").collect()}
        assert rows == {"2026-01-01": 1.0, "2026-01-02": 9.0}


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, engine, sf_dir):
        """Tables bucketed on their join keys with equal bucket counts
        must join without a shuffle (co-located bucket join) — the
        load-time layout that amortizes fact-fact joins at 100 TB."""
        from swanlake_spark.sources.registry import bucket_warehouse

        spark = engine.spark
        engine.attach_warehouse(sf_dir)
        bucket_warehouse(
            spark, sf_dir,
            {"lineitem": ("l_orderkey", 4), "orders": ("o_orderkey", 4)},
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = spark.sql(
                "SELECT count(*) AS c FROM lineitem_bkt l "
                "JOIN orders_bkt o ON l.l_orderkey = o.o_orderkey"
            )
            plan = _formatted_plan(df)
            join_section = plan.split("HashAggregate")[0]
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            # no shuffle feeding the join: bucketed scans align 1:1
            assert "Exchange hashpartitioning" not in join_section, plan
            # correctness: same count as the unbucketed join
            expected = spark.sql(
                "SELECT count(*) AS c FROM lineitem l "
                "JOIN orders o ON l.l_orderkey = o.o_orderkey"
            ).collect()[0].c
            assert df.collect()[0].c == expected
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
            spark.sql("DROP TABLE IF EXISTS orders_bkt")


class TestCurationPlans:
    def test_decontaminate_broadcasts_benchmark(self, spark):
        """The benchmark side must broadcast: a shuffle join here would
        repartition the exploded corpus n-grams — the TB side."""
        from pyspark.sql import functions as F

        from swanlake_spark.operators import curation

        docs = spark.createDataFrame(
            [(i, "some words repeated across documents here now") for i in range(100)],
            ["doc_id", "text"],
        )
        out = curation.decontaminate(
            docs.filter(F.col("doc_id") % 7 != 0),
            docs.filter(F.col("doc_id") % 7 == 0),
            n=4,
        )
        plan = _formatted_plan(out)
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, (
            "benchmark join must not shuffle the corpus side"
        )

    def test_shuffle_has_no_global_window(self, spark):
        """deterministic_shuffle must rank inside hash buckets — a
        single-partition global window (`Window [... ORDER BY ...]` with
        no partition spec ranking the full input) is the 100 TB
        anti-pattern. The only unpartitioned window allowed is the one
        over the ~bucket-count totals rows."""
        from swanlake_spark.operators import curation

        df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
        out = curation.deterministic_shuffle(df, buckets=64)
        plan = _formatted_plan(out)
        # row_number over the full input must be partitioned by bucket
        assert re.search(r"row_number\(\).*partitionBy", plan.replace("\n", " ")) or (
            "_bkt" in plan
        ), plan
        # and the bucket offsets join back must be broadcast
        assert "BroadcastHashJoin" in plan, plan


class TestLineDedupChunkPlans:
    def test_line_dedup_no_cartesian_no_global_window(self, spark):
        """Winner selection must be an aggregation + equi-join, never a
        cross product or a global-ordered window over all lines."""
        from swanlake_spark.operators import curation

        docs = spark.createDataFrame(
            [(i, f"line a{i % 5}\nline b{i % 7}\nshared") for i in range(50)],
            ["doc_id", "text"],
        )
        plan = _formatted_plan(curation.line_dedup(docs))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan

    def test_chunk_documents_is_narrow(self, spark):
        """Chunking is a pure row-local explode — any exchange in the
        plan (beyond an input spread of a narrow source) means a shuffle
        crept into the per-row path."""
        from swanlake_spark.operators import curation

        docs = spark.createDataFrame(
            [(i, "tok " * 100) for i in range(50)], ["doc_id", "text"]
        ).repartition(8)  # wide enough that _spread no-ops
        plan = _formatted_plan(
            curation.chunk_documents(docs, chunk_tokens=16, overlap=4)
        )
        assert "Generate" in plan, plan  # the posexplode
        # exactly the one user-requested repartition, nothing added
        assert plan.count("(2) Exchange") == 1 and "(3) Exchange" not in plan, (
            plan
        )

    def test_minhash_verify_broadcasts_candidate_legs(self, spark):
        """The exact-verify join must broadcast the candidate legs — a
        shuffle join would repartition the corpus shingle sets."""
        from swanlake_spark.operators import dedup

        docs = spark.createDataFrame(
            [(i, ("w%d " % (i % 9)) * 30) for i in range(60)],
            ["doc_id", "text"],
        )
        plan = _formatted_plan(dedup.minhash_dedup_pairs(docs, threshold=0.5))
        assert "BroadcastHashJoin" in plan, plan


class TestIvfIndexPruning:
    def test_probe_reads_only_probed_partitions(self, spark, sf_dir):
        """A top-k against an ivf_write_index layout must turn the _cid
        filter into PARTITION pruning — the scan's PartitionFilters
        carry _cid and only the probed partitions' files are read."""
        import tempfile

        from swanlake_spark.operators import similarity

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = [float(x) for x in emb.orderBy("vec_id").first().embedding]
        path = tempfile.mkdtemp(prefix="swl_ivfidx_")
        cents = similarity.ivf_write_index(emb, path, n_centroids=8)
        indexed = spark.read.parquet(path)
        top = similarity.cosine_topk_ivf(
            indexed, q, k=5, n_centroids=8, n_probe=2, centroids=cents
        )
        plan = _formatted_plan(top)
        assert "PartitionFilters" in plan and "_cid" in plan.split(
            "PartitionFilters", 1
        )[1].split("\n")[0], plan
        rows = top.collect()
        assert rows and rows[0].vec_id == 0  # the query vector itself


class TestCboStatistics:
    """CBO + ANALYZE: maintenance.analyze_table feeds Catalyst real
    row counts / NDVs (config.py enables spark.sql.cbo.* — DuckDB keeps
    these stats automatically; Spark needs the explicit ANALYZE)."""

    def test_analyze_populates_rowcount_stats(self, spark):
        import tempfile

        from swanlake_spark import maintenance

        assert spark.conf.get("spark.sql.cbo.enabled") == "true"
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        )
        loc = tempfile.mkdtemp(prefix="swl_cbo_")
        spark.sql(
            f"CREATE TABLE cbo_t (a INT, b STRING) USING parquet LOCATION '{loc}'"
        )
        try:
            spark.sql(
                "INSERT INTO cbo_t SELECT id, CAST(id AS STRING) FROM range(1234)"
            )
            maintenance.analyze_table(spark, "cbo_t", columns=["a"])
            stats = (
                spark.table("cbo_t")
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
            )
            assert stats.rowCount().isDefined(), "ANALYZE left no rowCount"
            assert int(str(stats.rowCount().get())) == 1234
        finally:
            spark.sql("DROP TABLE IF EXISTS cbo_t")

    def test_compaction_refreshes_stats(self, spark):
        """compact_table piggybacks ANALYZE on its full rewrite, so a
        freshly compacted table always has current row counts."""
        import tempfile

        from swanlake_spark import maintenance

        loc = tempfile.mkdtemp(prefix="swl_cbo2_")
        spark.sql(
            f"CREATE TABLE cbo_c (a INT) USING parquet LOCATION '{loc}'"
        )
        try:
            for _ in range(6):  # many small files to trigger compaction
                spark.sql(
                    "INSERT INTO cbo_c SELECT id FROM range(100)"
                )
            st = maintenance.compact_table(
                spark, "cbo_c", target_file_bytes=1 << 30, min_files=2
            )
            assert st["compacted"], st
            stats = (
                spark.table("cbo_c")
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
            )
            assert stats.rowCount().isDefined()
            assert int(str(stats.rowCount().get())) == 600
        finally:
            spark.sql("DROP TABLE IF EXISTS cbo_c")


class TestEventAnalyticsPlans:
    def test_sessionize_single_exchange(self, spark, sf_dir):
        """Both windows (lag + running sum) share partitionBy(user)
        orderBy(ts), so Catalyst plans ONE shuffle for the whole
        sessionization."""
        from swanlake_spark.operators import events as EV

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        plan = (
            EV.sessionize_batch(ev)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        import re as _re

        # count shuffle exchanges only (AQE may add reused references)
        n_ex = len(_re.findall(r"Exchange hashpartitioning", plan))
        assert n_ex == 1, plan[:2000]

    def test_funnel_state_is_bounded(self, spark, sf_dir):
        """Funnel per-user state must be scalar conditional mins — no
        collect_list anywhere (a bot user with 10^7 events of one step
        type must never build a 10^7-element aggregation buffer); the
        step-type IN filter reaches the scan."""
        from swanlake_spark.operators import events as EV

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        reach = EV.funnel_reach(ev, ["signup", "view", "purchase"])
        qe = reach._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        analyzed = qe.analyzed().toString()
        assert "collect_list" not in plan and "collect_list" not in analyzed
        # the step-type filter reaches the scan as a pushed filter
        assert "PushedFilters: [" in plan and "In(event_type" in plan

    def test_funnel_reuses_user_partitioning_one_exchange_per_step(
        self, spark, sf_dir
    ):
        """r5 verdict #6: every step's join/agg keys on `_u` ALONE (the
        carried step times are per-group constants), so the chain
        reuses one hash(_u) partitioning — the only NEW exchange per
        step is the step's own filtered event slice. For 3 steps that
        is exactly 3 hashpartitioning exchanges (step 0's aggregation
        + 2 event slices); keying on the growing (_u, _t0..) tuple
        planned a fresh exchange for the whole chain each step."""
        import re as _re

        from swanlake_spark.operators import events as EV

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        steps = ["signup", "view", "purchase"]
        plan = (
            EV.funnel_reach(ev, steps)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # at most one NEW exchange per step (each step's own event
        # slice; broadcastable slices need none at all — at this SF the
        # whole chain plans ONE exchange, step 0's aggregation)
        n_ex = len(_re.findall(r"Exchange hashpartitioning", plan))
        assert 1 <= n_ex <= len(steps), plan[:3000]
        # and NO exchange keys on the grown (_u, _t0, ...) tuple — the
        # r5 shape re-exchanged the whole chain on it every step
        grown = _re.findall(r"Exchange hashpartitioning\(_u#\d+L?, _t", plan)
        assert not grown, plan[:3000]


class TestFinalSortGating:
    """final_sort's single-task answer-sort finish is only legal where
    output cardinality is provably SF-independent (r6 verdict #3: q20's
    output is ~400×SF suppliers — linear — so one task sorting it at
    extreme scale is the wrong plan). These tests pin the per-query
    decision so an unbounded query can't silently adopt the finish."""

    # the exact set of queries allowed the coalesce(1) finish, each with
    # a documented bound in FINAL_SORT_BOUNDS (fixed attribute domain,
    # bounded domain product, or self-bounding predicate)
    BOUNDED = {
        "tpch_q1", "tpch_q4", "tpch_q5", "tpch_q7", "tpch_q8",
        "tpch_q9", "tpch_q11", "tpch_q12", "tpch_q13", "tpch_q15",
        "tpch_q16", "tpch_q22",
    }

    def test_every_final_sort_query_has_a_documented_bound(self):
        from swanlake_spark.queries.tpch import FINAL_SORT_BOUNDS

        assert set(FINAL_SORT_BOUNDS) == self.BOUNDED
        for name, bound in FINAL_SORT_BOUNDS.items():
            assert bound and len(bound) > 20, (name, bound)

    def test_q20_keeps_the_scaling_range_sort(self, warehouse, sf_dir):
        # q20 (SF-linear output) must plan a global Sort via
        # RangePartitioning — the finish that scales out — not a
        # single-task coalesce
        from swanlake_spark.queries.tpch import TPCH_QUERIES

        df = TPCH_QUERIES["tpch_q20"].build(warehouse.spark, sf_dir)
        plan = _formatted_plan(df)
        assert "rangepartitioning" in plan.lower(), plan[:2000]
        assert "Coalesce" not in plan, plan[:2000]

    def test_bounded_query_takes_single_task_finish(self, warehouse, sf_dir):
        # q1 (<=6 groups, fixed domain) takes the answer-sized finish:
        # no range exchange, one coalesced sorted partition
        from swanlake_spark.queries.tpch import TPCH_QUERIES

        df = TPCH_QUERIES["tpch_q1"].build(warehouse.spark, sf_dir)
        plan = _formatted_plan(df)
        assert "rangepartitioning" not in plan.lower(), plan[:2000]
        assert "Coalesce" in plan, plan[:2000]


class TestSketchPlanQuality:
    """The r7 sketch/sampling family's scale properties, pinned at the
    plan level: the bounded-state claims rest on (a) rank-limit windows
    getting Spark's map-side WindowGroupLimit pushdown (per-partition
    top-k BEFORE the exchange) and (b) zero Python UDFs anywhere."""

    def test_kmv_build_gets_window_group_limit(self, warehouse):
        from swanlake_spark.operators import sketch

        df = warehouse.spark.table("documents")
        # _pin=False: the r12 executor-local pin of the finished sketch
        # would hide the build plan behind a checkpoint scan; the lazy
        # form exposes the window the pushdown claim is about
        sk = sketch.kmv_sketch(df, "lang", k=64, by=["source"], _pin=False)
        plan = _formatted_plan(sk)
        assert "WindowGroupLimit" in plan, (
            "kmv_sketch's top-k window must be rank-limit pushed"
        )
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan

    def test_stratified_prefilter_gets_window_group_limit(self, warehouse):
        from swanlake_spark.operators import sampling

        df = warehouse.spark.table("documents")
        out = sampling.stratified_sample(
            df, ["lang"], k=5, auto_prefilter=True
        )
        plan = _formatted_plan(out)
        assert "WindowGroupLimit" in plan
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan

    def test_weighted_sample_gets_window_group_limit(self, warehouse):
        from swanlake_spark.operators import sampling

        df = warehouse.spark.table("documents")
        out = sampling.weighted_sample_k(df, 5, "n_chars", ["lang"])
        plan = _formatted_plan(out)
        assert "WindowGroupLimit" in plan
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan

    def test_histogram_sketch_is_two_bounded_aggregations(self, warehouse):
        from swanlake_spark.operators import sketch

        df = warehouse.spark.table("lineitem")
        sk = sketch.histogram_sketch(
            df, "l_extendedprice", bins=64, lo=0.0, hi=1e5,
            by=["l_returnflag"],
        )
        plan = _formatted_plan(sk)
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
        # the sparse-cells agg and the densify agg: exactly two
        # exchanges, both keyed on bounded cell/group spaces (count the
        # formatted plan's node headers, not the tree echo)
        n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchanges <= 2, plan
