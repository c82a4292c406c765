"""Joins, truncation, partition, maps, row ops."""

import pytest
from pyspark.sql import functions as F

from tumult_core_spark.domains import (
    DictDomain,
    SparkDataFrameDomain,
    SparkIntegerColumnDescriptor,
    SparkRowDomain,
    SparkStringColumnDescriptor,
)
from tumult_core_spark.metrics import (
    DictMetric,
    IfGroupedBy,
    SumOf,
    SymmetricDifference,
)
from tumult_core_spark.transformations.join import (
    PrivateJoin,
    PublicJoin,
    TruncationStrategy,
)
from tumult_core_spark.transformations.map import (
    FlatMap,
    FlatMapByKey,
    Map,
    RowsToRowsTransformation,
    RowToRowsTransformation,
    RowToRowTransformation,
)
from tumult_core_spark.transformations.partition import PartitionByKeys
from tumult_core_spark.transformations.rows import (
    AddUniqueColumn,
    DropNulls,
    Filter,
    Rename,
    ReplaceNulls,
    Select,
)
from tumult_core_spark.transformations.truncation import (
    LimitKeysPerGroup,
    LimitRowsPerGroup,
)
from tumult_core_spark.utils.truncation import (
    drop_large_groups,
    truncate_large_groups,
)

INT = SparkIntegerColumnDescriptor(size=64)
INT_N = SparkIntegerColumnDescriptor(size=64, allow_null=True)
STR = SparkStringColumnDescriptor()


@pytest.fixture(scope="module")
def kv(spark):
    return spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "d"), (2, "e"), (3, "f")],
        "k long, v string",
    )


def kv_domain():
    return SparkDataFrameDomain({"k": INT, "v": STR})


class TestRowOps:
    def test_filter(self, spark, kv):
        t = Filter(kv_domain(), SymmetricDifference(), "k > 1")
        assert t(kv).count() == 3
        assert t.stability_function(2) == 2

    def test_select_rename(self, spark, kv):
        t = Select(kv_domain(), SymmetricDifference(), ["k"])
        assert t(kv).columns == ["k"]
        r = Rename(kv_domain(), SymmetricDifference(), {"v": "val"})
        assert r(kv).columns == ["k", "val"]
        assert list(r.output_domain.schema) == ["k", "val"]

    def test_drop_replace_nulls(self, spark):
        df = spark.createDataFrame([(1, "x"), (None, "y")], "a long, v string")
        dom = SparkDataFrameDomain({"a": INT_N, "v": STR})
        d = DropNulls(dom, SymmetricDifference(), ["a"])
        assert d(df).count() == 1
        r = ReplaceNulls(dom, SymmetricDifference(), {"a": 0})
        vals = sorted([row["a"] for row in r(df).collect()])
        assert vals == [0, 1]

    def test_add_unique_column(self, spark, kv):
        dup = kv.union(kv)  # duplicate rows must still get distinct ids
        t = AddUniqueColumn(kv_domain(), "id")
        out = t(dup)
        assert out.select("id").distinct().count() == dup.count()
        # deterministic across runs
        a = sorted([r["id"] for r in t(dup).collect()])
        b = sorted([r["id"] for r in t(dup).collect()])
        assert a == b


class TestTruncation:
    def test_truncate_large_groups(self, spark, kv):
        out = truncate_large_groups(kv, ["k"], 2)
        counts = {r["k"]: r["n"] for r in out.groupBy("k").agg(F.count("*").alias("n")).collect()}
        assert counts == {1: 2, 2: 2, 3: 1}
        # deterministic / order-independent
        shuffled = kv.orderBy(F.rand(7))
        rows1 = sorted(map(tuple, truncate_large_groups(kv, ["k"], 2).collect()))
        rows2 = sorted(map(tuple, truncate_large_groups(shuffled, ["k"], 2).collect()))
        assert rows1 == rows2
        # salted and unsalted plans select the identical row multiset
        rows3 = sorted(
            map(tuple, truncate_large_groups(kv, ["k"], 2, salt_buckets=1).collect())
        )
        assert rows1 == rows3

    def test_truncate_large_groups_salted_plan(self, spark):
        # r18: a hot key must still be pre-ranked map-side before the
        # global window's exchange, but the engine now provides that
        # pass — a rank-limit at or under
        # spark.sql.optimizer.windowGroupLimitThreshold plans as
        # WindowGroupLimit with a PARTIAL pre-shuffle stage
        # (SPARK-37099), so the manual salted window (an extra full
        # Exchange+Sort) is skipped as redundant
        df = spark.range(0, 10_000, 1, 8).select(
            (F.col("id") % 3).alias("k"), F.col("id").alias("v")
        )
        out = truncate_large_groups(df, ["k"], 5)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        phys = out._jdf.queryExecution().executedPlan().toString()
        assert "__salt" not in plan  # redundant pass gone
        # the engine's map-side guard must actually be planned: a
        # partial WindowGroupLimit below the final one
        assert phys.count("WindowGroupLimit") >= 2, phys
        # exact result: 5 rows per group, independent of partitioning
        counts = [r["n"] for r in out.groupBy("k").agg(F.count("*").alias("n")).collect()]
        assert counts == [5, 5, 5]
        repartitioned = sorted(
            map(tuple, truncate_large_groups(df.repartition(17), ["k"], 5).collect())
        )
        assert repartitioned == sorted(map(tuple, out.collect()))

    def test_truncate_large_groups_salted_fallback(self, spark):
        # when the engine's rank-limit rewrite cannot fire (threshold
        # above the conf), the manual salted local pass must return —
        # and the released multiset must be identical on both paths
        df = spark.range(0, 10_000, 1, 8).select(
            (F.col("id") % 3).alias("k"), F.col("id").alias("v")
        )
        key = "spark.sql.optimizer.windowGroupLimitThreshold"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "3")  # threshold 5 > 3 -> salted pass
            salted = truncate_large_groups(df, ["k"], 5)
            plan = salted._jdf.queryExecution().optimizedPlan().toString()
            assert "__salt" in plan
            assert plan.count("Window") >= 2
            salted_rows = sorted(map(tuple, salted.collect()))
        finally:
            spark.conf.set(key, old)
        plain_rows = sorted(
            map(tuple, truncate_large_groups(df, ["k"], 5).collect())
        )
        assert salted_rows == plain_rows

    def test_drop_large_groups(self, spark, kv):
        out = drop_large_groups(kv, ["k"], 2)
        assert sorted([r["k"] for r in out.select("k").distinct().collect()]) == [2, 3]

    def test_limit_rows_per_group_transformation(self, spark, kv):
        t = LimitRowsPerGroup(
            kv_domain(), IfGroupedBy("k", SymmetricDifference()), threshold=2
        )
        assert t.stability_function(1) == 2
        assert t.output_metric == SymmetricDifference()
        assert t(kv).count() == 5

    def test_limit_keys_per_group(self, spark):
        df = spark.createDataFrame(
            [(1, 10), (1, 20), (1, 30), (2, 10)], "g long, u long"
        )
        dom = SparkDataFrameDomain({"g": INT, "u": INT})
        t = LimitKeysPerGroup(
            dom, IfGroupedBy("g", SymmetricDifference()), "u", 2
        )
        out = t(df)
        per_group = (
            out.groupBy("g").agg(F.countDistinct("u").alias("n")).collect()
        )
        assert all(r["n"] <= 2 for r in per_group)


class TestJoins:
    def test_public_join_natural(self, spark, kv):
        pub = spark.createDataFrame([(1, "one"), (2, "two")], "k long, name string")
        t = PublicJoin(kv_domain(), SymmetricDifference(), pub)
        out = t(kv)
        assert out.columns == ["k", "v", "name"]
        assert out.count() == 5  # k=3 dropped
        assert t.stability_function(1) == 1  # max multiplicity 1

    def test_public_join_multiplicity_stability(self, spark, kv):
        pub = spark.createDataFrame(
            [(1, "x"), (1, "y"), (2, "z")], "k long, tag string"
        )
        t = PublicJoin(kv_domain(), SymmetricDifference(), pub)
        assert t.stability_function(1) == 2

    def test_public_join_nan_key_multiplicity_counted(self, spark):
        """NaN-keyed public rows DO fan out (Spark joins NaN = NaN as
        TRUE even with join_on_nulls=False), so the stability factor
        must count them — the old dropna() removed them and calibrated
        noise too small (r15 review fix)."""
        from tumult_core_spark.domains import SparkFloatColumnDescriptor

        dom = SparkDataFrameDomain(
            {"k": SparkFloatColumnDescriptor(allow_nan=True, size=64), "v": STR}
        )
        nan = float("nan")
        pub = spark.createDataFrame(
            [(nan, "a"), (nan, "b"), (nan, "c"), (1.0, "d")],
            "k double, tag string",
        )
        t = PublicJoin(dom, SymmetricDifference(), pub)
        assert t.stability_function(1) == 3
        # the fan-out the factor must cover: one NaN private row -> 3
        priv = spark.createDataFrame([(nan, "p")], "k double, v string")
        assert t(priv).count() == 3

    def test_public_join_left_factor_never_zero(self, spark, kv):
        """A left join emits every unmatched private row null-extended,
        so its stability factor is >= 1 even against an empty (or
        all-NULL-key) public table — factor 0 meant zero noise."""
        pub = spark.createDataFrame([], "k long, name string")
        t = PublicJoin(kv_domain(), SymmetricDifference(), pub, how="left")
        assert t.stability_function(1) == 1
        assert t(kv).count() == kv.count()
        # inner join against the same empty table: output always empty,
        # stability 0 is correct there
        t_inner = PublicJoin(kv_domain(), SymmetricDifference(), pub)
        assert t_inner.stability_function(1) == 0

    def test_join_duplicate_output_column_rejected(self, spark):
        """left ['k','x','x_left'] x right ['k','x'] on ['k'] would
        silently DROP the renamed 'x' column (dict overwrite); the
        validator must reject it (the old no-op check let it through)."""
        from tumult_core_spark.utils.join import validate_join

        left = SparkDataFrameDomain({"k": INT_N, "x": STR, "x_left": STR})
        right = SparkDataFrameDomain({"k": INT_N, "x": STR})
        with pytest.raises(ValueError, match="duplicate output"):
            validate_join(left, right, ["k"], "inner")
        # but a passthrough column that merely LOOKS suffixed is valid
        left2 = SparkDataFrameDomain({"a": INT_N, "a_left": STR})
        right2 = SparkDataFrameDomain({"a": INT_N})
        assert validate_join(left2, right2, ["a"], "inner") == ["a"]

    def test_private_join_zero_threshold_vs_no_truncation(self, spark):
        """tau=0 against a NO_TRUNCATION side: the zero-threshold side
        truncates to empty, so the term is 0 — sympy's 0*inf nan must
        not escape as UnsupportedSympyExprError."""
        from tumult_core_spark.domains import DictDomain
        from tumult_core_spark.transformations.join import (
            PrivateJoin,
            TruncationStrategy,
        )

        dd = DictDomain({"l": kv_domain(), "r": kv_domain()})
        t = PrivateJoin(
            dd, "l", "r",
            TruncationStrategy.TRUNCATE, TruncationStrategy.NO_TRUNCATION,
            0, float("inf"), join_cols=["k"],
        )
        assert t.stability_function({"l": 1, "r": 1}) == 0
        with pytest.raises(ValueError, match="nonnegative int"):
            PrivateJoin(
                dd, "l", "r",
                TruncationStrategy.TRUNCATE, TruncationStrategy.TRUNCATE,
                True, 2, join_cols=["k"],
            )

    def test_public_join_suffixes(self, spark, kv):
        pub = spark.createDataFrame([(1, "p")], "k long, v string")
        t = PublicJoin(kv_domain(), SymmetricDifference(), pub, join_cols=["k"])
        out = t(kv)
        assert out.columns == ["k", "v_left", "v_right"]

    def test_public_join_left(self, spark, kv):
        pub = spark.createDataFrame([(1, "one")], "k long, name string")
        t = PublicJoin(kv_domain(), SymmetricDifference(), pub, how="left")
        out = t(kv)
        assert out.count() == 6
        assert out.filter(F.col("name").isNull()).count() == 3

    def test_public_join_null_keys(self, spark):
        df = spark.createDataFrame([(None, "a"), (1, "b")], "k long, v string")
        dom = SparkDataFrameDomain({"k": INT_N, "v": STR})
        pub = spark.createDataFrame([(None, "nn"), (1, "one")], "k long, name string")
        t_eq = PublicJoin(
            dom, SymmetricDifference(), pub, join_on_nulls=True
        )
        assert t_eq(df).count() == 2
        t_ne = PublicJoin(dom, SymmetricDifference(), pub, join_on_nulls=False)
        assert t_ne(df).count() == 1

    def test_public_join_float_keys_and_declared_domain(self, spark):
        """Float join keys are allowed (reference test_join.py joins on
        a float column): Spark's NaN = NaN is TRUE, so NaN keys match
        when both sides may carry them, and a declared public_df_domain
        with allow_nan=False FILTERS the public side and intersects the
        output flag (reference join.py:295-307)."""
        import dataclasses

        from tumult_core_spark.domains import SparkFloatColumnDescriptor

        dom = SparkDataFrameDomain(
            {
                "k": SparkFloatColumnDescriptor(allow_nan=True),
                "v": INT,
            }
        )
        priv = spark.createDataFrame(
            [(1.0, 5), (float("nan"), 7)], "k double, v long"
        )
        pub = spark.createDataFrame(
            [(1.0, 10), (float("nan"), 30)], "k double, tag long"
        )
        # inferred public domain allows NaN: NaN = NaN matches
        t = PublicJoin(dom, SymmetricDifference(), pub)
        assert t.output_domain["k"].allow_nan
        assert t(priv).count() == 2
        # declared no-NaN domain: public NaN rows filtered, flag False
        inferred = SparkDataFrameDomain.from_spark_schema(pub.schema)
        declared = SparkDataFrameDomain(
            {
                **inferred.schema,
                "k": dataclasses.replace(inferred["k"], allow_nan=False),
            }
        )
        t2 = PublicJoin(
            dom, SymmetricDifference(), pub, public_df_domain=declared
        )
        assert not t2.output_domain["k"].allow_nan
        rows = sorted(tuple(r) for r in t2(priv).collect())
        assert rows == [(1.0, 5, 10)]
        with pytest.raises(ValueError, match="does not match"):
            PublicJoin(
                dom,
                SymmetricDifference(),
                pub.drop("tag"),
                public_df_domain=declared,
            )

    def test_private_join(self, spark, kv):
        other = spark.createDataFrame(
            [(1, 100), (1, 200), (2, 300)], "k long, w long"
        )
        dom = DictDomain(
            {"l": kv_domain(), "r": SparkDataFrameDomain({"k": INT, "w": INT})}
        )
        t = PrivateJoin(
            dom,
            "l",
            "r",
            TruncationStrategy.TRUNCATE,
            TruncationStrategy.TRUNCATE,
            2,
            2,
        )
        out = t({"l": kv, "r": other})
        assert out.columns == ["k", "v", "w"]
        # l truncated to 2 rows/key, r to 2: k=1 gives 2*2=4, k=2 gives 2*1=2
        assert out.count() == 6
        # stability: tau_l*s_r*d_r + tau_r*s_l*d_l = 2*2*1 + 2*2*1 = 8
        assert t.stability_function({"l": 1, "r": 1}) == 8


class TestPartition:
    def test_partition_by_keys(self, spark, kv):
        t = PartitionByKeys(
            kv_domain(), SymmetricDifference(), False, ["k"], [(1,), (2,), (9,)]
        )
        parts = t(kv)
        assert [p.count() for p in parts] == [3, 2, 0]
        assert t.stability_function(1) == 1


class TestMaps:
    def test_map(self, spark, kv):
        rt = RowToRowTransformation(
            SparkRowDomain({"k": INT, "v": STR}),
            SparkRowDomain({"k": INT, "v": STR, "klen": INT}),
            lambda row: {"klen": row["k"] * 10},
            augment=True,
        )
        t = Map(SymmetricDifference(), rt)
        out = t(kv)
        assert out.columns == ["k", "v", "klen"]
        assert out.filter("klen = k * 10").count() == kv.count()

    def test_widen_falls_back_to_round_robin_on_unhashable_column(self, spark):
        """xxhash64 cannot hash a MapType column: the widen must take
        the round-robin repartition instead and keep every row."""
        from tumult_core_spark.transformations.map import _widen_for_python

        df = spark.createDataFrame(
            [(i, {"k": i}) for i in range(40)], "id long, m map<string,long>"
        ).coalesce(1)
        target = spark.sparkContext.defaultParallelism
        assert target >= 2  # the input is narrow enough to widen
        out = _widen_for_python(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" in plan
        assert out.rdd.getNumPartitions() == target
        assert sorted(r["id"] for r in out.collect()) == list(range(40))
        assert all(r["m"] == {"k": r["id"]} for r in out.collect())

    def test_flatmap_truncates(self, spark, kv):
        rt = RowToRowsTransformation(
            SparkRowDomain({"k": INT, "v": STR}),
            SparkRowDomain({"n": INT}),
            lambda row: [{"n": i} for i in range(row["k"])],
        )
        t = FlatMap(SymmetricDifference(), rt, max_num_rows=2)
        assert t.stability_function(1) == 2
        out = t(kv)
        # per row min(k, 2) outputs: k=1 x3 ->3, k=2 x2 ->4, k=3 ->2
        assert out.count() == 9

    def test_flatmap_by_key(self, spark, kv):
        rt = RowsToRowsTransformation(
            SparkRowDomain({"v": STR}),
            SparkRowDomain({"cat": STR}),
            lambda rows: [{"cat": "".join(sorted(r["v"] for r in rows))}],
        )
        dom = kv_domain()
        t = FlatMapByKey(dom, IfGroupedBy("k", SymmetricDifference()), rt)
        out = t(kv)
        got = {r["k"]: r["cat"] for r in out.collect()}
        assert got == {1: "abc", 2: "de", 3: "f"}


class TestFlatMapByKeyHotKey:
    """Pins FlatMapByKey's documented memory contract: applyInPandas
    materializes ONE KEY GROUP per batch in the Python worker, so a
    deliberately skewed key (~1M rows here, >99.9% of the input on one
    key) must still process correctly — it costs worker memory
    proportional to the hottest key, which is why the docstring
    directs pipelines to bound rows-per-key with LimitRowsPerGroup
    BEFORE this operator (the reference enforces the same shape by
    construction via its truncation-first API)."""

    def test_one_million_row_key(self, spark):
        n_hot = 1_000_000
        df = (
            spark.range(n_hot + 5)
            .selectExpr(
                # ids < n_hot all land on key 0; 5 rows spread over keys 1-5
                f"cast(if(id < {n_hot}, 0, id - {n_hot} + 1) as long) as k",
                "cast(id % 1000 as long) as v",
            )
        )
        dom = SparkDataFrameDomain({"k": INT, "v": INT})
        rt = RowsToRowsTransformation(
            SparkRowDomain({"v": INT}),
            SparkRowDomain({"n": INT, "s": INT}),
            lambda rows: [{"n": len(rows), "s": sum(r["v"] for r in rows)}],
        )
        t = FlatMapByKey(dom, IfGroupedBy("k", SymmetricDifference()), rt)
        got = {r["k"]: (r["n"], r["s"]) for r in t(df).collect()}
        # the hot group arrived as ONE batch: len(rows) saw all 1M rows
        assert got[0] == (n_hot, sum(i % 1000 for i in range(n_hot)))
        # tail keys k=1..5 came from id = n_hot + k - 1
        assert all(got[k] == (1, (n_hot + k - 1) % 1000) for k in range(1, 6))

    def test_docstring_directs_to_truncation(self):
        # the memory contract and the truncate-first guidance are part
        # of the operator's public documentation — keep them there
        doc = " ".join(FlatMapByKey.__doc__.split())
        assert "Memory contract" in doc
        assert "ONE KEY GROUP" in doc
        assert "LimitRowsPerGroup" in doc


class TestScaleUtils:
    def test_salted_group_count(self, spark, kv):
        from tumult_core_spark.utils.scale import salted_group_count

        out = {r["k"]: r["count"] for r in salted_group_count(kv, ["k"]).collect()}
        assert out == {1: 3, 2: 2, 3: 1}

    def test_salted_window_topk(self, spark, kv):
        from tumult_core_spark.utils.scale import salted_window_topk

        out = salted_window_topk(kv, ["k"], "v", 2)
        got = sorted(map(tuple, out.collect()))
        assert got == [(1, "a"), (1, "b"), (2, "d"), (2, "e"), (3, "f")]

    def test_bucketed_table_roundtrip(self, spark, kv, tmp_path):
        from tumult_core_spark.utils.scale import write_bucketed_table

        write_bucketed_table(kv, "kv_bucketed", ["k"], num_buckets=4, sort_cols=["k"])
        back = spark.table("kv_bucketed")
        assert back.count() == kv.count()
        # co-bucketed self-join plans with NO Exchange on the join key
        # (force the sort-merge path — a tiny table would otherwise
        # broadcast and the planner would skip the bucketed scan)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = back.join(back.alias("b"), "k")
            plan = j._sc._jvm.PythonSQLUtils.explainString(
                j._jdf.queryExecution(), "formatted"
            )
            assert "SortMergeJoin" in plan
            assert "Bucketed: true" in plan
            assert "Exchange" not in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE kv_bucketed")


class TestGroupKeySemantics:
    def test_null_group_key_counts_and_fills(self, spark):
        """Reference special-values.rst 'GroupBy': a null group key is a
        real group (null-safe key matching), absent keys 0-fill, and
        data groups outside the public key set are dropped."""
        from tumult_core_spark.measures import PureDP
        from tumult_core_spark.measurements.aggregations import (
            create_count_measurement,
        )
        from tumult_core_spark.transformations.groupby import (
            create_groupby_from_list_of_keys,
        )

        df = spark.createDataFrame([("A",), (None,), (None,), ("B",)], "k string")
        dom = SparkDataFrameDomain.from_spark_schema(df.schema)
        gb = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), False, ["k"], [("A",), (None,), ("C",)]
        )
        m = create_count_measurement(
            dom, SymmetricDifference(), PureDP(), 1, float("inf"),
            groupby_transformation=gb,
        )
        got = {r["k"]: r["count"] for r in m(df).collect()}
        assert got == {"A": 1, None: 2, "C": 0}  # B dropped

    def test_float_group_key_rejected_at_construction(self, spark):
        """Reference forbids float group keys (NaN grouping vs
        comparison semantics diverge); must raise at CONSTRUCTION."""
        from tumult_core_spark.transformations.groupby import (
            create_groupby_from_list_of_keys,
        )

        df = spark.createDataFrame([(1.0, 1)], "f double, x long")
        dom = SparkDataFrameDomain.from_spark_schema(df.schema)
        with pytest.raises(ValueError, match="float"):
            create_groupby_from_list_of_keys(
                dom, SymmetricDifference(), False, ["f"], [(1.0,)]
            )


class TestTruncationMetricChain:
    """The reference's canonical contribution-bounding chain
    (truncation.py:255-571): LimitKeysPerGroup emits IfGroupedBy(key,
    SumOf(IfGroupedBy(group, SymmetricDifference()))) at threshold*d,
    which LimitRowsPerKeyPerGroup consumes and converts to row-level
    SymmetricDifference at threshold*d — the composition bounds any
    single group's influence by tau_keys * tau_rows rows."""

    def test_chain_metrics_and_stability(self, spark):
        from tumult_core_spark.base import ChainTT
        from tumult_core_spark.metrics import (
            IfGroupedBy,
            RootSumOfSquared,
            SumOf,
            SymmetricDifference,
        )
        from tumult_core_spark.transformations.truncation import (
            LimitKeysPerGroup,
            LimitRowsPerKeyPerGroup,
        )

        dom = SparkDataFrameDomain({"g": INT, "u": INT, "v": STR})
        lk = LimitKeysPerGroup(
            dom, IfGroupedBy("g", SymmetricDifference()), "u", 2
        )
        assert lk.output_metric == IfGroupedBy(
            "u", SumOf(IfGroupedBy("g", SymmetricDifference()))
        )
        assert lk.stability_function(2) == 4  # tau_keys * d
        lr = LimitRowsPerKeyPerGroup(dom, lk.output_metric, "u", 3)
        assert lr.grouping_column == "g"
        assert lr.output_metric == SymmetricDifference()
        assert lr.stability_function(4) == 12  # tau_rows * d
        chain = ChainTT(lk, lr)
        assert chain.stability_function(2) == 12  # 2 * tau_keys * tau_rows

        df = spark.createDataFrame(
            [(1, u, f"r{u}{i}") for u in range(5) for i in range(5)],
            "g long, u long, v string",
        )
        out = chain(df)
        per = out.groupBy("g", "u").count().collect()
        assert all(r["count"] <= 3 for r in per)
        assert out.select("u").distinct().count() <= 2

    def test_l2_forms(self, spark):
        from tumult_core_spark.exact_number import ExactNumber
        from tumult_core_spark.metrics import (
            IfGroupedBy,
            RootSumOfSquared,
            SymmetricDifference,
        )
        from tumult_core_spark.transformations.truncation import (
            LimitKeysPerGroup,
            LimitRowsPerKeyPerGroup,
        )

        dom = SparkDataFrameDomain({"g": INT, "u": INT, "v": STR})
        rss = IfGroupedBy(
            "u", RootSumOfSquared(IfGroupedBy("g", SymmetricDifference()))
        )
        lk = LimitKeysPerGroup(
            dom, IfGroupedBy("g", SymmetricDifference()), "u", 4,
            output_metric=rss,
        )
        assert lk.stability_function(3) == ExactNumber(3) * ExactNumber(4).sqrt()
        lr = LimitRowsPerKeyPerGroup(dom, rss, "u", 2)
        assert lr.output_metric == IfGroupedBy(
            "u", RootSumOfSquared(SymmetricDifference())
        )
        assert lr.stability_function(1) == 2

    def test_grouping_metric_passthrough_option(self, spark):
        from tumult_core_spark.metrics import IfGroupedBy, SymmetricDifference
        from tumult_core_spark.transformations.truncation import (
            LimitKeysPerGroup,
        )

        dom = SparkDataFrameDomain({"g": INT, "u": INT, "v": STR})
        gmetric = IfGroupedBy("g", SymmetricDifference())
        lk = LimitKeysPerGroup(dom, gmetric, "u", 7, output_metric=gmetric)
        assert lk.output_metric == gmetric
        assert lk.stability_function(5) == 5  # d, independent of tau

    def test_invalid_metrics_rejected(self, spark):
        from tumult_core_spark.metrics import IfGroupedBy, SymmetricDifference
        from tumult_core_spark.transformations.truncation import (
            LimitKeysPerGroup,
            LimitRowsPerKeyPerGroup,
        )

        dom = SparkDataFrameDomain({"g": INT, "u": INT, "v": STR})
        # the pre-r5 unsound output metric is refused
        with pytest.raises(ValueError, match="output metric"):
            LimitKeysPerGroup(
                dom, IfGroupedBy("g", SymmetricDifference()), "u", 2,
                output_metric=IfGroupedBy("u", SymmetricDifference()),
            )
        # nested form whose outer column is not the key column
        from tumult_core_spark.metrics import SumOf

        with pytest.raises(ValueError, match="key column"):
            LimitRowsPerKeyPerGroup(
                dom,
                IfGroupedBy(
                    "v", SumOf(IfGroupedBy("g", SymmetricDifference()))
                ),
                "u", 2,
            )
