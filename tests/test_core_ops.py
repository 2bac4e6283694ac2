"""Port of the reference's operator test suite (reference
``tests/lib.rs:50-394``, fixtures per FIXTURES.md) to the PySpark
engine, plus validation-error tests for the reference's build-time
checks."""

from __future__ import annotations

import pytest

from df_spark import Aggregator, Df, EngineError, Predicate, c, v


def bool_int(spark):
    return Df.from_vecs(spark, [("bool", [True, False, True]), ("int", [1, 2, 3])])


def as_tuples(df):
    return [tuple(r) for r in df.collect()]


# --- passthrough / select (tests/lib.rs:50-71) -----------------------------


def test_no_transform(spark):
    assert as_tuples(bool_int(spark)) == [(True, 1), (False, 2), (True, 3)]


def test_select(spark):
    assert as_tuples(bool_int(spark).select("int")) == [(1,), (2,), (3,)]


def test_select_reorder(spark):
    assert as_tuples(bool_int(spark).select("int", "bool")) == [
        (1, True), (2, False), (3, True)]


# --- arithmetic incl. int/int divide → float (tests/lib.rs:73-92) ----------


def test_arithmetic_constants(spark):
    df = bool_int(spark).select(
        (c("int") + 1).alias("plus"),
        (c("int") * 2).alias("times"),
        (c("int") - 1).alias("minus"),
        (c("int") / 2).alias("div"),
    )
    assert as_tuples(df) == [
        (2, 2, 0, 0.5),
        (3, 4, 1, 1.0),
        (4, 6, 2, 1.5),
    ]
    # Int/Int divide yields double (reference src/block.rs:496-501)
    assert dict((f.name, f.dataType.simpleString()) for f in df.schema.fields) == {
        "plus": "bigint", "times": "bigint", "minus": "bigint", "div": "double"}


def test_arithmetic_col_vs_col(spark):
    df = Df.from_vecs(spark, [("a", [1, 2]), ("b", [10, 20])]).select(
        (c("a") + c("b")).alias("s"), (c("b") / c("a")).alias("q"))
    assert as_tuples(df) == [(11, 10.0), (22, 10.0)]


def test_select_requires_alias(spark):
    with pytest.raises(EngineError, match="alias"):
        bool_int(spark).select(c("int") + 1)


def test_select_unknown_column(spark):
    with pytest.raises(EngineError, match="unknown column"):
        bool_int(spark).select("nope")


def test_arithmetic_on_bool_rejected(spark):
    with pytest.raises(EngineError, match="non-numeric"):
        bool_int(spark).select((c("bool") + 1).alias("x"))


# --- filter (tests/lib.rs:94-132) ------------------------------------------


def test_filter_int(spark):
    df = bool_int(spark).filter("int", Predicate.gt(1))
    assert as_tuples(df) == [(False, 2), (True, 3)]


def test_filter_string_eq(spark):
    df = Df.from_vecs(spark, [("bool", [True, False, True]),
                              ("string", ["foo", "bar", "baz"])])
    assert as_tuples(df.filter("string", Predicate.eq("bar"))) == [(False, "bar")]


def test_filter_all_comparators(spark):
    df = bool_int(spark)
    assert as_tuples(df.filter("int", Predicate.eq(2))) == [(False, 2)]
    assert as_tuples(df.filter("int", Predicate.gte(2))) == [(False, 2), (True, 3)]
    assert as_tuples(df.filter("int", Predicate.lt(2))) == [(True, 1)]
    assert as_tuples(df.filter("int", Predicate.lte(2))) == [(True, 1), (False, 2)]


def test_filter_then_select(spark):
    df = bool_int(spark).filter("bool", Predicate.eq(True)).select("int")
    assert as_tuples(df) == [(1,), (3,)]


def test_filter_compound_extension(spark):
    df = bool_int(spark).filter((c("int") > 1) & (c("int") < 3))
    assert as_tuples(df) == [(False, 2)]


# --- order_by (tests/lib.rs:134-177) ---------------------------------------


def test_order_by_single(spark):
    df = Df.from_vecs(spark, [("1_int", [4, 1, 6]), ("2_int", [1, 2, 3])])
    assert as_tuples(df.order_by("1_int")) == [(1, 2), (4, 1), (6, 3)]


def test_order_by_string(spark):
    df = Df.from_vecs(spark, [("string", ["foo", "bar", "baz"]), ("int", [1, 2, 3])])
    assert as_tuples(df.order_by("string")) == [("bar", 2), ("baz", 3), ("foo", 1)]


def test_order_by_multi(spark):
    df = Df.from_vecs(spark, [("1_int", [4, 1, 6, 4, 1]),
                              ("2_int", [3, 1, 1, 1, 2]),
                              ("3_int", [1, 2, 3, 4, 5])])
    assert as_tuples(df.order_by("1_int", "2_int")) == [
        (1, 1, 2), (1, 2, 5), (4, 1, 4), (4, 3, 1), (6, 1, 3)]


def test_order_by_nulls_first(spark):
    df = Df.from_vecs(spark, [("x", [2.0, None, 1.0])])
    assert as_tuples(df.order_by("x")) == [(None,), (1.0,), (2.0,)]


def test_order_by_noop_when_ordered(spark):
    df = bool_int(spark).order_by("int")
    again = df.order_by("int")
    assert again is df  # redundant-sort elimination (src/dataframe.rs:355-357)


# --- group_by (tests/lib.rs:179-259) ---------------------------------------


def test_group_by_keys_only(spark):
    df = Df.from_vecs(spark, [("int", [2, 1, 2, 3])]).group_by("int")
    assert as_tuples(df) == [(1,), (2,), (3,)]


def test_group_by_collect_lists(spark):
    df = Df.from_vecs(spark, [("int", [3, 2, 1, 2]),
                              ("bool", [True, False, True, True])]).group_by("int")
    rows = {r["int"]: sorted(r["bool"]) for r in df.collect()}
    assert rows == {1: [True], 2: [False, True], 3: [True]}
    # output is key-sorted (src/dataframe.rs:692-735)
    assert [r["int"] for r in df.collect()] == [1, 2, 3]


def test_group_by_string_lists(spark):
    df = Df.from_vecs(spark, [("int", [3, 2, 1, 2]),
                              ("string", ["foo", "bar", "baz", "qux"])]).group_by("int")
    rows = {r["int"]: sorted(r["string"]) for r in df.collect()}
    assert rows == {1: ["baz"], 2: ["bar", "qux"], 3: ["foo"]}


def test_group_by_string_key(spark):
    df = Df.from_vecs(spark, [("string", ["foo", "bar", "baz", "foo"]),
                              ("int", [1, 2, 3, 4])]).group_by("string")
    rows = {r["string"]: sorted(r["int"]) for r in df.collect()}
    assert rows == {"bar": [2], "baz": [3], "foo": [1, 4]}


def test_group_by_multi_column(spark):
    df = Df.from_vecs(spark, [("1_int", [2, 1, 2, 2, 1]),
                              ("2_int", [3, 2, 3, 1, 2]),
                              ("bool", [True, False, True, False, True])])
    grouped = df.group_by("1_int", "2_int")
    rows = {(r["1_int"], r["2_int"]): sorted(r["bool"]) for r in grouped.collect()}
    assert rows == {(1, 2): [False, True], (2, 1): [False], (2, 3): [True, True]}


# --- aggregate (tests/lib.rs:261-343) --------------------------------------


def test_group_then_aggregate(spark):
    df = bool_int(spark).group_by("bool").aggregate({"int": Aggregator.SUM})
    assert sorted(as_tuples(df)) == [(False, 2), (True, 4)]


def test_each_aggregator_ungrouped(spark):
    base = Df.from_vecs(spark, [("int", [2, 1, 2, 3])])
    assert as_tuples(base.aggregate({"int": Aggregator.AVERAGE})) == [(2.0,)]
    assert as_tuples(base.aggregate({"int": Aggregator.COUNT})) == [(4,)]
    assert as_tuples(base.aggregate({"int": Aggregator.FIRST})) == [(2,)]
    assert as_tuples(base.aggregate({"int": Aggregator.MAX})) == [(3,)]
    assert as_tuples(base.aggregate({"int": Aggregator.MIN})) == [(1,)]
    assert as_tuples(base.aggregate({"int": Aggregator.SUM})) == [(8,)]


def test_aggregate_on_materialized_group(spark):
    # group materialized to lists first (reference grouped-frame path),
    # then aggregated per-group
    df = Df.from_vecs(spark, [("k", [1, 2, 1, 2]), ("x", [10, 20, 30, 40])])
    grouped = df.group_by("k")
    _ = grouped.collect()  # force list materialization path
    agg = grouped.aggregate({"x": Aggregator.SUM})
    assert sorted(as_tuples(agg)) == [(1, 40), (2, 60)]
    avg = grouped.aggregate({"x": Aggregator.AVERAGE})
    assert sorted(as_tuples(avg)) == [(1, 20.0), (2, 30.0)]


def test_multi_column_aggregate(spark):
    df = Df.from_vecs(spark, [("1_int", [4, 1, 6, 4, 1]),
                              ("2_int", [3, 1, 1, 1, 2]),
                              ("3_int", [1, 2, 3, 4, 5])])
    agg = df.group_by("1_int").aggregate(
        {"2_int": Aggregator.MAX, "3_int": Aggregator.SUM})
    assert sorted(as_tuples(agg)) == [(1, 2, 7), (4, 3, 5), (6, 1, 3)]


def test_aggregate_validation(spark):
    df = bool_int(spark)
    with pytest.raises(EngineError, match="group key"):
        df.group_by("bool").aggregate({"bool": Aggregator.COUNT, "int": Aggregator.SUM})
    with pytest.raises(EngineError, match="without aggregator"):
        df.group_by("bool").aggregate({})
    with pytest.raises(EngineError, match="average non-numeric"):
        Df.from_vecs(spark, [("s", ["a", "b"])]).aggregate({"s": Aggregator.AVERAGE})
    with pytest.raises(EngineError, match="boolean"):
        df.select("bool").aggregate({"bool": Aggregator.MAX})


def test_aggregate_skips_nulls(spark):
    # engine policy: real nulls, aggregates skip them (reference skips
    # NaN in max/min — src/aggregate.rs:45-81)
    df = Df.from_vecs(spark, [("x", [1.0, None, 3.0])])
    assert as_tuples(df.aggregate({"x": Aggregator.MAX})) == [(3.0,)]
    assert as_tuples(df.aggregate({"x": Aggregator.MIN})) == [(1.0,)]
    assert as_tuples(df.aggregate({"x": Aggregator.COUNT})) == [(2,)]


# --- join (tests/lib.rs:345-368) -------------------------------------------


def test_join_duplicate_keys(spark):
    left = Df.from_vecs(spark, [("l_int", [3, 2, 1, 1]),
                                ("l_str", ["d", "c", "b", "a"])])
    right = Df.from_vecs(spark, [("r_int", [3, 2, 2, 1, 1]),
                                 ("r_str", ["i", "h", "g", "f", "e"])])
    joined = left.join(right, "l_int", "r_int")
    got = sorted(as_tuples(joined))
    # M×N cross-product per duplicate key (src/block.rs:259-297)
    assert len(got) == 7
    assert got == sorted([
        (3, "d", 3, "i"),
        (2, "c", 2, "h"), (2, "c", 2, "g"),
        (1, "b", 1, "f"), (1, "b", 1, "e"),
        (1, "a", 1, "f"), (1, "a", 1, "e"),
    ])
    assert joined.columns == ["l_int", "l_str", "r_int", "r_str"]


def test_join_name_collision_renamed(spark):
    left = Df.from_vecs(spark, [("k", [1, 2]), ("x", [10, 20])])
    right = Df.from_vecs(spark, [("k", [1, 2]), ("x", [100, 200])])
    joined = left.join(right, "k", "k")
    # both key columns survive (reference Schema::union keeps both;
    # the right key is renamed to avoid the duplicate name)
    assert joined.columns == ["k", "x", "k_r", "x_r"]
    assert sorted(as_tuples(joined)) == [(1, 10, 1, 100), (2, 20, 2, 200)]


def test_join_types_extension(spark):
    left = Df.from_vecs(spark, [("k", [1, 2, 3]), ("x", [10, 20, 30])])
    right = Df.from_vecs(spark, [("j", [1, 1, 4]), ("y", [7, 8, 9])])
    assert sorted(as_tuples(left.join(right, "k", "j", how="left"))) == sorted([
        (1, 10, 1, 7), (1, 10, 1, 8), (2, 20, None, None), (3, 30, None, None)])
    semi = left.join(right, "k", "j", how="left_semi")
    assert sorted(as_tuples(semi)) == [(1, 10)]
    anti = left.join(right, "k", "j", how="left_anti")
    assert sorted(as_tuples(anti)) == [(2, 20), (3, 30)]


# --- set ops / distinct / limit (extensions) --------------------------------


def test_union_distinct_limit(spark):
    a = Df.from_vecs(spark, [("x", [1, 2])])
    b = Df.from_vecs(spark, [("x", [2, 3])])
    assert sorted(as_tuples(a.union(b))) == [(1,), (2,), (2,), (3,)]
    assert sorted(as_tuples(a.union(b).distinct())) == [(1,), (2,), (3,)]
    assert sorted(as_tuples(a.intersect(b))) == [(2,)]
    assert sorted(as_tuples(a.except_all(b))) == [(1,)]
    assert len(a.union(b).order_by("x").limit(3).collect()) == 3


# --- list columns in from_vecs (reference ListBlock fixtures,
# src/block.rs:1100-1134) ----------------------------------------------------


def test_from_vecs_list_columns(spark):
    df = Df.from_vecs(spark, [
        ("id", [1, 2, 3]),
        ("ints", [[1, 2], [], [3]]),
        ("strs", [["a"], ["b", "c"], None]),
    ])
    assert as_tuples(df) == [
        (1, [1, 2], ["a"]), (2, [], ["b", "c"]), (3, [3], None)]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["ints"] == "array<bigint>"
    assert types["strs"] == "array<string>"


def test_from_vecs_list_unresolvable_element(spark):
    with pytest.raises(EngineError, match="list element type"):
        Df.from_vecs(spark, [("bad", [[], [None]])])


# --- actions ----------------------------------------------------------------


def test_collect_columns(spark, monkeypatch):
    import datetime
    import decimal
    import time

    from pyspark.sql import types as T

    cols = bool_int(spark).collect_columns()
    assert cols == {"bool": [True, False, True], "int": [1, 2, 3]}

    # the Arrow path gives each type the value collect() gives; a driver
    # zone off UTC makes the naive-local timestamp conversion visible
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    try:
        schema = T.StructType([
            T.StructField("b", T.BooleanType()), T.StructField("i", T.LongType()),
            T.StructField("f", T.DoubleType()), T.StructField("s", T.StringType()),
            T.StructField("n", T.NullType()), T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("dec", T.DecimalType(10, 2)),
            T.StructField("ia", T.ArrayType(T.LongType())),
            T.StructField("sa", T.ArrayType(T.StringType())),
            T.StructField("tsa", T.ArrayType(T.TimestampType())),
            T.StructField("st", T.StructType([
                T.StructField("x", T.LongType()), T.StructField("t", T.TimestampType())])),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        ])
        ts = datetime.datetime(2020, 7, 2, 3, 4, 5, 6)
        rows = [
            (True, 1, 1.5, "a", None, datetime.date(2020, 1, 2), ts,
             decimal.Decimal("1.50"), [1, None], ["x", None], [ts, None],
             (7, ts), {"k": 1}),
            (None,) * len(schema.fields),
        ]
        sdf = spark.createDataFrame(rows, schema)
        for frame in (sdf, sdf.limit(0)):
            got = Df.from_spark(frame).collect_columns()
            want = frame.collect()
            assert list(got) == frame.columns
            for i, name in enumerate(frame.columns):
                assert got[name] == [r[i] for r in want], name
                assert [type(x) for x in got[name]] == [type(r[i]) for r in want], name
    finally:
        monkeypatch.undo()
        time.tzset()


def test_count_take(spark):
    df = bool_int(spark)
    assert df.count() == 3
    assert len(df.take(2)) == 2


# --- cube / rollup / pivot / explode on the fluent surface ------------------


def test_fluent_cube_rollup(spark):
    df = Df.from_vecs(spark, [("a", ["x", "x", "y"]), ("b", ["p", "q", "p"]),
                              ("v", [1, 2, 4])])
    cube = df.cube("a", "b").aggregate({"v": Aggregator.SUM})
    assert len(cube.collect()) == 8  # 3 observed combos + 2 + 2 + 1 grand total
    rollup = df.rollup("a", "b").aggregate({"v": Aggregator.SUM})
    rows = {(r.a, r.b): r.v for r in rollup.collect()}
    assert rows[(None, None)] == 7
    assert rows[("x", None)] == 3


def test_fluent_explode(spark):
    from pyspark.sql import functions as F
    base = Df.from_vecs(spark, [("id", [1, 2]), ("s", ["a,b", "c"])])
    arr = base.with_column("parts", F.split(F.col("s"), ","))
    out = arr.select("id", "parts").explode("parts", out="part")
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 0, "a"), (1, 1, "b"), (2, 0, "c")]


def test_fluent_pivot(spark):
    df = Df.from_vecs(spark, [("g", ["a", "a", "b"]), ("p", ["x", "y", "x"]),
                              ("v", [1, 2, 4])])
    out = df.pivot("g", "p", ["x", "y"], "v", Aggregator.SUM)
    rows = {r.g: (r.x, r.y) for r in out.collect()}
    assert rows == {"a": (1, 2), "b": (4, None)}


def test_aggregate_on_materialized_group_is_codegen(spark):
    # r7: aggregate() on an unchanged materialized grouped frame must
    # re-derive a true hash aggregate from the pre-group plan — no
    # collect_list arrays, no interpreted array lambdas
    df = Df.from_vecs(spark, [("k", [1, 2, 1]), ("x", [10, 20, 30])])
    grouped = df.group_by("k")._resolved()
    agg = grouped.aggregate({"x": Aggregator.SUM})
    plan = agg.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    assert sorted(as_tuples(agg)) == [(1, 40), (2, 20)]
