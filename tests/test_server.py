"""Wire-protocol server tests: requests are built exactly the way the
reference's Python client serializes them (client.py:135-246), so
passing here means the reference client works against this engine."""

from __future__ import annotations

import json
import urllib.request

import pytest

from df_spark.server import start_server

PORT = 3917
URI = f"http://127.0.0.1:{PORT}/call"


def call(dataframe, function):
    body = json.dumps({"dataframe": dataframe, "function": function}).encode()
    req = urllib.request.Request(URI, data=body, headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    httpd = start_server(spark, port=PORT)
    yield httpd
    httpd.shutdown()


@pytest.fixture(scope="module")
def small_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("data") / "small.csv"
    p.write_text("1|foo|true\n2|bar|false\n3|baz|true\n")
    return str(p)


SMALL_SCHEMA = {"columns": [
    {"name": "int", "type_": "Int"},
    {"name": "string", "type_": "String"},
    {"name": "bool", "type_": "Bool"},
]}


def test_example_small_flow(server, small_csv):
    # the reference client's example_small (client.py:248-256), request
    # by request: read → filter → select → aggregate → collect
    r = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})
    r = call(r["dataframe"], {"Op": {"Filter": ["bool", {
        "comparator": "Equal", "value": {"Bool": True}}]}})
    r = call(r["dataframe"], {"Op": {"Select": [{"Source": "int"}]}})
    r = call(r["dataframe"], {"Op": {"Aggregation": {"int": "Average"}}})
    r = call(r["dataframe"], {"Action": "Collect"})
    assert r["blocks"] == {"int": {"Float": [2.0]}}


def test_expression_ops_on_wire(server, small_csv):
    r = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})
    # (int + 1) * 2 aliased, exactly as client.py serializes operator
    # overloads (client.py:141-186)
    expr = {"Alias": ["x", {"Operation": ["Multiply",
            {"Operation": ["Add", {"Source": "int"}, {"Constant": {"Int": 1}}]},
            {"Constant": {"Int": 2}}]}]}
    r = call(r["dataframe"], {"Op": {"Select": [expr, {"Source": "string"}]}})
    r = call(r["dataframe"], {"Action": "Collect"})
    assert r["blocks"]["x"] == {"Int": [4, 6, 8]}


def test_join_nested_plan(server, small_csv):
    left = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})["dataframe"]
    right = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})["dataframe"]
    right = call(right, {"Op": {"Select": [
        {"Alias": ["r_int", {"Source": "int"}]},
        {"Alias": ["r_string", {"Source": "string"}]}]}})["dataframe"]
    r = call(left, {"Op": {"Join": [right, "int", "r_int"]}})
    r = call(r["dataframe"], {"Action": "Collect"})
    assert r["blocks"]["int"]["Int"] == r["blocks"]["r_int"]["Int"]
    assert sorted(r["blocks"]["string"]["String"]) == ["bar", "baz", "foo"]


def test_group_by_lists_on_wire(server, small_csv):
    r = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})
    r = call(r["dataframe"], {"Op": {"GroupBy": ["bool"]}})
    r = call(r["dataframe"], {"Action": "Collect"})
    # non-key columns become List blocks (reference grouped frame)
    assert "IntList" in r["blocks"]["int"]
    by_bool = dict(zip(r["blocks"]["bool"]["Bool"], r["blocks"]["int"]["IntList"]))
    assert sorted(by_bool[True]) == [1, 3]
    assert by_bool[False] == [2]


def test_count_and_take_implemented(server, small_csv):
    # the reference declares these but panics (src/api.rs:78)
    r = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})
    assert call(r["dataframe"], {"Action": "Count"})["blocks"] == {"count": {"Int": [3]}}
    taken = call(r["dataframe"], {"Action": {"Take": 2}})
    assert len(taken["blocks"]["int"]["Int"]) == 2


def test_wire_errors_are_400(server, small_csv):
    r = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})
    with pytest.raises(urllib.error.HTTPError) as exc:
        call(r["dataframe"], {"Op": {"Select": [{"Source": "nope"}]}})
    assert exc.value.code == 400
    body = json.loads(exc.value.read())
    assert "unknown column" in body["error"]


@pytest.mark.skipif(
    not __import__("os").path.exists("/root/reference/client.py"),
    reason="reference checkout not present")
def test_reference_client_runs_unchanged(server, small_csv):
    # load the reference's own client (read-only checkout) and point it
    # at this server: its example flow must work verbatim
    import importlib.util

    pytest.importorskip("requests")
    spec = importlib.util.spec_from_file_location("ref_client", "/root/reference/client.py")
    ref = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref)
    ref.URI = URI
    schema = ref.Schema([("int", ref.Type.INT), ("string", ref.Type.STRING),
                         ("bool", ref.Type.BOOL)])
    out = (ref.Df.from_csv(small_csv, schema)
           .filter("bool", ref.Predicate(ref.Comparator.EQUAL, ref.Value(True)))
           .select([ref.c("int")])
           .aggregate({"int": ref.Aggregator.AVERAGE})
           .collect())
    assert out == {"int": {"Float": [2.0]}}


@pytest.mark.skipif(
    not __import__("os").path.exists("/root/reference/client.py"),
    reason="reference checkout not present")
def test_reference_client_q1_pipeline(server, spark, tmp_path_factory):
    """The reference client's hand-built TPC-H Q1 (client.py:259-331)
    through the wire — filter on string dates, Float-constant arithmetic,
    group_by → order_by → aggregate over the grouped (List) frame —
    checked against the same computation done natively in Spark."""
    import importlib.util

    pytest.importorskip("requests")
    from pyspark.sql import functions as F

    # export sf0.001 lineitem in the reference's 16-column '|' CSV shape
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    csv_df = li.select(
        F.col("l_orderkey"), F.col("l_partkey"), F.col("l_suppkey"),
        F.col("l_linenumber"),
        F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount"),
        F.col("l_tax"), F.col("l_returnflag"), F.col("l_linestatus"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        F.lit("1995-01-01").alias("commit_date"),
        F.lit("1995-01-08").alias("receipt_date"),
        F.lit("NONE").alias("ship_instructions"),
        F.lit("MAIL").alias("ship_mode"),
        F.lit("no comment").alias("comment"),
    )
    out_dir = tmp_path_factory.mktemp("li_csv")
    csv_df.coalesce(1).write.mode("overwrite").option("delimiter", "|").csv(str(out_dir / "li"))

    spec = importlib.util.spec_from_file_location("ref_client2", "/root/reference/client.py")
    ref = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref)
    ref.URI = URI
    schema = ref.Schema([
        ("order_key", ref.Type.INT), ("part_key", ref.Type.INT),
        ("supplier_key", ref.Type.INT), ("line_number", ref.Type.INT),
        ("quantity", ref.Type.FLOAT), ("extended_price", ref.Type.FLOAT),
        ("discount", ref.Type.FLOAT), ("tax", ref.Type.FLOAT),
        ("return_flag", ref.Type.STRING), ("line_status", ref.Type.STRING),
        ("ship_date", ref.Type.STRING), ("commit_date", ref.Type.STRING),
        ("receipt_date", ref.Type.STRING), ("ship_instructions", ref.Type.STRING),
        ("ship_mode", ref.Type.STRING), ("comment", ref.Type.STRING)])
    c, Value = ref.c, ref.Value
    blocks = (ref.Df.from_csv(str(out_dir / "li"), schema)
        .filter("ship_date", ref.Predicate(ref.Comparator.LESS_THAN_OR_EQ, Value("1998-09-02")))
        .select([
            c("return_flag"), c("line_status"),
            c("quantity").alias("sum_qty"),
            c("extended_price").alias("sum_base_price"),
            ((c(Value(1.0)) - c("discount")) * c("extended_price")).alias("sum_disc_price"),
            (((c(Value(1.0)) + c("tax")) * (c(Value(1.0)) - c("discount"))) * c("extended_price")).alias("sum_charge"),
            c("quantity").alias("avg_quantity"),
            c("extended_price").alias("avg_price"),
            c("discount").alias("avg_discount"),
            c("order_key").alias("count_order")])
        .group_by(["return_flag", "line_status"])
        .order_by(["return_flag", "line_status"])
        .aggregate({"sum_qty": ref.Aggregator.SUM,
                    "sum_base_price": ref.Aggregator.SUM,
                    "sum_disc_price": ref.Aggregator.SUM,
                    "sum_charge": ref.Aggregator.SUM,
                    "avg_quantity": ref.Aggregator.AVERAGE,
                    "avg_price": ref.Aggregator.AVERAGE,
                    "avg_discount": ref.Aggregator.AVERAGE,
                    "count_order": ref.Aggregator.COUNT})
        .collect())

    # expected, computed natively on the exported CSV rows
    exp = (li.filter(F.date_format("l_shipdate", "yyyy-MM-dd") <= "1998-09-02")
           .groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum("l_quantity").alias("sq"), F.count(F.lit(1)).alias("n"))
           .orderBy("l_returnflag", "l_linestatus").collect())
    assert blocks["return_flag"]["String"] == [r.l_returnflag for r in exp]
    assert blocks["line_status"]["String"] == [r.l_linestatus for r in exp]
    assert blocks["count_order"]["Int"] == [r.n for r in exp]
    for got, want in zip(blocks["sum_qty"]["Float"], [r.sq for r in exp]):
        assert abs(got - want) < 1e-6


def test_pool_memoization_and_introspection(server, small_csv):
    """Re-submitted plans hit the content-addressed pool (reference
    Pool, src/pool.rs:25-94) and /pool reports its state
    (pool.size() / print_indices, src/pool.rs:49-51)."""
    def pool():
        with urllib.request.urlopen(f"http://127.0.0.1:{PORT}/pool") as resp:
            return json.loads(resp.read())

    before = pool()
    plan = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})["dataframe"]
    plan = call(plan, {"Op": {"Select": [{"Source": "int"}]}})["dataframe"]
    first = call(plan, {"Action": "Collect"})
    second = call(plan, {"Action": "Collect"})  # identical plan, new request
    assert first["blocks"] == second["blocks"] == {"int": {"Int": [1, 2, 3]}}
    after = pool()
    assert after["size"] >= 1
    assert after["hits"] >= before["hits"] + 1  # second run reused the frame


def test_rewritten_sources_are_reread(server, spark, tmp_path):
    """A source file rewritten with new content and a new size gets a
    new key (fingerprint_source hashes mtime and size), so a resubmitted
    plan returns the new rows, not the memoized old reply."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    csv = tmp_path / "t.csv"
    pqt = str(tmp_path / "t.parquet")
    csv.write_text("1|foo|true\n2|bar|false\n")
    pq.write_table(pa.table({"x": [1, 2]}), pqt)
    csv_plan = call(None, {"Read": ["csv", str(csv), SMALL_SCHEMA]})["dataframe"]
    csv_plan = call(csv_plan, {"Op": {"Select": [{"Source": "int"}, {"Source": "string"}]}})["dataframe"]
    pq_plan = call(None, {"Read": ["parquet", pqt, {"columns": []}]})["dataframe"]
    pq_plan = call(pq_plan, {"Op": {"Filter": ["x", {
        "comparator": "GreaterThan", "value": {"Int": 0}}]}})["dataframe"]
    assert call(csv_plan, {"Action": "Collect"})["blocks"] == {
        "int": {"Int": [1, 2]}, "string": {"String": ["foo", "bar"]}}
    assert call(pq_plan, {"Action": "Collect"})["blocks"] == {"x": {"Int": [1, 2]}}

    csv.write_text("7|seven|true\n8|eight|false\n9|nine|true\n")
    pq.write_table(pa.table({"x": [5, 6, 7, 8]}), pqt)
    assert call(csv_plan, {"Action": "Collect"})["blocks"] == {
        "int": {"Int": [7, 8, 9]}, "string": {"String": ["seven", "eight", "nine"]}}
    assert call(pq_plan, {"Action": "Collect"})["blocks"] == {"x": {"Int": [5, 6, 7, 8]}}


def _last_job_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def test_plan_prefixes_are_built_once(server, spark, tmp_path, monkeypatch):
    """Each request that extends a plan builds only its new step: the
    source is read once over a 4-op chain, and an Op on a built prefix
    starts no Spark job (a parquet read would start one)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from df_spark.frame import Df

    csv = tmp_path / "chain.csv"
    csv.write_text("1|foo|true\n2|bar|false\n3|baz|true\n")
    reads = []
    from_csv = Df.from_csv
    monkeypatch.setattr(Df, "from_csv", staticmethod(
        lambda *a, **k: reads.append(a[1]) or from_csv(*a, **k)))
    plan = call(None, {"Read": ["csv", str(csv), SMALL_SCHEMA]})["dataframe"]
    for op in [
        {"Filter": ["int", {"comparator": "GreaterThan", "value": {"Int": 1}}]},
        {"Select": [{"Source": "int"}, {"Source": "bool"}]},
        {"OrderBy": ["int"]},
        {"Select": [{"Alias": ["y", {"Operation": [
            "Add", {"Source": "int"}, {"Constant": {"Int": 1}}]}]}]},
    ]:
        plan = call(plan, {"Op": op})["dataframe"]
    assert call(plan, {"Action": "Collect"})["blocks"] == {"y": {"Int": [3, 4]}}
    assert reads == [str(csv)]

    pqt = str(tmp_path / "chain.parquet")
    pq.write_table(pa.table({"x": [3, 1, 2]}), pqt)
    plan = call(None, {"Read": ["parquet", pqt, {"columns": []}]})["dataframe"]
    plan = call(plan, {"Op": {"Filter": ["x", {
        "comparator": "GreaterThan", "value": {"Int": 1}}]}})["dataframe"]
    before = _last_job_id(spark)
    nxt = call(plan, {"Op": {"OrderBy": ["x"]}})["dataframe"]
    assert _last_job_id(spark) == before

    # a failing step is a 400 and memoizes nothing; its prefix still
    # serves the next valid step
    with pytest.raises(urllib.error.HTTPError) as exc:
        call(plan, {"Op": {"Select": [{"Source": "nope"}]}})
    assert exc.value.code == 400
    with pytest.raises(urllib.error.HTTPError):
        call(plan, {"Op": {"Select": [{"Source": "nope"}]}})
    assert call(nxt, {"Action": "Collect"})["blocks"] == {"x": {"Int": [2, 3]}}


def test_concurrent_requests_build_a_prefix_once(server, tmp_path, monkeypatch):
    """Concurrent Op requests on one new prefix (more clients than
    cores) read the source once: the node memo's in-flight marker makes
    the other requests wait for the first build instead of repeating it."""
    import sys
    import threading

    from df_spark.frame import Df

    csv = tmp_path / "concurrent.csv"
    csv.write_text("1|foo|true\n2|bar|false\n3|baz|true\n")
    reads = []
    from_csv = Df.from_csv
    monkeypatch.setattr(Df, "from_csv", staticmethod(
        lambda *a, **k: reads.append(a[1]) or from_csv(*a, **k)))
    plan = call(None, {"Read": ["csv", str(csv), SMALL_SCHEMA]})["dataframe"]
    replies, errors = [], []

    def client(i: int) -> None:
        try:
            r = call(plan, {"Op": {"Filter": ["int", {
                "comparator": "GreaterThan", "value": {"Int": i % 3}}]}})
            replies.append(call(r["dataframe"], {"Action": "Count"})["blocks"])
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(i,)) for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert sorted(b["count"]["Int"][0] for b in replies) == [1] * 4 + [2] * 4 + [3] * 4
    assert reads == [str(csv)]


def test_date_timestamp_decimal_byte_replies(server, spark, tmp_path):
    """Column types whose collected values JSON cannot encode reply as
    their block's form: date and timestamp as ISO-8601 String, decimal
    as Float, byte as Int."""
    import datetime
    import decimal

    pqt = str(tmp_path / "typed.parquet")
    spark.createDataFrame(
        [
            (datetime.date(2024, 1, 31), datetime.datetime(2024, 1, 31, 12, 30, 5),
             decimal.Decimal("12.34"), 7),
            (datetime.date(1998, 9, 2), datetime.datetime(1998, 9, 2, 0, 0, 0),
             decimal.Decimal("-0.50"), -3),
            (None, None, None, None),
        ],
        "d date, ts timestamp, amt decimal(15,2), b tinyint",
    ).coalesce(1).write.parquet(pqt)
    plan = call(None, {"Read": ["parquet", pqt, {"columns": []}]})["dataframe"]
    plan = call(plan, {"Op": {"Select": [
        {"Source": "d"}, {"Source": "ts"}, {"Source": "amt"}, {"Source": "b"}]}})["dataframe"]
    blocks = call(plan, {"Action": {"Take": 2}})["blocks"]
    assert blocks == {
        "d": {"String": ["2024-01-31", "1998-09-02"]},
        "ts": {"String": ["2024-01-31T12:30:05", "1998-09-02T00:00:00"]},
        "amt": {"Float": [12.34, -0.5]},
        "b": {"Int": [7, -3]},
    }


def _pool() -> dict:
    with urllib.request.urlopen(f"http://127.0.0.1:{PORT}/pool") as resp:
        return json.loads(resp.read())


def _orders_plan(sf_dir: str, status: str) -> list:
    plan = call(None, {"Read": ["parquet", f"{sf_dir}/orders.parquet", {"columns": []}]})
    plan = call(plan["dataframe"], {"Op": {"Filter": ["o_orderstatus", {
        "comparator": "Equal", "value": {"String": status}}]}})
    return call(plan["dataframe"], {"Op": {"Select": [
        {"Source": "o_orderkey"}, {"Source": "o_totalprice"}]}})["dataframe"]


def test_identical_rebuilt_plan_replies_start_no_job(server, spark, sf_dir, monkeypatch):
    """An action on a plan rebuilt from scratch, request by request,
    hits the reply memo (the reference's content-addressed Pool,
    src/pool.rs:25-94): Collect, Take and Count are each served without
    building the plan or starting a Spark job."""
    from df_spark.server import Engine

    actions = ["Collect", {"Take": 5}, "Count"]
    first = [call(_orders_plan(sf_dir, "O"), {"Action": a})["blocks"] for a in actions]
    assert first[2]["count"]["Int"][0] == len(first[0]["o_orderkey"]["Int"]) > 5
    assert len(first[1]["o_orderkey"]["Int"]) == 5

    plan = _orders_plan(sf_dir, "O")
    nodes = []
    node = Engine._node
    monkeypatch.setattr(Engine, "_node", lambda *a: nodes.append(1) or node(*a))
    before, pool = _last_job_id(spark), _pool()
    again = [call(plan, {"Action": a})["blocks"] for a in actions]
    assert _last_job_id(spark) == before
    assert nodes == []
    assert again == first
    after = _pool()
    assert after["hits"] == pool["hits"] + 3
    assert (after["misses"], after["size"]) == (pool["misses"], pool["size"])


def test_different_constants_make_separate_entries(server, sf_dir):
    pool = _pool()
    for status in ["F", "P"]:
        call(_orders_plan(sf_dir, status), {"Action": "Count"})
    after = _pool()
    assert after["misses"] - pool["misses"] == 2
    assert after["size"] - pool["size"] == 2


def test_take_and_collect_of_one_plan_are_separate_entries(server, sf_dir):
    plan = _orders_plan(sf_dir, "P")
    pool = _pool()
    taken = call(plan, {"Action": {"Take": 2}})["blocks"]
    collected = call(plan, {"Action": "Collect"})["blocks"]
    assert len(taken["o_orderkey"]["Int"]) == 2
    assert len(collected["o_orderkey"]["Int"]) > 2
    assert call(plan, {"Action": {"Take": 3}})["blocks"]["o_orderkey"]["Int"] != \
        taken["o_orderkey"]["Int"]
    after = _pool()
    assert (after["misses"] - pool["misses"], after["hits"] - pool["hits"]) == (3, 0)


def test_reply_memo_evicts_least_recently_used_plan(spark, sf_dir):
    """At capacity the engine's reply memo drops its oldest reply: that
    plan's action runs again, while the newest is still served without
    a Spark job. Nothing was persisted, so eviction frees no storage."""
    from df_spark.server import Engine

    engine = Engine(spark, cache_capacity=2)

    def plan(status: str) -> list:
        return [
            {"Read": ["parquet", f"{sf_dir}/orders.parquet", {"columns": []}]},
            {"Filter": ["o_orderstatus", {
                "comparator": "Equal", "value": {"String": status}}]},
        ]

    replies = [engine.action(plan(s), "Count") for s in ["O", "F", "P"]]
    assert len(engine.replies) == 2
    assert (engine.replies.hits, engine.replies.misses) == (0, 3)

    before = _last_job_id(spark)
    assert engine.action(plan("P"), "Count") == replies[2]
    assert _last_job_id(spark) == before
    assert engine.action(plan("O"), "Count") == replies[0]  # evicted: runs again
    assert _last_job_id(spark) > before
    assert (engine.replies.hits, engine.replies.misses) == (1, 4)
    engine.replies.clear()
    engine.nodes.clear()


def test_fingerprint_changes_when_source_changes(spark, tmp_path):
    import time

    from df_spark import Df

    p = str(tmp_path / "t.parquet")
    Df.from_vecs(spark, [("x", [1, 2])]).write_parquet(p)
    fp1 = Df.from_parquet(spark, p).fingerprint
    time.sleep(0.05)
    Df.from_vecs(spark, [("x", [3, 4])]).write_parquet(p)
    fp2 = Df.from_parquet(spark, p).fingerprint
    # the reference hashes only path+column and would serve stale cache
    # (src/reader.rs:92-97); our fingerprint includes the file snapshot
    assert fp1 != fp2
