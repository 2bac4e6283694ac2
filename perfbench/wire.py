"""``wire``: the reference's own usage — one closed-loop client speaking
the JSON-over-HTTP protocol to ``df_spark.server`` at TPC-H scale.

Three session shapes, each a chain of requests where every reply
carries the plan the next request extends:

- ``q1``: Read → Filter → Select (arithmetic) → GroupBy → Aggregation
  → OrderBy → Collect (TPC-H Q1, the reference client's flagship);
- ``join``: Read orders → Filter, then Read lineitem → Filter → Join
  (the orders plan travels nested) → Select → GroupBy → Aggregation →
  OrderBy → Collect;
- ``take``: Read → Filter → Select → Take 20,000 rows.

A pass runs each shape twice: once with filter constants not seen
before (a plan-cache miss and a persist) and once resubmitting a recent
plan of that shape (a hit). A run makes 15 misses (18 when traced),
fewer than the server's 32 cache entries, so eviction is not exercised.
Constants come from the seed; every answer is computed with DuckDB on
the same parquet files during set-up."""

from __future__ import annotations

import datetime
import hashlib
import http.client
import json
import math
import os
import random
import statistics
import time

import duckdb

SF = 0.02
# fresh constants per shape: 3 x 12 misses outrun the server's 32-entry
# plan cache, so a constant reused after the pool wraps is a miss again
POOL = 12
TAKE_N = 20_000
REL_TOL = 1e-9

LINEITEM_SQL = """
SELECT l_orderkey::BIGINT AS l_orderkey, l_partkey::BIGINT AS l_partkey,
       l_suppkey::BIGINT AS l_suppkey, l_linenumber::BIGINT AS l_linenumber,
       l_quantity::DOUBLE AS l_quantity, l_extendedprice::DOUBLE AS l_extendedprice,
       l_discount::DOUBLE AS l_discount, l_tax::DOUBLE AS l_tax,
       l_returnflag, l_linestatus, strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate
FROM lineitem ORDER BY l_orderkey, l_linenumber"""
ORDERS_SQL = """
SELECT o_orderkey::BIGINT AS o_orderkey, o_custkey::BIGINT AS o_custkey,
       o_orderstatus, o_totalprice::DOUBLE AS o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
FROM orders ORDER BY o_orderkey"""

Q1_SQL = """
SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
       sum(l_extendedprice * (1.0 - l_discount)),
       sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), avg(l_discount)
FROM li WHERE l_shipdate <= ? GROUP BY 1, 2 ORDER BY 1, 2"""
JOIN_SQL = """
SELECT o_orderpriority, sum(l_quantity), sum(l_extendedprice)
FROM li JOIN (SELECT * FROM od WHERE o_orderdate >= ?) ON l_orderkey = o_orderkey
WHERE l_quantity > ? GROUP BY 1 ORDER BY 1"""
TAKE_COUNT_SQL = "SELECT count(*) FROM li WHERE l_quantity < ?"
TAKE_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"]
COLUMNS = {
    "q1": ["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
           "disc_price", "charge", "l_discount"],
    "join": ["o_orderpriority", "l_quantity", "l_extendedprice"],
    "take": TAKE_COLS,
}


def _f(x: float) -> dict:
    return {"Float": {"value": x, "phantom": None}}


def _src(c: str) -> dict:
    return {"Source": c}


def _op(kind: str, a: dict, b: dict) -> dict:
    return {"Operation": [kind, a, b]}


def _filter(col: str, cmp: str, value: dict) -> dict:
    return {"Filter": [col, {"comparator": cmp, "value": value}]}


def _read(path: str) -> dict:
    return {"Read": ["parquet", path, {"columns": []}]}


def _disc_price() -> dict:
    return _op("Multiply", _src("l_extendedprice"), _op("Subtract", {"Constant": _f(1.0)}, _src("l_discount")))


def session_steps(shape: str, const: tuple, li: str, od: str) -> list:
    """The requests of one session as ``(kind, payload...)`` tuples; each
    extends the plan of the previous reply of its chain. ``nest_*`` steps
    build the side plan that the ``join`` step sends as its right side."""
    if shape == "q1":
        (date,) = const
        charge = _op("Multiply", _disc_price(), _op("Add", {"Constant": _f(1.0)}, _src("l_tax")))
        return [
            ("read", _read(li)),
            ("op", _filter("l_shipdate", "LessThanOrEq", {"String": date})),
            ("op", {"Select": [
                _src("l_returnflag"), _src("l_linestatus"), _src("l_quantity"),
                _src("l_extendedprice"), {"Alias": ["disc_price", _disc_price()]},
                {"Alias": ["charge", charge]}, _src("l_discount")]}),
            ("op", {"GroupBy": ["l_returnflag", "l_linestatus"]}),
            ("op", {"Aggregation": {"l_quantity": "Sum", "l_extendedprice": "Sum",
                                    "disc_price": "Sum", "charge": "Sum", "l_discount": "Average"}}),
            ("op", {"OrderBy": ["l_returnflag", "l_linestatus"]}),
            ("collect", "Collect"),
        ]
    if shape == "join":
        date, qty = const
        return [
            ("nest_read", _read(od)),
            ("nest_op", _filter("o_orderdate", "GreaterThanOrEq", {"String": date})),
            ("read", _read(li)),
            ("op", _filter("l_quantity", "GreaterThan", _f(qty))),
            ("join", "l_orderkey", "o_orderkey"),
            ("op", {"Select": [_src("o_orderpriority"), _src("l_quantity"), _src("l_extendedprice")]}),
            ("op", {"GroupBy": ["o_orderpriority"]}),
            ("op", {"Aggregation": {"l_quantity": "Sum", "l_extendedprice": "Sum"}}),
            ("op", {"OrderBy": ["o_orderpriority"]}),
            ("collect", "Collect"),
        ]
    (qty,) = const
    return [
        ("read", _read(li)),
        ("op", _filter("l_quantity", "LessThan", _f(qty))),
        ("op", {"Select": [_src(c) for c in TAKE_COLS]}),
        ("take", {"Take": TAKE_N}),
    ]


def _distinct(draw) -> list[tuple]:
    out: dict[tuple, None] = {}
    while len(out) < POOL:
        out.setdefault(draw())
    return list(out)


def pct(xs: list[float], q: float) -> tuple[float, int]:
    """Nearest-rank percentile and the sample count. A percentile is only
    reported when at least ten samples lie beyond it."""
    if not xs:
        return 0.0, 0
    s = sorted(xs)
    k = min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))
    if q > 0.5 and len(s) - 1 - k < 10:
        raise RuntimeError(f"p{round(q * 100)} of {len(s)} samples has <10 beyond it")
    return s[k], len(s)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    return a == b


class Client:
    """One client on one connection to the server; http.client reopens
    it when the server closes it after a reply."""

    def __init__(self, port: int) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def call(self, plan, function) -> tuple[dict, int, float]:
        body = json.dumps({"dataframe": plan, "function": function})
        t0 = time.perf_counter()
        self.conn.request("POST", "/call", body, {"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        raw = resp.read()
        dt = time.perf_counter() - t0
        return json.loads(raw), len(raw), dt

    def pool(self) -> dict:
        self.conn.request("GET", "/pool")
        return json.loads(self.conn.getresponse().read())

    def close(self) -> None:
        self.conn.close()


class Wire:
    name = "wire"
    # a run holds ≥100 requests, so the request p90 has ≥10 samples
    # beyond it, and ≥67 op requests, so the op p85 does
    min_requests = 100
    min_ops = 67
    # pass_s is the least of three passes: co-tenant CPU steal on a
    # shared VM slows one pass often, all three less often
    min_passes = 3
    # the JIT keeps compiling the driver's planning code through the
    # first two passes (measured on 4 vCPUs: 14-17 s, then 8-13 s, then
    # flat at 7-8 s on a quiet host), so both count as set-up
    warm_up_passes = 2

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.rng = random.Random(seed)
        self.answers: dict[tuple, object] = {}
        self.file_hash = ""
        self.recent: dict[str, list[tuple]] = {"q1": [], "join": [], "take": []}
        self.next_fresh = {"q1": 0, "join": 0, "take": 0}
        self.lat: dict[str, list[float]] = {}
        self.resp_bytes = 0
        self.ops = 0
        self.requests = 0

    # ---- set-up -------------------------------------------------------

    def make_inputs(self, out_dir: str) -> None:
        """TPC-H tables from DuckDB's generator as parquet, the seeded
        constants for each shape, and DuckDB's answer for every one."""
        os.makedirs(out_dir, exist_ok=True)
        self.li = os.path.join(out_dir, "lineitem.parquet")
        self.od = os.path.join(out_dir, "orders.parquet")
        con = duckdb.connect()
        try:
            con.execute(f"CALL dbgen(sf={SF})")
            con.execute(f"COPY ({LINEITEM_SQL}) TO '{self.li}' (FORMAT parquet)")
            con.execute(f"COPY ({ORDERS_SQL}) TO '{self.od}' (FORMAT parquet)")
            con.execute("DROP TABLE lineitem; DROP TABLE orders")
            digest = hashlib.sha256()
            for path in (self.li, self.od):
                with open(path, "rb") as f:
                    digest.update(f.read())
            if self.file_hash and digest.hexdigest() != self.file_hash:
                raise RuntimeError("table generator is not deterministic")
            self.file_hash = digest.hexdigest()
            con.execute(f"CREATE TABLE li AS SELECT * FROM '{self.li}'")
            con.execute(f"CREATE TABLE od AS SELECT * FROM '{self.od}'")
            # constants vary within narrow ranges, so every seed's plans
            # do about the same work: Q1's ship-date cutoff is 60-120 days
            # before 1998-12-01 (the spec's is 90), the join keeps ~half of
            # each side, and a take filter keeps 66-90% of lineitem
            rng = random.Random(self.seed)
            q1_end, join_start = datetime.date(1998, 12, 1), datetime.date(1995, 1, 1)
            self.pools = {
                "q1": _distinct(lambda: (
                    str(q1_end - datetime.timedelta(days=rng.randint(60, 120))),)),
                "join": _distinct(lambda: (
                    str(join_start + datetime.timedelta(days=rng.randint(0, 180))),
                    float(rng.randint(20, 30)))),
                "take": [(float(q),) for q in rng.sample(range(34, 46), POOL)],
            }
            answers = {}
            for (date,) in self.pools["q1"]:
                answers[("q1", (date,))] = con.execute(Q1_SQL, [date]).fetchall()
            for date, qty in self.pools["join"]:
                answers[("join", (date, qty))] = con.execute(JOIN_SQL, [date, qty]).fetchall()
            for (qty,) in self.pools["take"]:
                answers[("take", (qty,))] = con.execute(TAKE_COUNT_SQL, [qty]).fetchone()[0]
            cols = ", ".join(TAKE_COLS)
            self.source = {
                (r[0], r[1]): r for r in con.execute(f"SELECT {cols} FROM li").fetchall()
            }
            self.answers = answers
        finally:
            con.close()

    def start(self, spark, state_dir: str) -> None:
        from df_spark.server import start_server

        self.httpd = start_server(spark, port=0)
        self.client = Client(self.httpd.server_address[1])

    # ---- checks -------------------------------------------------------

    def check(self, shape: str, const: tuple, blocks: dict) -> str | None:
        cols = list(blocks)
        values = [next(iter(blocks[c].values())) for c in cols]
        rows = list(zip(*values)) if values else []
        if cols != COLUMNS[shape]:
            return f"{shape}: columns {cols}, expected {COLUMNS[shape]}"
        if shape == "take":
            want = min(TAKE_N, self.answers[("take", const)])
            if len(rows) != want:
                return f"take returned {len(rows)} rows, expected {want}"
            keys = set()
            for r in rows:
                src = self.source.get((r[0], r[1]))
                if src is None or tuple(r) != src or not r[2] < const[0]:
                    return f"take row {r} is not a source row passing the filter"
                keys.add((r[0], r[1]))
            return None if len(keys) == len(rows) else "take returned duplicate rows"
        want = self.answers[(shape, const)]
        if len(rows) != len(want):
            return f"{shape}: {len(rows)} rows, expected {len(want)}"
        for got, exp in zip(rows, want):
            if len(got) != len(exp) or not all(_close(a, b) for a, b in zip(got, exp)):
                return f"{shape}: row {got} != {exp}"
        return None

    # ---- the measured loop ---------------------------------------------

    def _pick(self, shape: str, fresh: bool) -> tuple:
        if fresh or not self.recent[shape]:
            pool = self.pools[shape]
            const = pool[self.next_fresh[shape] % len(pool)]
            self.next_fresh[shape] += 1
            self.recent[shape] = (self.recent[shape] + [const])[-4:]
            return const
        return self.rng.choice(self.recent[shape])

    def _note(self, kind: str, dt: float) -> None:
        self.lat.setdefault(kind, []).append(dt * 1e3)

    def _session(self, ctx, shape: str, fresh: bool) -> None:
        const = self._pick(shape, fresh)
        tag = "miss" if fresh else "hit"
        plan = None
        nested = None
        with ctx.tracer.span(f"session.{shape}.{tag}", trace=f"s{ctx.sessions}"):
            ctx.sessions += 1
            steps = session_steps(shape, const, self.li, self.od)
            for i, step in enumerate(steps):
                kind = step[0]
                if kind in ("read", "nest_read"):
                    fn = step[1]
                    base = None
                elif kind in ("op", "nest_op"):
                    fn = {"Op": step[1]}
                    base = nested if kind == "nest_op" else plan
                elif kind == "join":
                    fn = {"Op": {"Join": [nested, step[1], step[2]]}}
                    base = plan
                else:
                    fn = {"Action": step[1]}
                    base = plan
                label = kind.replace("nest_", "")
                if kind == "collect":
                    label = f"collect_{tag}"
                elif kind == "join":
                    label = "op"
                with ctx.tracer.span(f"request.{label}"):
                    try:
                        reply, size, dt = self.client.call(base, fn)
                        err = reply.get("error")
                    except (OSError, http.client.HTTPException, ValueError) as e:
                        reply, size, dt, err = {}, 0, None, f"{type(e).__name__}: {e}"
                self.resp_bytes += size
                self.requests += 1
                if label == "op":
                    self.ops += 1
                if dt is not None:  # a request with no reply has no latency
                    self._note(label, dt)
                if err is None and kind in ("collect", "take"):
                    err = self.check(shape, const, reply.get("blocks", {}))
                ctx.record(f"{shape}.{label}", err)
                if err is not None:
                    # the rest of the session has no plan to extend: its
                    # requests count as failed, not as never attempted
                    for rest in steps[i + 1:]:
                        ctx.record(f"{shape}.{rest[0]}", "skipped after a failed request")
                    return
                if kind.startswith("nest_"):
                    nested = reply["dataframe"]
                else:
                    plan = reply["dataframe"]

    def run_pass(self, ctx) -> None:
        order = [(s, f) for s in ("q1", "join", "take") for f in (True, False)]
        self.rng.shuffle(order)
        for shape, fresh in order:
            self._session(ctx, shape, fresh)

    def warm_up(self, ctx) -> None:
        """Whole passes: plan replay, persist and collect of each session
        kind are cold until then (measured: later passes run 15-25%
        faster when the warm-up is only one session of each shape)."""
        for _ in range(self.warm_up_passes):
            self.run_pass(ctx)

    def enough(self) -> bool:
        return self.requests >= self.min_requests and self.ops >= self.min_ops

    def begin_measure(self) -> None:
        """Forget the warm-up's samples; note the plan-cache counters."""
        self.lat.clear()
        self.resp_bytes = 0
        self.ops = 0
        self.requests = 0
        self.pool0 = self.client.pool()

    def layers(self, pass_totals, tracer, self_times) -> dict[str, float]:
        pool1 = self.client.pool()
        lat = self.lat
        reqs = [x for v in lat.values() for x in v]
        actions = [x for k in ("collect_hit", "collect_miss", "take") for x in lat.get(k, [])]
        out = {}
        out["wire.req_p50_ms"], out["wire.requests"] = pct(reqs, 0.5)
        out["wire.req_p90_ms"], _ = pct(reqs, 0.9)
        out["wire.action_p50_ms"], out["wire.actions"] = pct(actions, 0.5)
        out["wire.op_p50_ms"], out["wire.ops"] = pct(lat.get("op", []), 0.5)
        out["wire.op_p85_ms"], _ = pct(lat.get("op", []), 0.85)
        out["wire.read_p50_ms"], _ = pct(lat.get("read", []), 0.5)
        out["wire.collect_hit_p50_ms"], _ = pct(lat.get("collect_hit", []), 0.5)
        out["wire.collect_miss_p50_ms"], _ = pct(lat.get("collect_miss", []), 0.5)
        out["wire.take_p50_ms"], _ = pct(lat.get("take", []), 0.5)
        out["wire.cache_hits"] = float(pool1["hits"] - self.pool0["hits"])
        out["wire.cache_misses"] = float(pool1["misses"] - self.pool0["misses"])
        out["wire.resp_mb"] = self.resp_bytes / 2**20
        for k in ("jobs", "tasks", "exec_cpu_s"):
            out[f"wire.{k}"] = statistics.median([getattr(t, k) for t in pass_totals])
        out["wire.session_self_ms"] = 1e3 * statistics.median(
            [self_times[sp.id] for sp in tracer.spans if sp.name.startswith("session.")])
        return out

    def finish(self, ctx) -> None:
        self.client.close()
        self.httpd.shutdown()
        self.httpd.server_close()
