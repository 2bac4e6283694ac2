"""HTTP query server speaking the reference's wire protocol.

The reference is client/server: the Python client serializes each
operation as JSON, POSTs to ``/call``, and holds the returned plan
opaquely between calls (reference ``client.py:194-246``,
``src/api.rs:39-168``). This server implements the same protocol over
the PySpark engine, so a user of the reference's client can point it at
this engine unchanged:

- request: ``{"dataframe": <plan|null>, "function": F}`` with ``F`` one
  of ``{"Read": [format, path, schema]}``, ``{"Op": {...}}``,
  ``{"Action": "Collect" | "Count" | {"Take": n}}``.
- response: ``{"dataframe": <plan>, "blocks": {col: {"Int": [...]}}}``
  (externally-tagged block vectors like the reference's ``AnyBlock`` —
  ``src/block.rs:110-119``).
- ops: ``Select`` (ColumnExpr trees: Constant/Source/Alias/Operation),
  ``Filter`` (comparator + typed value), ``OrderBy``, ``GroupBy``,
  ``Aggregation``, ``Join`` (the right side arrives as a nested plan —
  "the whole lineage tree is the wire format").

The plan this server returns is its own opaque op list (the client
round-trips it verbatim, exactly as with the reference server). Like
the reference's content-addressed ``Pool`` (``src/pool.rs:25-94``), the
server keeps every lineage node it has built: each prefix of a plan has
a key computed from the wire JSON alone (the source's path, mtime, size
and declared schema for ``Read``; the parent's key and the op's
canonical JSON for every other node), and ``Engine.build`` looks the
whole plan up by that key, building only the missing suffix. An ``Op``
request on a known prefix therefore validates just its one new step,
and a rewritten source file gets a new key, so it is re-read. Like the
reference's ``as_blocks`` (``src/api.rs:74-85``), an action's reply is
memoized too: its encoded ``blocks`` are kept under the plan's key and
the action's canonical JSON, so a re-submitted action (even from a new
client) is served without building the plan or running a Spark job.
Results reach the reply through Arrow (``Df.collect_columns``).
``Count``/``Take`` are implemented (the reference declares them but
panics — ``src/api.rs:78``); ``Take n`` runs on ``limit(n)``, so each
task stops once it has ``n`` rows.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .expr import Aggregator, Comparator, Expr, Predicate, Value, c, v
from .frame import Df
from .plans.fingerprint import fingerprint_op, fingerprint_source
from .plans.memo import Memo

_TYPE_MAP = {
    "Bool": T.BooleanType(),
    "Int": T.LongType(),
    "Float": T.DoubleType(),
    "String": T.StringType(),
}

_AGG_MAP = {
    "Average": Aggregator.AVERAGE,
    "Count": Aggregator.COUNT,
    "First": Aggregator.FIRST,
    "Max": Aggregator.MAX,
    "Min": Aggregator.MIN,
    "Sum": Aggregator.SUM,
}

_CMP_MAP = {
    "Equal": Comparator.EQUAL,
    "GreaterThan": Comparator.GREATER_THAN,
    "GreaterThanOrEq": Comparator.GREATER_THAN_OR_EQ,
    "LessThan": Comparator.LESS_THAN,
    "LessThanOrEq": Comparator.LESS_THAN_OR_EQ,
}


def _parse_value(obj: Any) -> Value:
    """Reference ``Value`` serialization: ``{"Int": 5}``, ``{"Bool":
    true}``, ``{"String": "x"}``, ``{"Float": {"value": 1.5, "phantom":
    null}}`` (client.py:55-69)."""
    if not isinstance(obj, dict) or len(obj) != 1:
        raise ValueError(f"bad value: {obj!r}")
    (kind, val), = obj.items()
    if kind == "Float" and isinstance(val, dict):
        val = val["value"]
    if kind == "Int":
        val = int(val)
    return Value(val)


def _parse_expr(obj: Any) -> Expr:
    """Reference ``ColumnExpr`` serialization (client.py:119-186)."""
    (kind, args), = obj.items()
    if kind == "Source":
        return c(args)
    if kind == "Constant":
        return v(_parse_value(args).val)
    if kind == "Alias":
        name, child = args
        return _parse_expr(child).alias(name)
    if kind == "Operation":
        op, left, right = args
        le, re_ = _parse_expr(left), _parse_expr(right)
        if op == "Add":
            return le + re_
        if op == "Subtract":
            return le - re_
        if op == "Multiply":
            return le * re_
        if op == "Divide":
            return le / re_
    raise ValueError(f"bad column expr: {obj!r}")


def _parse_schema(obj: dict) -> T.StructType:
    return T.StructType(
        [T.StructField(col["name"], _TYPE_MAP[col["type_"]]) for col in obj["columns"]]
    )


def _canonical(obj: Any) -> str:
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


class Engine:
    """Builds wire plans through the fluent Df, one memoized node per
    plan prefix, and memoizes each action's encoded reply blocks.

    Replies, not Spark frames, are what an action keeps: nothing is
    ``persist()``-ed, so a plan that extends an already-actioned plan
    recomputes that plan's rows (``nodes`` still spares it the
    re-planning). The reply memo holds up to ``cache_capacity`` encoded
    replies on the driver, each one the server has already built in
    full to send it."""

    def __init__(self, spark: SparkSession, cache_capacity: int = 32) -> None:
        self.spark = spark
        # (plan key, canonical action JSON) -> the reply's blocks as JSON
        self.replies = Memo(capacity=cache_capacity)
        # prefix key -> built Df; its per-key in-flight marker makes
        # concurrent requests for one new prefix build it once
        self.nodes = Memo()
        self._snapshots: dict[str, str] = {}  # path -> last source fingerprint read
        self._read_lock = threading.Lock()

    def _prefix_keys(self, plan: list[dict]) -> list[str]:
        """The key of every prefix of ``plan``, computed without
        building anything."""
        keys: list[str] = []
        for op in plan:
            (name, args), = op.items()
            if name == "Read":
                fmt, path, schema = args
                key = fingerprint_op(fingerprint_source(fmt, path), _canonical(schema))
            elif not keys:
                raise ValueError("plan has no Read source")
            elif name == "Join":
                right_plan, lcol, rcol = args
                right_key = self._prefix_keys(right_plan)[-1]
                key = fingerprint_op(keys[-1], _canonical(["Join", right_key, lcol, rcol]))
            else:
                key = fingerprint_op(keys[-1], _canonical(op))
            keys.append(key)
        if not keys:
            raise ValueError("empty plan")
        return keys

    def build(self, plan: list[dict]) -> Df:
        keys = self._prefix_keys(plan)
        return self._node(plan, keys, len(keys))

    def action(self, plan: list[dict], action: Any) -> str:
        """The reply blocks of ``action`` on ``plan`` as encoded JSON,
        memoized: a hit builds nothing and runs no Spark job."""
        keys = self._prefix_keys(plan)

        def run() -> str:
            df = self._node(plan, keys, len(keys))
            if action == "Collect":
                blocks = self.blocks(df)
            elif action == "Count":
                blocks = {"count": {"Int": [df.count()]}}
            elif isinstance(action, dict) and "Take" in action:
                blocks = self.blocks(df.limit(int(action["Take"])))
            else:
                raise ValueError(f"unknown action {action!r}")
            return json.dumps(blocks)

        return self.replies.get_or_build((keys[-1], _canonical(action)), run)

    def _node(self, plan: list[dict], keys: list[str], n: int) -> Df:
        """The Df of ``plan[:n]``: memoized, else the memoized parent
        plus one step. A step that raises memoizes nothing."""
        def step() -> Df:
            (name, args), = plan[n - 1].items()
            if name == "Read":
                return self._read(*args)
            return self._apply(self._node(plan, keys, n - 1), name, args)

        return self.nodes.get_or_build((keys[n - 1],), step)

    def _read(self, fmt: str, path: str, schema: dict) -> Df:
        # Spark's cache matches a re-read of a path to frames persisted
        # from it, whatever the file held then, so a path read before
        # under another (mtime, size) snapshot is refreshed first. The
        # lock keeps a concurrent reader of the new snapshot from
        # collecting before that refresh.
        snapshot = fingerprint_source(fmt, path)
        with self._read_lock:
            if self._snapshots.setdefault(path, snapshot) != snapshot:
                self.spark.catalog.refreshByPath(path)
                self._snapshots[path] = snapshot
        if fmt == "csv":
            return Df.from_csv(self.spark, path, _parse_schema(schema))
        if fmt == "parquet":  # extension beyond the reference
            return Df.from_parquet(self.spark, path)
        raise ValueError(f"unknown format {fmt!r}")

    def _apply(self, df: Df, name: str, args: Any) -> Df:
        if name == "Select":
            return df.select(*[_parse_expr(e) for e in args])
        if name == "Filter":
            col, pred = args
            return df.filter(col, Predicate(_CMP_MAP[pred["comparator"]],
                                            _parse_value(pred["value"])))
        if name == "OrderBy":
            return df.order_by(*args)
        if name == "GroupBy":
            return df.group_by(*args)
        if name == "Aggregation":
            return df.aggregate({col: _AGG_MAP[a] for col, a in args.items()})
        if name == "Join":
            right_plan, lcol, rcol = args
            return df.join(self.build(right_plan), lcol, rcol)
        raise ValueError(f"unknown op {name!r}")

    def blocks(self, df: Df) -> dict[str, dict[str, list]]:
        """Columnar result in the reference's externally-tagged AnyBlock
        form (src/block.rs:110-119)."""
        cols = df.collect_columns()
        # the Arrow collect above already fetched this frame's schema
        # (the frames passed here carry no pending group_by, so
        # df.schema reads the same DataFrame)
        return {
            field.name: {
                _block_tag(field.dataType):
                    _block_values(field.dataType, cols[field.name])
            }
            for field in df.schema.fields
        }


def _block_tag(dt: T.DataType) -> str:
    if isinstance(dt, T.ArrayType):
        return _block_tag(dt.elementType) + "List"
    if isinstance(dt, T.BooleanType):
        return "Bool"
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "Int"
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        return "Float"
    return "String"


def _block_values(dt: T.DataType, values: list) -> list:
    """A column's values in the JSON form of its block tag: decimals as
    floats, and dates and timestamps as ISO-8601 strings (the
    reference's AnyBlock has no date block). Nulls stay null."""
    if isinstance(dt, T.ArrayType):
        return [None if v is None else _block_values(dt.elementType, v)
                for v in values]
    if isinstance(dt, T.DecimalType):
        return [None if v is None else float(v) for v in values]
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return [None if v is None else v.isoformat() for v in values]
    return values


def make_handler(engine: Engine):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # noqa: D102 — quiet server
            pass

        def do_GET(self):  # noqa: N802 — http.server API
            """Pool introspection (reference ``pool.size()`` /
            ``print_indices`` — src/pool.rs:49-51)."""
            if self.path != "/pool":
                self.send_error(404)
                return
            payload = json.dumps(
                {
                    "size": len(engine.replies),
                    "hits": engine.replies.hits,
                    "misses": engine.replies.misses,
                }
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(payload)

        def do_POST(self):  # noqa: N802 — http.server API
            if self.path != "/call":
                self.send_error(404)
                return
            try:
                length = int(self.headers["Content-Length"])
                body = json.loads(self.rfile.read(length))
                plan = body.get("dataframe") or []
                fn = body["function"]
                blocks = "{}"
                if "Read" in fn:
                    plan = [{"Read": fn["Read"]}]
                elif "Op" in fn:
                    # eager validation: builds only the new step, and
                    # build errors surface as 400s
                    plan = plan + [fn["Op"]]
                    engine.build(plan)
                elif "Action" in fn:
                    # content-addressed memoization (reference Pool,
                    # src/pool.rs:25-94): a re-submitted action — even
                    # on a plan rebuilt from scratch by a new client —
                    # is served its memoized reply
                    blocks = engine.action(plan, fn["Action"])
                else:
                    raise ValueError(f"unknown function {fn!r}")
                payload = f'{{"dataframe": {json.dumps(plan)}, "blocks": {blocks}}}'
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(payload.encode())
            except Exception as e:  # noqa: BLE001 — wire boundary
                msg = json.dumps({"error": str(e)}).encode()
                self.send_response(400)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(msg)

    return Handler


def start_server(spark: SparkSession, port: int = 3000) -> ThreadingHTTPServer:
    """Start the server on a daemon thread; returns the server object
    (call ``.shutdown()`` to stop)."""
    engine = Engine(spark)
    httpd = ThreadingHTTPServer(("127.0.0.1", port), make_handler(engine))
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    return httpd
