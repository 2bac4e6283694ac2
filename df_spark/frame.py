"""Fluent DataFrame API — the engine's user-facing surface.

Mirrors the reference's ``DataFrame`` builder surface (reference
``src/dataframe.rs:260-492``; Python client ``client.py:194-246``):
``select / filter / order_by / group_by / aggregate / join`` plus the
actions ``collect / count / take`` — implemented as a thin, validating
layer over ``pyspark.sql.DataFrame`` so that execution is pure Catalyst
(predicate pushdown, column pruning, whole-stage codegen, AQE all
apply; nothing here materializes driver-side).

Physical-property tracking (``ordered_by`` / pending group keys)
reproduces the reference's redundant-sort elimination
(``src/dataframe.rs:355-357, 377-381, 449-458``) at the API level;
Catalyst's EnsureRequirements does the same at the physical level.

Semantic deltas from the reference (deliberate, documented):
- real SQL nulls instead of NaN-as-null (SURVEY §1.2): nulls sort
  first ascending (matches), aggregates skip nulls.
- join name collisions: right-side columns are renamed with an ``_r``
  suffix (the reference keeps duplicate names and silently breaks —
  ``src/schema.rs:69-75``).
- join output is NOT globally key-sorted (the reference's sort-merge
  leaves it sorted); call ``.order_by`` if order matters. At scale a
  global sort after every join is wasted work.
"""

from __future__ import annotations

from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .expr import (
    Aggregator,
    EngineError,
    Expr,
    Predicate,
    Source,
    _require_column,
    _wrap,
)
from .plans.fingerprint import fingerprint_op, fingerprint_source


def _asc_nulls_first(name: str) -> Column:
    # Reference NaN-nulls sort first ascending (src/block.rs:218-230).
    return F.col(name).asc_nulls_first()


class Df:
    """Lazy, lineage-tracked frame. All transformations return a new
    ``Df``; actions trigger Catalyst execution."""

    def __init__(
        self,
        sdf: DataFrame,
        *,
        ordered_by: tuple[str, ...] = (),
        pending_group: tuple[str, ...] | None = None,
        grouped_by: tuple[str, ...] = (),
        pre_group: tuple[DataFrame, tuple[str, ...]] | None = None,
        fingerprint: str = "",
    ) -> None:
        self._sdf = sdf
        self.ordered_by = ordered_by
        # group_by() has been called but not yet materialized/aggregated
        self._pending_group = pending_group
        # list-materialized grouping (reference grouped frame w/ List cols)
        self.grouped_by = grouped_by
        # (pre-materialization sdf, keys) kept by _resolved() so a later
        # aggregate() can re-derive a true hash aggregate from origin
        # instead of collapsing the collect_list arrays row-by-row
        self._pre_group = pre_group
        self.fingerprint = fingerprint

    # ------------------------------------------------------------------
    # sources (reference src/dataframe.rs:271-295, src/reader.rs)
    # ------------------------------------------------------------------

    @staticmethod
    def from_parquet(spark: SparkSession, path: str) -> "Df":
        return Df(spark.read.parquet(path), fingerprint=fingerprint_source("parquet", path))

    @staticmethod
    def from_csv(
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        delimiter: str = "|",
        header: bool = False,
    ) -> "Df":
        """Reference CSV parity: '|'-delimited, headerless, explicit
        schema required — no inference (src/reader.rs:142-145). Spark
        splits the file into input splits, the distributed analog of the
        reference's 10 MB span fan-out (src/reader.rs:99-117)."""
        sdf = (
            spark.read.schema(schema)
            .option("delimiter", delimiter)
            .option("header", str(header).lower())
            .csv(path)
        )
        return Df(sdf, fingerprint=fingerprint_source("csv", path))

    @staticmethod
    def from_jsonl(
        spark: SparkSession,
        path: str,
        schema: T.StructType,
    ) -> "Df":
        """JSON-lines source (one JSON object per line — the interchange
        format LLM training corpora actually ship in). Explicit schema,
        same no-inference policy as ``from_csv``: schema inference on
        JSON costs a full extra pass over 100 TB and can flip types
        between runs. Splittable when uncompressed or zstd-framed, so
        Spark fans the read out exactly like CSV input splits."""
        sdf = spark.read.schema(schema).json(path)
        return Df(sdf, fingerprint=fingerprint_source("jsonl", path))

    @staticmethod
    def from_orc(spark: SparkSession, path: str) -> "Df":
        """ORC source — second columnar format; same pushdown/pruning
        properties as parquet (predicate pushdown, column projection,
        stripe-level statistics)."""
        sdf = spark.read.orc(path)
        return Df(sdf, fingerprint=fingerprint_source("orc", path))

    @staticmethod
    def from_vecs(spark: SparkSession, columns: Sequence[tuple[str, Sequence[Any]]]) -> "Df":
        """In-memory source from per-column vectors (reference
        ``from_vecs!`` — src/block.rs:1117-1134). Test-scale only."""
        names = [name for name, _ in columns]
        if not columns:
            raise EngineError("from_vecs requires at least one column")
        n = len(columns[0][1])
        for name, vals in columns:
            if len(vals) != n:
                raise EngineError(f"column {name!r} length {len(vals)} != {n}")
        rows = [tuple(vals[i] for _, vals in columns) for i in range(n)]
        fields = []
        for name, vals in columns:
            sample = next((x for x in vals if x is not None), None)
            if sample is None:
                typ: T.DataType = T.NullType()
            elif isinstance(sample, bool):
                typ = T.BooleanType()
            elif isinstance(sample, int):
                typ = T.LongType()
            elif isinstance(sample, float):
                typ = T.DoubleType()
            elif isinstance(sample, str):
                typ = T.StringType()
            elif isinstance(sample, list):
                # list columns (reference ListBlock: bool/int/float/
                # string element types — src/block.rs:1100-1115,
                # src/value.rs:89-101)
                elem = next(
                    (e for v in vals if isinstance(v, list) for e in v if e is not None),
                    None,
                )
                etypes = {
                    bool: T.BooleanType,
                    int: T.LongType,
                    float: T.DoubleType,
                    str: T.StringType,
                }
                if elem is None or type(elem) not in etypes:
                    raise EngineError(
                        f"cannot infer list element type for column {name!r}"
                    )
                typ = T.ArrayType(etypes[type(elem)]())
            else:
                raise EngineError(f"unsupported vec type {type(sample).__name__}")
            fields.append(T.StructField(name, typ, True))
        sdf = spark.createDataFrame(rows, T.StructType(fields))
        return Df(sdf, fingerprint=fingerprint_source("vecs", repr(columns)))

    @staticmethod
    def from_spark(sdf: DataFrame) -> "Df":
        return Df(sdf, fingerprint=fingerprint_source("spark", str(id(sdf))))

    # ------------------------------------------------------------------
    # helpers
    # ------------------------------------------------------------------

    @property
    def schema(self) -> T.StructType:
        return self._resolved()._sdf.schema

    @property
    def columns(self) -> list[str]:
        return self._resolved()._sdf.columns

    def to_spark(self) -> DataFrame:
        """Escape hatch to the underlying pyspark DataFrame (materializes
        a pending group_by first)."""
        return self._resolved()._sdf

    def _child(self, sdf: DataFrame, op_repr: str, **props: Any) -> "Df":
        return Df(sdf, fingerprint=fingerprint_op(self.fingerprint, op_repr), **props)

    def _resolved(self) -> "Df":
        """Materialize a pending group_by into list columns (the
        reference's grouped frame: every non-key column becomes a List
        column, output key-sorted — src/dataframe.rs:388-396, 692-735).

        Only this path pays for collect_list; ``group_by().aggregate()``
        fuses into a single hash aggregate instead (scale path)."""
        if self._pending_group is None:
            return self
        keys = list(self._pending_group)
        non_keys = [c for c in self._sdf.columns if c not in keys]
        aggs = [F.collect_list(c).alias(c) for c in non_keys]
        grouped = self._sdf.groupBy(*keys).agg(*aggs) if aggs else self._sdf.select(*keys).distinct()
        # preserve original column order; reference output is key-sorted
        grouped = grouped.select(*self._sdf.columns).orderBy(*[_asc_nulls_first(k) for k in keys])
        return Df(
            grouped,
            ordered_by=tuple(keys),
            grouped_by=tuple(keys),
            pre_group=(self._sdf, tuple(keys)),
            fingerprint=fingerprint_op(self.fingerprint, f"group_collect:{keys}"),
        )

    # ------------------------------------------------------------------
    # transformations
    # ------------------------------------------------------------------

    def select(self, *exprs: Expr | str) -> "Df":
        """Projection + computed expressions. Every computed column must
        carry an alias (reference error — src/dataframe.rs:317-318).
        Resets order/group flags (src/dataframe.rs:334-335)."""
        base = self._resolved()
        schema = base._sdf.schema
        compiled: list[Column] = []
        for e in exprs:
            e = Source(e) if isinstance(e, str) else _wrap(e)
            name = e.output_name()
            if name is None:
                raise EngineError(f"expression {e!r} must be aliased (use .alias(name))")
            e.output_type(schema)  # validates column refs + operand types
            compiled.append(e.compile(schema))
        if not compiled:
            raise EngineError("select requires at least one expression")
        return base._child(base._sdf.select(*compiled), f"select:{exprs!r}")

    def filter(self, column_or_cond: str | Expr | Column, predicate: Predicate | None = None) -> "Df":
        """Reference form: ``filter("col", Predicate.gt(5))`` — single
        column vs literal, 5 comparators (src/value.rs:214-245).
        Extension: any boolean ``Expr``/``Column`` condition (compound
        predicates come free in Spark). Preserves sort order (the
        reference propagates the sorted bit — src/dataframe.rs:620-639)."""
        base = self._resolved()
        if predicate is not None:
            if not isinstance(column_or_cond, str):
                raise EngineError("filter(col, predicate) requires a column name")
            _require_column(base._sdf.schema, column_or_cond)
            cond = predicate.apply(F.col(column_or_cond))
        elif isinstance(column_or_cond, Expr):
            cond = column_or_cond.compile(base._sdf.schema)
        elif isinstance(column_or_cond, Column):
            cond = column_or_cond
        else:
            raise EngineError("filter requires a Predicate or boolean expression")
        return base._child(
            base._sdf.filter(cond), f"filter:{column_or_cond!r}:{predicate!r}",
            ordered_by=base.ordered_by,
        )

    def order_by(self, *columns: str) -> "Df":
        """Multi-column ascending sort, nulls first (reference policy —
        SURVEY §1.2). No-op when already ordered by the same keys
        (src/dataframe.rs:355-357). Spark executes as a distributed
        range-partitioned sort."""
        base = self._resolved()
        cols = list(columns)
        if not cols:
            raise EngineError("order_by requires at least one column")
        for name in cols:
            _require_column(base._sdf.schema, name)
        if tuple(cols) == base.ordered_by:
            return base
        return base._child(
            base._sdf.orderBy(*[_asc_nulls_first(c) for c in cols]),
            f"order_by:{cols}",
            ordered_by=tuple(cols),
        )

    def group_by(self, *keys: str) -> "Df":
        """Declare grouping keys. Lazy: if the next call is
        ``aggregate``, the two fuse into one hash aggregate (map-side
        partial + final — no collect_list intermediate, the scale
        path). Any other consumer materializes the reference's grouped
        frame: non-key columns become arrays, output key-sorted
        (src/dataframe.rs:373-405)."""
        base = self._resolved()
        if not keys:
            raise EngineError("group_by requires at least one key")
        for name in keys:
            _require_column(base._sdf.schema, name)
        return Df(
            base._sdf,
            pending_group=tuple(keys),
            fingerprint=fingerprint_op(base.fingerprint, f"group_by:{list(keys)}"),
        )

    def aggregate(self, aggregators: Mapping[str, Aggregator]) -> "Df":
        """One aggregator per column (reference
        src/dataframe.rs:407-446). Validation: aggregating a group key
        is an error; every non-key column must be covered. Output keeps
        input column names and order. Fused ``groupBy().agg()`` when a
        group is pending → Catalyst partial+final aggregation."""
        if self._pending_group is not None:
            keys = list(self._pending_group)
            sdf = self._sdf
            schema = sdf.schema
            self._validate_agg_coverage(aggregators, keys, sdf.columns)
            aggs = []
            for name in sdf.columns:
                if name in keys:
                    continue
                agg = aggregators[name]
                agg.output_type(schema[name].dataType)
                aggs.append(agg.apply(F.col(name)).alias(name))
            out = sdf.groupBy(*keys).agg(*aggs).select(*sdf.columns)
            return Df(
                out,
                fingerprint=fingerprint_op(self.fingerprint, f"aggregate:{dict(aggregators)!r}"),
            )

        base = self
        sdf = base._sdf
        schema = sdf.schema
        keys = list(base.grouped_by)
        self._validate_agg_coverage(aggregators, keys, sdf.columns)
        if keys:
            # reference grouped-frame path: collapse each List column.
            # Spark's array higher-order functions (F.aggregate) evaluate
            # their lambda INTERPRETED per element, so instead of summing
            # the collect_list arrays row-by-row we re-derive the result
            # from the pre-materialization plan with a true partial+final
            # hash aggregate (whole-stage codegen, no arrays held in
            # memory). Null semantics match the list collapse exactly:
            # collect_list drops nulls, so every per-list aggregate below
            # is the null-ignoring groupBy form.
            if base._pre_group is not None:
                src, _ = base._pre_group
                src_schema = src.schema
                aggs = []
                for name in src.columns:
                    if name in keys:
                        continue
                    agg = aggregators[name]
                    elem = src_schema[name].dataType
                    agg.output_type(elem)
                    aggs.append(_collapse_agg(agg, name, elem).alias(name))
                out = (
                    src.groupBy(*keys).agg(*aggs).select(*src.columns)
                    .orderBy(*[_asc_nulls_first(k) for k in keys])
                )
                return base._child(out, f"aggregate:{dict(aggregators)!r}",
                                   ordered_by=tuple(keys))
            cols = []
            for name in sdf.columns:
                if name in keys:
                    cols.append(F.col(name))
                else:
                    agg = aggregators[name]
                    field_type = schema[name].dataType
                    agg.output_type(field_type)
                    cols.append(_apply_to_list(agg, name, field_type).alias(name))
            out = sdf.select(*cols)
            return base._child(out, f"aggregate:{dict(aggregators)!r}", ordered_by=base.ordered_by)
        # ungrouped: whole column → single row
        aggs = []
        for name in sdf.columns:
            agg = aggregators[name]
            agg.output_type(schema[name].dataType)
            aggs.append(agg.apply(F.col(name)).alias(name))
        return base._child(sdf.agg(*aggs), f"aggregate:{dict(aggregators)!r}")

    @staticmethod
    def _validate_agg_coverage(
        aggregators: Mapping[str, Aggregator], keys: Sequence[str], columns: Sequence[str]
    ) -> None:
        for name in aggregators:
            if name in keys:
                raise EngineError(f"cannot aggregate group key {name!r}")
            if name not in columns:
                raise EngineError(f"unknown column {name!r} in aggregate")
        missing = [c for c in columns if c not in keys and c not in aggregators]
        if missing:
            raise EngineError(f"columns without aggregator: {missing}")

    def join(
        self,
        right: "Df",
        left_on: str,
        right_on: str,
        how: str = "inner",
        broadcast: bool | None = None,
    ) -> "Df":
        """Equi-join on one key pair (reference: inner only,
        src/dataframe.rs:448-476). Both key columns are kept; right-side
        name collisions get an ``_r`` suffix. Extension: ``how`` accepts
        all Spark join types; ``broadcast=True`` forces a broadcast-hash
        join (small dim tables — no shuffle), ``None`` lets Catalyst/AQE
        decide by size."""
        lbase, rbase = self._resolved(), right._resolved()
        _require_column(lbase._sdf.schema, left_on)
        _require_column(rbase._sdf.schema, right_on)
        lsdf, rsdf = lbase._sdf, rbase._sdf
        # collision-renamed right columns get an "_r" suffix, repeated
        # until the name is unused on EITHER side (a left column named
        # "{key}_r" would otherwise produce duplicate output names)
        taken = set(lsdf.columns) | set(rsdf.columns)

        def uniq(name: str) -> str:
            cand = f"{name}_r"
            while cand in taken:
                cand += "_r"
            taken.add(cand)
            return cand

        renames = {
            c: uniq(c) for c in rsdf.columns if c in lsdf.columns and c != right_on
        }
        if right_on in lsdf.columns and right_on != left_on:
            renames[right_on] = uniq(right_on)
        for old, new in renames.items():
            rsdf = rsdf.withColumnRenamed(old, new)
        r_on = renames.get(right_on, right_on)
        rside = F.broadcast(rsdf) if broadcast else rsdf
        if left_on == r_on:
            # same-named key: join on name to keep ONE unambiguous column.
            # For inner joins the right key is re-added as a duplicate-
            # value column (reference parity: Schema::union keeps both
            # keys, src/schema.rs:69-76; values are equal under an inner
            # equi-join so aliasing the left key is exact). Non-inner
            # joins are an extension beyond the reference: semi/anti
            # return left columns only, outer joins keep the single
            # merged key (Spark USING semantics — a duplicate alias
            # would fabricate values for unmatched rows).
            joined = lsdf.join(rside, on=left_on, how=how)
            if how == "inner":
                joined = joined.select(
                    *lsdf.columns,
                    F.col(left_on).alias(uniq(right_on)),
                    *[F.col(c) for c in rsdf.columns if c != r_on],
                )
            elif how not in ("left_semi", "semi", "left_anti", "anti"):
                joined = joined.select(
                    *lsdf.columns, *[F.col(c) for c in rsdf.columns if c != r_on]
                )
        else:
            joined = lsdf.join(rside, on=lsdf[left_on] == rsdf[r_on], how=how)
        return Df(
            joined,
            fingerprint=fingerprint_op(
                lbase.fingerprint, f"join:{rbase.fingerprint}:{left_on}:{right_on}:{how}"
            ),
        )

    # ---- extensions beyond the reference surface ----------------------

    def explode(self, column: str, out: str = "value", keep: Sequence[str] | None = None) -> "Df":
        """Flatten an array column to one row per element (positional
        index in ``{out}_pos``)."""
        base = self._resolved()
        keep_cols = list(keep) if keep else [c for c in base._sdf.columns if c != column]
        sdf = base._sdf.select(
            *keep_cols, F.posexplode(column).alias(f"{out}_pos", out)
        )
        return base._child(sdf, f"explode:{column}")

    def cube(self, *keys: str) -> "GroupedDf":
        return GroupedDf(self._resolved(), list(keys), "cube")

    def rollup(self, *keys: str) -> "GroupedDf":
        return GroupedDf(self._resolved(), list(keys), "rollup")

    def pivot(self, group_key: str, pivot_col: str, values: Sequence[str],
              agg_col: str, agg: "Aggregator") -> "Df":
        """Wide-format aggregation: one output column per pivot value."""
        base = self._resolved()
        grouped = base._sdf.groupBy(group_key).pivot(pivot_col, list(values))
        sdf = grouped.agg(agg.apply(F.col(agg_col)))
        return base._child(sdf, f"pivot:{pivot_col}:{values}")

    def with_column(self, name: str, expr: Expr | Column) -> "Df":
        base = self._resolved()
        col = expr.compile(base._sdf.schema) if isinstance(expr, Expr) else expr
        return base._child(base._sdf.withColumn(name, col), f"with_column:{name}",
                           ordered_by=base.ordered_by)

    def union(self, other: "Df") -> "Df":
        """UNION ALL by column name (block-level union in the reference
        is internal only — src/block.rs:181)."""
        a, b = self._resolved(), other._resolved()
        return Df(
            a._sdf.unionByName(b._sdf),
            fingerprint=fingerprint_op(a.fingerprint, f"union:{b.fingerprint}"),
        )

    def intersect(self, other: "Df") -> "Df":
        a, b = self._resolved(), other._resolved()
        return Df(a._sdf.intersect(b._sdf),
                  fingerprint=fingerprint_op(a.fingerprint, f"intersect:{b.fingerprint}"))

    def except_all(self, other: "Df") -> "Df":
        a, b = self._resolved(), other._resolved()
        return Df(a._sdf.exceptAll(b._sdf),
                  fingerprint=fingerprint_op(a.fingerprint, f"except_all:{b.fingerprint}"))

    def distinct(self, *subset: str) -> "Df":
        base = self._resolved()
        sdf = base._sdf.dropDuplicates(list(subset)) if subset else base._sdf.distinct()
        return base._child(sdf, f"distinct:{list(subset)}")

    def limit(self, n: int) -> "Df":
        base = self._resolved()
        return base._child(base._sdf.limit(n), f"limit:{n}", ordered_by=base.ordered_by)

    # ------------------------------------------------------------------
    # actions (reference src/api.rs:39-44, src/dataframe.rs:494-555)
    # ------------------------------------------------------------------

    def collect(self) -> list:
        return self._resolved()._sdf.collect()

    def collect_columns(self) -> dict[str, list]:
        """Columnar result like the reference HTTP API's block form
        (src/api.rs:74-85): dict of column name → list of values, equal
        value for value to the columns of ``collect()``. Collected as
        Arrow batches and converted per column, not pivoted from Rows."""
        sdf = self._resolved()._sdf
        table = sdf.toArrow()
        out = {}
        for i, field in enumerate(sdf.schema.fields):
            vals = table.column(i).to_pylist()
            conv = _row_form(field.dataType)
            out[field.name] = vals if conv is None else [
                None if x is None else conv(x) for x in vals]
        return out

    def count(self) -> int:
        # declared-but-unimplemented in the reference (src/api.rs:78)
        return self._resolved()._sdf.count()

    def take(self, n: int) -> list:
        return self._resolved()._sdf.take(n)

    def show(self, n: int = 20, truncate: bool = True) -> None:
        self._resolved()._sdf.show(n, truncate)

    def explain(self, mode: str = "formatted") -> None:
        self._resolved()._sdf.explain(mode)

    # ---- sinks (the reference has none — SURVEY §2 checklist) ---------

    def write_parquet(self, path: str, mode: str = "overwrite",
                      partition_by: Sequence[str] | None = None,
                      compression: str = "zstd",
                      max_records_per_file: int | None = None) -> None:
        """Parquet sink. zstd by default (best scan/size tradeoff for
        cold data); ``max_records_per_file`` caps file sizes so a 100 TB
        write produces scan-friendly splits instead of giant files."""
        w = self._resolved()._sdf.write.mode(mode).option("compression", compression)
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", str(max_records_per_file))
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def write_csv(self, path: str, mode: str = "overwrite", delimiter: str = "|",
                  header: bool = False) -> None:
        (self._resolved()._sdf.write.mode(mode)
         .option("delimiter", delimiter).option("header", str(header).lower()).csv(path))

    def write_jsonl(self, path: str, mode: str = "overwrite",
                    compression: str | None = None) -> None:
        """JSON-lines sink (one object per line per Spark's json writer).
        Uncompressed by default so the files stay splittable for the
        next reader; pass e.g. ``compression='gzip'`` for archival."""
        w = self._resolved()._sdf.write.mode(mode)
        if compression:
            w = w.option("compression", compression)
        w.json(path)

    def write_orc(self, path: str, mode: str = "overwrite",
                  compression: str = "zstd") -> None:
        (self._resolved()._sdf.write.mode(mode)
         .option("compression", compression).orc(path))

    # ------------------------------------------------------------------

    def persist(self) -> "Df":
        self._resolved()._sdf.persist()
        return self

    def unpersist(self) -> "Df":
        self._resolved()._sdf.unpersist()
        return self


class GroupedDf:
    """Multi-dimensional grouping handle (cube/rollup) — terminal
    ``aggregate`` applies one aggregator per named column."""

    def __init__(self, parent: Df, keys: list[str], kind: str) -> None:
        self._parent = parent
        self._keys = keys
        self._kind = kind

    def aggregate(self, aggregators: Mapping[str, Aggregator]) -> Df:
        sdf = self._parent.to_spark()
        grouped = sdf.cube(*self._keys) if self._kind == "cube" else sdf.rollup(*self._keys)
        aggs = [agg.apply(F.col(name)).alias(name) for name, agg in aggregators.items()]
        return Df(
            grouped.agg(*aggs),
            fingerprint=fingerprint_op(
                self._parent.fingerprint, f"{self._kind}:{self._keys}:{dict(aggregators)!r}"
            ),
        )


def _row_form(dt: T.DataType) -> "Callable[[Any], Any] | None":
    """Converter from Arrow's ``to_pylist`` value of type ``dt`` to the
    value ``collect()`` returns, or None where the two already agree.
    Arrow gives tz-aware UTC timestamps, dicts for structs and key-value
    pairs for maps; ``collect()`` gives naive local timestamps, Rows and
    dicts."""
    if isinstance(dt, T.TimestampType):
        return lambda x: x.astimezone().replace(tzinfo=None)
    if isinstance(dt, T.ArrayType):
        elem = _row_form(dt.elementType)
        return elem and (lambda xs: [None if x is None else elem(x) for x in xs])
    if isinstance(dt, T.MapType):
        key = _row_form(dt.keyType) or (lambda k: k)
        val = _row_form(dt.valueType) or (lambda x: x)
        return lambda kvs: {key(k): None if x is None else val(x) for k, x in kvs}
    if isinstance(dt, T.StructType):
        fields = [(f.name, _row_form(f.dataType)) for f in dt.fields]
        return lambda d: Row(**{
            name: d[name] if conv is None or d[name] is None else conv(d[name])
            for name, conv in fields})
    return None


def _collapse_agg(agg: Aggregator, name: str, elem: T.DataType) -> Column:
    """groupBy-side equivalent of collapsing a collect_list array
    (reference ListBlock::aggregate — src/block.rs:1084-1093): the list
    drops nulls, so each form below ignores nulls, and SUM preserves the
    element type as the reference does."""
    col = F.col(name)
    if agg is Aggregator.SUM:
        return F.sum(col).cast(elem)
    if agg is Aggregator.AVERAGE:
        return F.avg(col).cast("double")
    if agg is Aggregator.COUNT:
        return F.count(col)
    if agg is Aggregator.FIRST:
        return F.first(col, ignorenulls=True)
    if agg is Aggregator.MAX:
        return F.max(col)
    return F.min(col)


def _apply_to_list(agg: Aggregator, name: str, field_type: T.DataType) -> Column:
    """Collapse an ``array<T>`` column with the element type preserved
    (reference ListBlock::aggregate — src/block.rs:1084-1093). Defensive
    fallback only: every grouped frame built by ``_resolved`` carries its
    pre-group plan, so ``aggregate`` re-derives a codegen hash aggregate
    instead (see ``_collapse_agg``)."""
    col = F.col(name)
    elem = field_type.elementType if isinstance(field_type, T.ArrayType) else field_type
    if agg is Aggregator.SUM:
        return F.aggregate(col, F.lit(None).cast(elem),
                           lambda acc, x: F.coalesce(acc + x, acc, x))
    if agg is Aggregator.AVERAGE:
        total = F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
        return total / F.size(col)
    return agg.apply_to_list(col)
