"""Compiler for the Generic metric-computation DSL (§2.9) — Spark-first.

Reference engine: ``/root/reference/yahoo_panoptes/plugins/polling/generic/
snmp/plugin_polling_generic_snmp.py:71-762`` (doc ``docs/
Generic_SNMP_Polling_DSL.md``). The reference evaluates a JSON "program"
per device with per-index ``eval``; here the program compiles ONCE into a
DataFrame plan that runs for ALL devices in one go — the per-device loop
becomes ONE pass over the OID frame partitioned by device_id: every walk
pivoted into (device_id, index) rows, every per-device value (scalars,
aggregates, membership key sets) a device_id window over the same
partitioning, every group a projection of those rows. The walk is read
and shuffled once per program and nothing is cached, which is the
shape that scales.

Semantics preserved (file:line cites into the reference engine):

- shorthand + defaults normalization (:378-449): bare value -> {value},
  type inferred from int/float literals; metrics default type=integer,
  metric_type=gauge; dimensions default type=string.
- driving-index choice (:329-349): explicit ``indices`` > ``indices_from``
  table > first table referenced in the value expression.
- ``_has_indices`` (:351-376, v0.2 path).
- per-(index,target) eval failure -> that target absent at that index
  (:489-503); NULL from TRY_CAST/try_divide reproduces the skip.
- index_transform re-keying applied at table build (:205-209): matching
  raw indices re-keyed, unmatched KEEP their raw index.
  DEVIATION: when two walked indices re-key onto one key, a target keeps
  one result there (the larger as a string); the reference's dict keeps
  the row walked last.
- top-level targets: falsy value (0, '', None) dropped (:508-519 — the
  ``if not value: continue`` quirk).
- v0.2 assembly (:586-678): one group per (device, index) with >=1 indexed
  metric; top-level metrics appended INTO each indexed group; devices with
  no surviving indexed metrics get a single top-level-only group.
- empty-dimension suppression (:524-541,567-584): dimension_value == ''
  is never added; the group is suppressed unless ignore_empty_dimensions.
  DEVIATION: the reference's ``dimension_was_empty`` flag is sticky across
  the index loop (dict-order dependent — later indices of an unrelated
  group get suppressed); we evaluate per (device, index), which is the
  deterministic reading of the documented behavior.

The eval-arbitrary-Python escape hatch is NOT reproduced; expressions the
:mod:`metric_expr` translator rejects raise ``UnsupportedExpression`` and
can be routed to a pandas-UDF fallback by the caller.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .metric_expr import (
    ExprInfo,
    UnsupportedExpression,
    _q,
    cast_sql,
    compile_transform,
    compile_value_expr,
    table_col,
)

_METRIC_DEFAULT_TYPE = "integer"
_DIMENSION_DEFAULT_TYPE = "string"


def _py_int(x):
    return int(x)


_PY_CASTS = {
    # python twins of metric_expr.CAST_SQL (reference _TYPE_MAPPING)
    **{k: _py_int for k in (
        "Integer", "Integer32", "UInteger32", "Counter32", "Counter64",
        "Gauge32", "TimeTicks", "integer", "int", "long")},
    **{k: float for k in ("float", "double")},
    **{k: str for k in (
        "Octet String", "Object Identifier", "Bit String", "IpAddress",
        "Opaque", "NsapAddress", "string", "str")},
}


def normalize_program(program: dict, schema_version: str = "0.2") -> dict:
    """Shorthand + defaults pass (reference :255-274, :378-449)."""
    prog = {"oids": dict(program.get("oids", {})), "metrics_groups": []}
    for group in program["metrics_groups"]:
        g = {
            "group_name": group["group_name"],
            "metrics": {},
            "dimensions": {},
            "ignore_empty_dimensions": group.get(
                "ignore_empty_dimensions", schema_version == "0.1"
            ),
        }
        for targets_type, default_type in (
            ("metrics", _METRIC_DEFAULT_TYPE),
            ("dimensions", _DIMENSION_DEFAULT_TYPE),
        ):
            for name, raw in group.get(targets_type, {}).items():
                tmap = dict(raw) if isinstance(raw, dict) else {"value": raw}
                if "type" not in tmap:
                    v = tmap.get("value")
                    if isinstance(v, bool):
                        # reference: isinstance(True, int) -> 'integer'
                        tmap["type"] = "integer"
                    elif isinstance(v, int):
                        tmap["type"] = "integer"
                    elif isinstance(v, float):
                        tmap["type"] = "float"
                    else:
                        tmap["type"] = default_type
                if targets_type == "metrics" and "metric_type" not in tmap:
                    tmap["metric_type"] = "gauge"
                g[targets_type][name] = tmap
        prog["metrics_groups"].append(g)
    return prog


@dataclass
class _Target:
    name: str
    tmap: dict
    info: ExprInfo | None
    final_sql: str | None  # cast+transform applied OVER the __raw column
    indexed: bool
    is_metric: bool
    mode: str = "sql"  # 'sql' (translated) | 'py' (safe-interpreter fallback)
    # statically-known type of the raw value when the target is a python
    # literal — lets the falsy-skip filter avoid a per-target schema
    # analysis round-trip
    raw_kind: str | None = None  # 'boolean' | 'numeric' | None


_EMPTY_M = (
    "cast(array() as array<struct<metric_name:string,metric_value:double,"
    "metric_type:string,metric_creation_timestamp:double>>)"
)
_EMPTY_D = (
    "cast(array() as array<struct<dimension_name:string,"
    "dimension_value:string>>)"
)
_OVER_DEVICE = " OVER (PARTITION BY device_id)"


def _subst(sql: str, names: dict) -> str:
    """Replace whole identifiers of ``sql`` in one pass (a replacement
    text is never re-scanned)."""
    if not names:
        return sql
    alts = "|".join(map(re.escape, sorted(names, key=len, reverse=True)))
    return re.sub(rf"\b({alts})\b", lambda m: names[m.group(1)], sql)


def _truthy(raw: Column, kind: str) -> Column:
    """Python truthiness of a raw top-level value: numeric 0/0.0 and ''
    are falsy; a non-empty string — including '0' — is truthy."""
    if kind == "boolean":
        return raw
    if kind == "string":
        return raw != ""
    return raw.cast("double") != 0.0


def _array(entries: list, value: str, empty: str) -> Column:
    """The entries whose ``value`` field is non-NULL, or a typed empty
    array when there are none."""
    if not entries:
        return F.expr(empty)
    return F.filter(F.array(*entries), lambda s: s[value].isNotNull())


class MetricDSLCompiler:
    """Compile one DSL program against long-format OID tables.

    Parameters
    ----------
    oid_tables:
        DataFrame (device_id, table_name, index, value:string) — S3/S4
        sources in long form. ``get``-method oids are rows whose index is
        arbitrary (first value per device wins).
    static_devices:
        DataFrame (device_id) giving the device universe for static-only
        programs; defaults to ``oid_tables.select(device_id).distinct()``.

    The compiled plan caches nothing: an action on it reads
    ``oid_tables`` once (plus once per join-fabric fallback target, see
    :func:`compile`), before and after ``spark.catalog.clearCache()``
    alike.
    """

    def __init__(
        self,
        spark: SparkSession,
        program: dict,
        oid_tables: DataFrame,
        interval_sec: int = 60,
        schema_version: str = "0.2",
        static_devices: DataFrame | None = None,
    ):
        self.spark = spark
        self.program = normalize_program(program, schema_version)
        self.oids_spec = self.program["oids"]
        self.oid_tables = oid_tables
        self.interval = interval_sec
        self.schema_version = schema_version
        self.static_devices = static_devices
        self.known_tables = set(self.oids_spec.keys())
        self.scalar_oids = {
            n for n, s in self.oids_spec.items() if s.get("method") == "get"
        }
        self._devices = (
            static_devices
            if static_devices is not None
            else oid_tables.select("device_id").distinct()
        )
        self._cells_cache: DataFrame | None = None
        # targets the one pass cannot evaluate in place, compiled through
        # the join fabric and fed back into it as pseudo OID tables:
        # table name -> (device_id, table_name, index, value) rows
        self._fallback_walks: dict[str, DataFrame] = {}
        self._fallback_scalars: dict[str, DataFrame] = {}

    # -- OID table materialization ---------------------------------------

    def _pivotable(self) -> list[str]:
        """Bulk-walk tables eligible for the one-pivot wide frame:
        dynamic (non-static, non-get) and no ``index_transform``
        (re-keying can collide indices, where dict last-write-wins
        semantics need the per-table long path)."""
        return sorted(
            n
            for n, s in self.oids_spec.items()
            if s["method"] not in ("static", "get")
            and not s.get("index_transform")
        )

    def _pivot(
        self, src: DataFrame, walks: list, scalars: list, listed: bool = False
    ) -> DataFrame:
        """(device_id, index, __t_<table>, ...) from long rows ``src`` in
        one device_id exchange: the cells of every table in ``walks``
        (max per index) and, as a device_id window over the same
        partitioning, the one value per device of every table in
        ``scalars`` (min over its rows). ``__first`` marks exactly one
        row per device; ``__listed`` is the device-universe test (a
        ``static_devices`` marker row when ``listed``, else every
        device)."""
        tn, d = F.col("table_name"), Window.partitionBy("device_id")
        aggs = [
            F.max(F.when(tn == n, F.col("value"))).alias(table_col(n))
            for n in walks
        ] + [
            F.min(F.when(tn == n, F.col("value"))).alias(table_col(n))
            for n in scalars
        ]
        w = (
            src.repartition("device_id")
            .groupBy("device_id", "index")
            .agg(F.max(tn.isNull()).alias("__listed"), *aggs)
        )
        return w.withColumns({
            **{table_col(n): F.min(table_col(n)).over(d) for n in scalars},
            "__first": F.col("index").eqNullSafe(F.min("index").over(d)),
            "__listed": F.max("__listed").over(d) if listed else F.lit(True),
        })

    def _cells(self) -> DataFrame:
        """:func:`_pivot` of ``oid_tables`` alone — the walk cells and
        scalars the join-fabric fallbacks read."""
        if self._cells_cache is None:
            self._cells_cache = self._pivot(
                self.oid_tables, self._pivotable(), sorted(self.scalar_oids)
            )
        return self._cells_cache

    def wide(self) -> DataFrame:
        """The program's ONE pass over the OID frame: a single device_id
        exchange, every plain bulk-walk table pivoted into (device_id,
        index, __t_<table>, ...) and every ``get`` table broadcast to its
        device's rows by a window over the same partitioning — plus one
        pseudo table per fallback target registered so far and a marker
        row per ``static_devices`` device. Every consumer in
        :func:`compile` is a projection or a device_id window over this
        frame, so the walk is read and shuffled once per program, not
        once per OID table or consumer, and nothing is cached."""
        listed = self.static_devices is not None
        fallbacks = {**self._fallback_walks, **self._fallback_scalars}
        if not (fallbacks or listed):
            return self._cells()
        src = self.oid_tables.select("device_id", "table_name", "index", "value")
        for rows in fallbacks.values():
            src = src.unionByName(rows)
        if listed:
            null = F.lit(None).cast("string")
            src = src.unionByName(self.static_devices.select(
                "device_id", null.alias("table_name"), null.alias("index"),
                null.alias("value"),
            ))
        return self._pivot(
            src,
            self._pivotable() + sorted(self._fallback_walks),
            sorted(self.scalar_oids) + sorted(self._fallback_scalars),
            listed,
        )

    def _static_value_col(self, name: str) -> F.Column:
        """A static table referenced at the current row's index is a map
        literal lookup — projection, no join (all devices share the
        same values dict)."""
        spec = self.oids_spec[name]
        if not spec["values"]:
            # empty static (cisco 4900M): create_map() is map<void,void>
            # and a string lookup on it fails analysis — every lookup is
            # a KeyError, i.e. NULL
            return F.lit(None).cast("string")
        m = F.create_map(
            *[
                F.lit(s)
                for k, v in spec["values"].items()
                for s in (str(k), str(v))
            ]
        )
        return m[F.col("index")]

    def table(self, name: str) -> DataFrame:
        """(device_id, index, value) for one oid table, index_transform
        applied (matching indices re-keyed, others kept — reference
        ``_build_map_by_bulk_walk``). A plain plan over ``oid_tables``
        read only by the join-fabric fallbacks."""
        spec = self.oids_spec[name]
        if spec["method"] == "static":
            # literal rows per device as an exploded array — a pure
            # projection (no crossJoin / broadcast exchange per table).
            # An EMPTY values map (cisco 4900M polling fixture) must
            # build a typed empty array: F.array() of zero literals is
            # array<void> and exploding it breaks downstream field
            # extraction.
            if not spec["values"]:
                entries = F.expr(
                    "cast(array() as"
                    " array<struct<index:string,value:string>>)"
                )
            else:
                entries = F.array(
                    *[
                        F.struct(
                            F.lit(str(k)).alias("index"),
                            F.lit(str(v)).alias("value"),
                        )
                        for k, v in spec["values"].items()
                    ]
                )
            return self._devices.select(
                "device_id", F.explode(entries).alias("e")
            ).select("device_id", "e.index", "e.value")
        df = self.oid_tables.where(F.col("table_name") == name).select(
            "device_id", "index", "value"
        )
        it = spec.get("index_transform")
        if it:
            # re-key through a map literal: unmatched indices keep their
            # raw value (reference _build_map_by_bulk_walk) — projection
            # only, no join
            m = F.create_map(
                *[F.lit(s) for k, v in it.items() for s in (str(k), str(v))]
            )
            df = df.select(
                "device_id",
                F.coalesce(m[F.col("index")], F.col("index")).alias("index"),
                "value",
            )
        return df

    def _cell_frame(self, name: str) -> DataFrame:
        """(device_id, index, value) carved from :func:`_cells` when the
        table lives there: a filter+projection that KEEPS its device_id
        partitioning. Falls back to the per-table frame for static /
        index_transform / get tables."""
        if name in self._pivotable():
            c = table_col(name)
            return (
                self._cells()
                .where(F.col(c).isNotNull())
                .select("device_id", "index", F.col(c).alias("value"))
            )
        return self.table(name)

    # -- per-target compilation ------------------------------------------

    # v0.1 configs wrote bare words for these string dim values; the
    # reference quotes them before eval (_V1_STRING_LITERALS, :481-483)
    _V1_STRING_LITERALS = ("data", "ctrl", "dram")

    def _compile_target(self, name: str, tmap: dict, is_metric: bool) -> _Target:
        if (
            self.schema_version == "0.1"
            and isinstance(tmap.get("value"), str)
            and tmap["value"] in self._V1_STRING_LITERALS
        ):
            tmap = dict(tmap, value="'" + tmap["value"] + "'")
        try:
            info = compile_value_expr(
                tmap["value"], self.known_tables, self.scalar_oids
            )
            # The raw expression is evaluated ONCE into a __raw column; the
            # cast+transform chain is built over that column so a transform
            # that references its argument k times doesn't inline (and
            # re-execute) the whole raw expression k times.
            sql = cast_sql("__raw", tmap["type"])
            info.hazards.append(sql)  # the final cast may itself fail
            if "transform" in tmap:
                sql = compile_transform(
                    tmap["transform"], sql, self.known_tables,
                    self.scalar_oids, info=info,
                )
            indexed = self._has_indices(tmap, info)
            v = tmap["value"]
            if isinstance(v, bool):
                raw_kind = "boolean"
            elif isinstance(v, (int, float)):
                raw_kind = "numeric"
            else:
                raw_kind = None
            return _Target(
                name, tmap, info, sql, indexed, is_metric, raw_kind=raw_kind
            )
        except UnsupportedExpression:
            # pandas-UDF fallback (safe AST interpreter — never eval)
            indexed = self._has_indices_raw(tmap)
            return _Target(name, tmap, None, None, indexed, is_metric, mode="py")

    def _has_indices_raw(self, tmap: dict) -> bool:
        """_has_indices for untranslatable expressions (raw-string check,
        mirrors reference :351-376)."""
        if "indices" in tmap or "indices_from" in tmap:
            return True
        if "$index" not in str(tmap["value"]):
            return False
        return self._first_table(str(tmap["value"])) is not None

    def _has_indices(self, tmap: dict, info: ExprInfo) -> bool:
        # reference :351-376
        if self.schema_version == "0.1":
            if "top_level" in tmap:
                return False
            if ("indices" in tmap and "evaluate" not in tmap) or "indices_from" in tmap:
                return True
        elif "indices" in tmap or "indices_from" in tmap:
            return True
        if not info.uses_index:
            return False
        first = self._first_table(str(tmap["value"]))
        return first is not None

    def _first_table(self, raw_value: str):
        for m in re.finditer(r"(\w+)\.\$index", raw_value):
            if m.group(1) in self.known_tables:
                return m.group(1)
        return None

    def _driving(self, t: _Target) -> str | None:
        """The table whose rows drive an indexed target (reference
        :329-349): ``indices_from`` > first table in the value; None for
        a literal ``indices`` list."""
        if "indices" in t.tmap:
            return None
        if "indices_from" in t.tmap:
            return t.tmap["indices_from"]
        return self._first_table(str(t.tmap["value"]))

    def _in_frame(self, t: _Target) -> bool:
        """Whether :func:`compile` evaluates ``t`` in place over
        :func:`wide`: a translated expression over walk cells, scalars
        and static map lookups, driven (when indexed) by a walk table's
        presence, with membership tested against walk or static tables
        and top-level aggregates iterating a walk table. Literal
        ``indices`` lists, index_transform tables, table subscripts,
        indexed aggregates and py fallbacks take the join fabric."""
        if t.mode != "sql" or t.info.subscripts:
            return False
        pivot = set(self._pivotable())
        statics = {
            n for n, s in self.oids_spec.items() if s["method"] == "static"
        }
        if not t.info.tables <= pivot | statics | self.scalar_oids:
            return False
        if any(tbl not in pivot | statics for tbl, _ in t.info.member_tables):
            return False
        if t.indexed:
            return not t.info.is_aggregate and self._driving(t) in pivot
        return not t.info.is_aggregate or t.info.agg_table in pivot

    def _frame_sql(self, sql: str, t: _Target, **names: str) -> str:
        """``sql`` over :func:`wide`, with ``names`` bound. Membership
        flags are inlined: a walk table keyed on this row's index is its
        non-NULL cell, on any other key the device's window-collected
        key set ``__keys_<table>``; a static table's keys are literals.
        In an aggregate the element placeholders bind to this row's cell
        of the iterated table."""
        info = t.info
        agg = info.agg_table if info.is_aggregate else None
        elem = (
            {"__agg_value": table_col(agg), "__agg_index": "index"}
            if agg else {}
        )
        for tbl, key in sorted(info.member_tables):
            key = _subst(key, elem)
            spec = self.oids_spec[tbl]
            if spec["method"] == "static":
                keys = ", ".join(_q(str(k)) for k in spec["values"])
                flag = f"({key}) IN ({keys})" if keys else "FALSE"
            elif key == "index":
                flag = f"{table_col(tbl)} IS NOT NULL"
            else:
                flag = f"exists(__keys_{tbl}, __k -> __k = ({key}))"
            names[f"__in_{tbl}"] = f"coalesce({flag}, FALSE)"
        return _subst(sql, {**elem, **names})

    def _raw_sql(self, t: _Target) -> str:
        """The raw (pre-cast/transform) value of an in-frame target. A
        top-level aggregate counts its matching elements with a device_id
        window over the rows that carry the iterated table; python
        evaluates the comprehension filter for EVERY element, so one
        raise (any row hazard NULL) aborts the whole aggregate for that
        device, and a device without elements has no value."""
        info = t.info
        if not info.is_aggregate:
            return self._frame_sql(info.sql, t)
        elem = f"{table_col(info.agg_table)} IS NOT NULL"
        filt = self._frame_sql(info.agg_filter_sql, t)
        hz = " OR ".join(
            f"({self._frame_sql(h, t)}) IS NULL" for h in info.agg_row_hazards
        ) or "FALSE"
        count = (
            f"sum(CASE WHEN {elem} THEN CASE WHEN {filt} THEN 1 ELSE 0 END"
            f" END){_OVER_DEVICE}"
        )
        poisoned = f"max(CASE WHEN {elem} THEN {hz} END){_OVER_DEVICE}"
        value = self._frame_sql(info.sql, t, __agg_count=f"({count})")
        return f"CASE WHEN coalesce({poisoned}, FALSE) THEN NULL ELSE ({value}) END"

    def _indexed_values(self, t: _Target) -> DataFrame:
        """(device_id, index, value) for an indexed target that
        :func:`compile` cannot evaluate in place; NULL values (eval
        failure equivalents) dropped.

        Plan shape: the driving rows and every plain bulk-walk reference
        come from :func:`_cells` — a filter + projection, no join — when
        the driving table is a walk table. Otherwise the driving frame
        joins the walk cells and the device scalars it needs; static
        tables become map-literal lookups (projection) and transform
        tables join their per-table frame."""
        if t.mode == "py":
            return self._indexed_values_py(t)
        if t.info.is_aggregate:
            return self._indexed_aggregate_values(t)
        pivot_set = set(self._pivotable())
        tables = sorted(t.info.tables)
        walk_refs = [table_col(x) for x in tables if x in pivot_set]
        scalar_refs = [table_col(x) for x in tables if x in self.scalar_oids]
        other_refs = [
            x for x in tables if x not in pivot_set and x not in self.scalar_oids
        ]
        driving = self._driving(t)
        if driving in pivot_set:
            # a pivot cell is non-null iff the walk had that row
            df = self._cells().where(F.col(table_col(driving)).isNotNull())
        else:
            df = self._driving_frame(t)
            if walk_refs:
                df = df.join(
                    self._cells().select("device_id", "index", *walk_refs),
                    ["device_id", "index"],
                    "left",
                )
            if scalar_refs:
                df = df.join(
                    self._cells().where("__first").select(
                        "device_id", *scalar_refs
                    ),
                    "device_id",
                    "left",
                )
        for tbl in other_refs:
            if self.oids_spec[tbl]["method"] == "static":
                df = df.withColumn(table_col(tbl), self._static_value_col(tbl))
            else:  # index_transform table: per-table long frame
                tv = self.table(tbl).withColumnRenamed("value", table_col(tbl))
                df = df.join(tv, ["device_id", "index"], "left")
        df = self._join_subscripts(df, t.info)
        df = self._join_member_flags(df, t.info, key_scope="index")
        df = df.withColumn("__raw", F.expr(t.info.sql))  # single evaluation
        return df.select(
            "device_id", "index", F.expr(self._guarded_sql(t)).alias("value")
        ).where(F.col("value").isNotNull())

    def _driving_frame(self, t: _Target) -> DataFrame:
        src = self._driving(t)
        if src is None:
            idx = self.spark.createDataFrame(
                [(str(i),) for i in t.tmap["indices"]], "index string"
            )
            return self._devices.crossJoin(F.broadcast(idx))
        return self._cell_frame(src).select("device_id", "index")

    def _join_subscripts(self, df: DataFrame, info) -> DataFrame:
        """Left-join one column per table SUBSCRIPT (``pmt[x]``): value
        of ``tname`` at the computed key; NULL = python KeyError (the
        translator hazard-scopes the lookup, so guarded lookups never
        poison)."""
        for i, ((tname, key_sql), col) in enumerate(
            sorted(info.subscripts.items())
        ):
            keycol = f"__skey_{i}"
            tv = self._cell_frame(tname).select(
                "device_id",
                F.col("index").alias(keycol),
                F.col("value").alias(col),
            )
            df = (
                df.withColumn(keycol, F.expr(key_sql))
                .join(tv, ["device_id", keycol], "left")
                .drop(keycol)
            )
        return df

    def _indexed_aggregate_values(self, t: _Target) -> DataFrame:
        """Indexed AGGREGATE target (juniper power_units_on): a
        count-comprehension whose filter references the DRIVING index
        (``indices_from``), re-evaluated per (device, index).

        Plan: driving frame × the (device-dim) aggregate table, filter
        per pair, count per (device, index). The cross product is
        dim × dim per device — bounded, never corpus-sized. Per-element
        hazards poison the (device, index) pair like python's raise
        aborting that index's evaluation."""
        info = t.info
        driving = self._driving_frame(t)
        base = self._cell_frame(info.agg_table).select(
            "device_id",
            F.col("index").alias("__agg_index"),
            F.col("value").alias("__agg_value"),
        )
        base = self._join_subscripts(base, info)
        base = self._join_member_flags(base, info, key_scope="agg")
        # driving and agg frames share the walk's lineage -> alias both
        # sides so the device-keyed cross join resolves unambiguously
        d = driving.alias("__drv")
        b = base.alias("__aggt")
        cross = d.join(
            b, F.col("__drv.device_id") == F.col("__aggt.device_id"), "left"
        ).select(
            F.col("__drv.device_id").alias("device_id"),
            F.col("__drv.index").alias("index"),
            *[
                F.col(f"__aggt.{c}")
                for c in base.columns
                if c != "device_id"
            ],
        )
        # row hazards may reference the DRIVING index ($index in the
        # filter) -> evaluate after the cross join
        if info.agg_row_hazards:
            row_poison = " OR ".join(
                f"({h}) IS NULL" for h in info.agg_row_hazards
            )
            cross = cross.withColumn("__row_hz", F.expr(row_poison))
        else:
            cross = cross.withColumn("__row_hz", F.lit(False))
        counted = (
            cross.groupBy("device_id", "index")
            .agg(
                F.sum(
                    F.when(F.expr(info.agg_filter_sql), 1).otherwise(0)
                ).alias("__agg_count"),
                F.max(F.coalesce("__row_hz", F.lit(False))).alias(
                    "__poisoned"
                ),
            )
            .where(~F.col("__poisoned"))
            .withColumn(
                "__agg_count", F.coalesce("__agg_count", F.lit(0))
            )
        )
        df = counted.withColumn("__raw", F.expr(info.sql))
        return df.select(
            "device_id", "index",
            F.expr(self._guarded_sql(t)).alias("value"),
        ).where(F.col("value").isNotNull())

    def _guarded_sql(self, t: _Target) -> str:
        """Wrap the value expression in the error-poison guard: a python
        error in any EVALUATED sub-expression (missing table key, failed
        cast, division by zero) skips the index — but laziness is
        honored: hazards inside un-taken ternary branches are absorbed by
        the translator's scoped CASE composition, so only root-scope
        hazards appear here."""
        poisons = [f"({h}) IS NULL" for h in t.info.hazards]
        if not poisons:
            return t.final_sql
        return (
            f"CASE WHEN {' OR '.join(poisons)} THEN NULL"
            f" ELSE ({t.final_sql}) END"
        )

    # -- pandas-UDF fallback paths ---------------------------------------

    def _ref_tables(self, raw_value: str) -> list[str]:
        found = []
        for m in re.finditer(r"(\w+)\.\$index", str(raw_value)):
            if m.group(1) in self.known_tables and m.group(1) not in found:
                found.append(m.group(1))
        return found

    def _indexed_values_py(self, t: _Target) -> DataFrame:
        """Fallback: join referenced tables then interpret the expression
        per row with the whitelist AST interpreter (Arrow-batched)."""
        from collections.abc import Iterator

        import pandas as pd

        from .safe_eval import compile_safe_lambda, safe_eval

        raw = str(t.tmap["value"])
        tables = self._ref_tables(raw)
        df = self._driving_frame(t)
        for tbl in tables:
            tv = self.table(tbl).withColumnRenamed("value", f"__v_{tbl}")
            df = df.join(tv, ["device_id", "index"], "left")

        py_expr = re.sub(r"(\w+)\.\$index", lambda m: f"__v_{m.group(1)}", raw)
        py_expr = py_expr.replace("$index", "__idx")
        caster = _PY_CASTS[t.tmap["type"]]
        transform = (
            compile_safe_lambda(t.tmap["transform"])
            if "transform" in t.tmap
            else (lambda x: x)
        )
        cols = [f"__v_{tbl}" for tbl in tables]

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_vals = []
                for i in range(len(pdf)):
                    env = {"__idx": pdf["index"].iloc[i]}
                    for c in cols:
                        env[c] = pdf[c].iloc[i]
                    try:
                        v = transform(caster(safe_eval(py_expr, env)))
                    except Exception:
                        v = None
                    out_vals.append(None if v is None else str(v))
                yield pd.DataFrame(
                    {
                        "device_id": pdf["device_id"],
                        "index": pdf["index"],
                        "value": pd.Series(out_vals, dtype="object"),
                    }
                )

        out = df.mapInPandas(
            run, schema="device_id string, index string, value string"
        )
        return out.where(F.col("value").isNotNull())

    def _top_level_value_py(self, t: _Target) -> DataFrame:
        """Fallback top-level target: per-device table dicts -> interpreter."""
        from collections.abc import Iterator

        import pandas as pd

        from .safe_eval import compile_safe_lambda, safe_eval

        raw = str(t.tmap["value"])
        tables = [
            tbl
            for tbl in sorted(self.known_tables)
            if re.search(rf"\b{re.escape(tbl)}\b", raw)
        ]
        df = self._devices
        for tbl in tables:
            m = (
                self.table(tbl)
                .groupBy("device_id")
                .agg(
                    F.map_from_entries(
                        # sorted: .items() iteration in the interpreter
                        # must not depend on task scheduling order
                        F.array_sort(
                            F.collect_list(F.struct("index", "value"))
                        )
                    ).alias(f"__m_{tbl}")
                )
            )
            df = df.join(m, "device_id", "left")

        caster = _PY_CASTS[t.tmap["type"]]
        transform = (
            compile_safe_lambda(t.tmap["transform"])
            if "transform" in t.tmap
            else (lambda x: x)
        )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_vals = []
                for i in range(len(pdf)):
                    env = {}
                    for tbl in tables:
                        v = pdf[f"__m_{tbl}"].iloc[i]
                        env[tbl] = dict(v) if v is not None else {}
                    try:
                        v = safe_eval(raw, env)
                        if not v:  # reference falsy skip
                            v = None
                        else:
                            v = transform(caster(v))
                    except Exception:
                        v = None
                    out_vals.append(None if v is None else str(v))
                yield pd.DataFrame(
                    {
                        "device_id": pdf["device_id"],
                        "value": pd.Series(out_vals, dtype="object"),
                    }
                )

        out = df.mapInPandas(run, schema="device_id string, value string")
        return out.where(F.col("value").isNotNull())

    def _member_keys(self, tbl: str) -> DataFrame:
        """(device_id, index) key set of a table for membership flags —
        carved out of the program-wide pivot when the table lives there
        (reuses the one walk shuffle) instead of re-scanning the walk."""
        if tbl in self._pivotable():
            return self._cells().where(
                F.col(table_col(tbl)).isNotNull()
            ).select("device_id", "index")
        return self.table(tbl).select("device_id", "index")

    def _join_member_flags(
        self, df: DataFrame, info: ExprInfo, key_scope: str
    ) -> DataFrame:
        for tbl, left_sql in sorted(info.member_tables):
            # The key frame shares the walk's lineage with ``df`` (both
            # derive from the same pivot), so drop-by-Column after a
            # self-join is a no-op and leaves a duplicate device_id that
            # poisons downstream aliases (AMBIGUOUS_REFERENCE). Rename
            # the lookup side's key BEFORE joining and drop it by name.
            keys = (
                self._member_keys(tbl)
                .select(
                    F.col("device_id").alias("__mk_dev"),
                    F.col("index").alias("__mk"),
                )
                .distinct()
                .withColumn(f"__in_{tbl}", F.lit(True))
            )
            df = df.join(
                keys,
                (F.col("device_id") == F.col("__mk_dev"))
                & (F.expr(left_sql) == F.col("__mk")),
                "left",
            ).drop("__mk_dev", "__mk")
            df = df.withColumn(
                f"__in_{tbl}", F.coalesce(F.col(f"__in_{tbl}"), F.lit(False))
            )
        return df


    def _top_level_fallback(self, t: _Target) -> DataFrame:
        """(device_id, value) for a top-level target that :func:`compile`
        cannot evaluate in place (py fallbacks; aggregates over a static
        or index_transform table, or with subscripts); falsy values
        dropped (reference ``if not value: continue``)."""
        if t.mode == "py":
            return self._top_level_value_py(t)
        info = t.info
        base = self._cell_frame(info.agg_table).select(
            "device_id",
            F.col("index").alias("__agg_index"),
            F.col("value").alias("__agg_value"),
        )
        base = self._join_subscripts(base, info)
        base = self._join_member_flags(base, info, key_scope="agg")
        # python evaluates the comprehension filter for EVERY element;
        # one raise aborts the whole aggregate for that device
        row_poison = " OR ".join(
            f"({h}) IS NULL" for h in info.agg_row_hazards
        ) or "FALSE"
        counted = (
            base.groupBy("device_id")
            .agg(
                F.sum(
                    F.when(F.expr(info.agg_filter_sql), 1).otherwise(0)
                ).alias("__agg_count"),
                F.max(F.expr(row_poison)).alias("__poisoned"),
            )
            .where(~F.col("__poisoned"))
        )
        # info.sql for an aggregate is the '__agg_count' placeholder;
        # len([...]) is always an int
        df = counted.withColumn("__raw", F.expr(info.sql)).select(
            "device_id", F.expr(t.final_sql).alias("value"), "__raw"
        )
        raw = F.col("__raw")
        return df.where(
            F.col("value").isNotNull() & raw.isNotNull()
            & _truthy(raw, "numeric")
        ).drop("__raw")

    # -- program assembly -------------------------------------------------

    def float_typed_metrics(self) -> frozenset:
        """Metric names the program declares ``type: float`` — the set
        ``to_line_protocol`` needs to render python-``repr``-faithful
        field values (float-typed integral values keep their '.0',
        consumer.py:142; the all-double metrics schema otherwise loses
        the int/float distinction)."""
        return frozenset(
            name
            for g in self.program["metrics_groups"]
            for name, tmap in g["metrics"].items()
            if _PY_CASTS.get(tmap["type"]) is float
        )

    def compile(self) -> DataFrame:
        """All metrics_groups in ONE pass over :func:`wide`, canonical
        array order applied: (device_id, metrics_group_type,
        metrics_group_interval, metrics, dimensions).

        Every row (device, index) projects, for each program group, the
        indexed group it carries and — on the device's one ``__first``
        row — the group's top-level-only group; the rows explode and
        collapse under the reference's set semantics. Scalars, membership
        key sets, top-level aggregates and the v0.2 "device has an
        indexed group" test are device_id windows over the frame's own
        partitioning, so the plan adds no join and no exchange beyond the
        frame's one. Targets outside that shape (:func:`_in_frame`)
        compile through the join fabric and ride into the frame as
        pseudo tables: indexed ones as walk cells, top-level ones as
        per-device scalars."""
        groups = [
            (g, [self._compile_target(n, tm, True)
                 for n, tm in g["metrics"].items()]
             + [self._compile_target(n, tm, False)
                for n, tm in g["dimensions"].items()])
            for g in self.program["metrics_groups"]
        ]
        targets = [t for _, ts in groups for t in ts]
        frame = set()
        for k, t in enumerate(targets):
            if t.mode == "sql" and not t.indexed and not t.info.is_aggregate:
                per_index = sorted(
                    (t.info.tables - self.scalar_oids)
                    | {tbl for tbl, _ in t.info.member_tables}
                )
                if per_index or t.info.uses_index:
                    raise UnsupportedExpression(
                        f"top-level target {t.name!r} references per-index "
                        f"table {(per_index or ['$index'])[0]!r} without "
                        "$index"
                    )
            if self._in_frame(t):
                frame.add(k)
                continue
            if t.indexed:
                rows, into = self._indexed_values(t), self._fallback_walks
            else:
                rows = self._top_level_fallback(t).withColumn(
                    "index", F.lit(None).cast("string")
                )
                into = self._fallback_scalars
            into[f"__fb{k}"] = rows.select(
                "device_id", F.lit(f"__fb{k}").alias("table_name"), "index",
                F.col("value").cast("string"),
            )

        d = Window.partitionBy("device_id")
        pivot = set(self._pivotable())
        used = [targets[k].info for k in frame]
        w = self.wide().withColumns({
            **{
                table_col(tbl): self._static_value_col(tbl)
                for tbl in sorted({x for i in used for x in i.tables})
                if self.oids_spec[tbl]["method"] == "static"
            },
            **{
                f"__keys_{tbl}": F.collect_set(F.when(
                    F.col(table_col(tbl)).isNotNull(), F.col("index")
                )).over(d)
                for tbl in sorted({x for i in used for x, _ in i.member_tables})
                if tbl in pivot
            },
        })
        w = w.withColumns({
            f"__r{k}": F.expr(self._raw_sql(targets[k])) for k in sorted(frame)
        })
        kinds = {}
        for k in frame:
            t = targets[k]
            if not t.indexed:
                kinds[k] = "numeric" if t.info.is_aggregate else t.raw_kind
        if None in kinds.values():
            types = dict(w.dtypes)
            kinds = {
                k: v or {"boolean": "boolean", "string": "string"}.get(
                    types[f"__r{k}"], "numeric"
                )
                for k, v in kinds.items()
            }

        def value(k: int, t: _Target) -> Column:
            if k not in frame:  # pseudo table: already guarded/skipped
                return F.col(table_col(f"__fb{k}"))
            raw = F.col(f"__r{k}")
            final = t.final_sql if t.info.is_aggregate else self._guarded_sql(t)
            val = F.expr(self._frame_sql(final, t, __raw=f"__r{k}"))
            if t.indexed:
                return F.when(
                    F.col(table_col(self._driving(t))).isNotNull(), val
                )
            # falsy skip on the RAW value (python `if not value:
            # continue`), before cast/transform; NULL raw means an
            # evaluated sub-expression raised
            return F.when(raw.isNotNull() & _truthy(raw, kinds[k]), val)

        arrays = {}
        k = 0
        for gi, (g, ts) in enumerate(groups):
            m_idx, d_idx, m_top, d_top = [], [], [], []
            for t in ts:
                v = value(k, t)
                k += 1
                if t.is_metric:
                    (m_idx if t.indexed else m_top).append(F.struct(
                        F.lit(t.name).alias("metric_name"),
                        v.cast("double").alias("metric_value"),
                        F.lit(t.tmap["metric_type"]).alias("metric_type"),
                        F.lit(0.0).alias("metric_creation_timestamp"),
                    ))
                else:
                    (d_idx if t.indexed else d_top).append(F.struct(
                        F.lit(t.name).alias("dimension_name"),
                        v.cast("string").alias("dimension_value"),
                    ))
            arrays[f"_tm{gi}"] = _array(m_top, "metric_value", _EMPTY_M)
            arrays[f"_td{gi}"] = _array(d_top, "dimension_value", _EMPTY_D)
            if m_idx:
                arrays[f"_m{gi}"] = _array(m_idx, "metric_value", _EMPTY_M)
                arrays[f"_d{gi}"] = _array(d_idx, "dimension_value", _EMPTY_D)
        w = w.withColumns(arrays)
        v01 = self.schema_version == "0.1"
        w = w.withColumns({
            f"__h{gi}": F.max(F.size(f"_m{gi}") > 0).over(d)
            for gi in range(len(groups))
            if f"_m{gi}" in arrays and not v01
        })

        def group(gi: int, g: dict, metrics: Column, dims: Column) -> Column:
            return F.struct(
                F.lit(gi).alias("gpos"),
                F.lit(g["group_name"]).alias("gname"),
                metrics.alias("metrics"),
                dims.alias("dimensions"),
            )

        emitted = []
        for gi, (g, _) in enumerate(groups):
            tm, td = F.col(f"_tm{gi}"), F.col(f"_td{gi}")
            top = F.col("__first") & F.col("__listed")
            if v01:
                # v0.1: a separate top-level group per device with >=1
                # top metric (:644-655), alongside any indexed groups
                top = top & (F.size(tm) > 0)
            if f"_m{gi}" in arrays:
                # v0.2 assembly (:586-678): one group per (device, index)
                # with >=1 indexed metric, top-level metrics merged INTO
                # it (v0.1 keeps them apart); an empty dimension value
                # is never added and suppresses the group unless
                # ignore_empty_dimensions
                m, dims = F.col(f"_m{gi}"), F.col(f"_d{gi}")
                empty = F.exists(dims, lambda s: s["dimension_value"] == "")
                emitted.append(F.when(
                    (F.size(m) > 0)
                    & ~(empty & F.lit(not g["ignore_empty_dimensions"])),
                    group(
                        gi, g, m if v01 else F.concat(m, tm),
                        F.concat(F.filter(
                            dims, lambda s: s["dimension_value"] != ""
                        ), td),
                    ),
                ))
                if not v01:
                    # v0.2: only devices with no indexed metric get the
                    # top-level-only group (reference else-branch)
                    top = top & ~F.col(f"__h{gi}")
            # the reference's fallback branch attaches top-level dims
            # ONLY when top-level metrics exist (:661-668); a metric-less
            # fallback group is fully empty
            emitted.append(F.when(top, group(
                gi, g, tm,
                F.when(F.size(tm) > 0, td).otherwise(F.expr(_EMPTY_D)),
            )))

        df = w.select(
            "device_id",
            F.explode(
                F.filter(F.array(*emitted), lambda x: x.isNotNull())
            ).alias("g"),
        ).select(
            "device_id",
            F.col("g.gname").alias("metrics_group_type"),
            F.lit(self.interval).cast("long").alias("metrics_group_interval"),
            F.expr(
                "array_sort(g.metrics, (a, b) -> CASE"
                " WHEN a.metric_name < b.metric_name THEN -1"
                " WHEN a.metric_name > b.metric_name THEN 1 ELSE 0 END)"
            ).alias("metrics"),
            F.expr(
                "array_sort(g.dimensions, (a, b) -> CASE"
                " WHEN a.dimension_name < b.dimension_name THEN -1"
                " WHEN a.dimension_name > b.dimension_name THEN 1 ELSE 0 END)"
            ).alias("dimensions"),
            F.col("g.gpos").alias("__gpos"),
        )
        # The reference accumulates groups into a python SET
        # (PanoptesMetricsGroupSet, framework/metrics.py:411-418) whose
        # __eq__/__hash__ compare (resource, metrics, dimensions) — NOT
        # group_type (:388-409). Identical (dims, metrics) groups
        # therefore collapse even ACROSS group types, and python set.add
        # keeps the FIRST inserted element: the surviving group carries
        # the name of the EARLIEST program group (the cisco nxos/4900M
        # goldens each hold exactly one fully-empty group named
        # 'environment' — the first group in those programs). Arrays are
        # canonically sorted, so a (metrics, dimensions)-keyed min over
        # (program position, name) models the set exactly.
        return (
            df.groupBy(
                "device_id",
                "metrics_group_interval",
                "metrics",
                "dimensions",
            )
            .agg(
                F.min(
                    F.struct(
                        F.col("__gpos"),
                        F.col("metrics_group_type").alias("gname"),
                    )
                ).alias("__w")
            )
            .select(
                "device_id",
                F.col("__w.gname").alias("metrics_group_type"),
                "metrics_group_interval",
                "metrics",
                "dimensions",
            )
        )


def flatten_groups(df: DataFrame) -> DataFrame:
    """Nested groups -> one row per metric with dims as sorted string
    (comparison-friendly flat projection)."""
    return (
        df.withColumn(
            "dims_str",
            F.expr(
                "array_join(transform(dimensions,"
                " d -> concat(d.dimension_name, '=', d.dimension_value)), ',')"
            ),
        )
        .select(
            "device_id",
            "metrics_group_type",
            "metrics_group_interval",
            "dims_str",
            F.explode_outer("metrics").alias("m"),
        )
        .select(
            "device_id",
            "metrics_group_type",
            "metrics_group_interval",
            "dims_str",
            F.col("m.metric_name").alias("metric_name"),
            F.col("m.metric_value").alias("metric_value"),
            F.col("m.metric_type").alias("metric_type"),
        )
    )
