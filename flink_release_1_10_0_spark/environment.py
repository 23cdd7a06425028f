"""TableEnvironment / Table — the fluent API shell.

Reference surface: ``flink-table/flink-table-api-java/src/main/java/org/
apache/flink/table/api/Table.java:104-911`` (select/filter/where/groupBy/
join family/set ops/orderBy/offset/fetch/distinct) and
``TableEnvironmentImpl.java:463`` (``sqlQuery``) / ``:483`` (``sqlUpdate``).

Design: every method is a *declarative* delegation to the Spark DataFrame
API, so Catalyst owns optimization (predicate pushdown, join reordering,
two-phase agg — the rewrites the Blink planner implements in
``FlinkStreamRuleSets.scala`` are Catalyst built-ins per SURVEY.md §4.2).
No plan node of our own ever materializes rows on the driver.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_release_1_10_0_spark.catalog import register_tables
from flink_release_1_10_0_spark.sql_temporal import TemporalTableFunction


def _cols(exprs: Iterable[str | Column]) -> list[Column]:
    return [F.expr(e) if isinstance(e, str) else e for e in exprs]


class Table:
    """Fluent relational table, mirroring ``Table.java``'s method set.

    Wraps a DataFrame; all transformations return a new ``Table``.
    ``where``/``filter``, ``fetch``/``limit``, ``minus``/``except`` keep the
    reference naming alongside Spark's.
    """

    def __init__(self, df: DataFrame):
        self._df = df

    # -- conversion ------------------------------------------------------
    def to_df(self) -> DataFrame:
        return self._df

    @property
    def df(self) -> DataFrame:
        return self._df

    # -- projection / filter (Table.java:104-170; StreamExecCalc) --------
    def select(self, *exprs: str | Column) -> "Table":
        return Table(self._df.select(*_cols(exprs)))

    def add_columns(self, **named_exprs: str | Column) -> "Table":
        df = self._df
        for name, e in named_exprs.items():
            df = df.withColumn(name, F.expr(e) if isinstance(e, str) else e)
        return Table(df)

    def rename_columns(self, **renames: str) -> "Table":
        df = self._df
        for old, new in renames.items():
            df = df.withColumnRenamed(old, new)
        return Table(df)

    def drop_columns(self, *names: str) -> "Table":
        return Table(self._df.drop(*names))

    def filter(self, predicate: str | Column) -> "Table":
        p = F.expr(predicate) if isinstance(predicate, str) else predicate
        return Table(self._df.filter(p))

    where = filter  # Table.java `where` alias

    # -- aggregation (Table.java groupBy; BatchExecHashAggregate) --------
    def group_by(self, *keys: str | Column) -> "GroupedTable":
        return GroupedTable(self._df, list(keys))

    def distinct(self) -> "Table":
        return Table(self._df.distinct())

    # -- joins (Table.java:275-476; BatchExecHashJoin / SortMergeJoin) ---
    def join(self, right: "Table", on: Any = None, how: str = "inner") -> "Table":
        return Table(self._df.join(right._df, on, how))

    def left_outer_join(self, right: "Table", on: Any = None) -> "Table":
        return self.join(right, on, "left_outer")

    def right_outer_join(self, right: "Table", on: Any = None) -> "Table":
        return self.join(right, on, "right_outer")

    def full_outer_join(self, right: "Table", on: Any = None) -> "Table":
        return self.join(right, on, "full_outer")

    def semi_join(self, right: "Table", on: Any = None) -> "Table":
        """IN/EXISTS — reference ``StreamingSemiAntiJoinOperator.java:35``."""
        return self.join(right, on, "left_semi")

    def anti_join(self, right: "Table", on: Any = None) -> "Table":
        return self.join(right, on, "left_anti")

    def cross_join(self, right: "Table") -> "Table":
        return Table(self._df.crossJoin(right._df))

    # -- set ops (Table.java:655-742) ------------------------------------
    def union(self, other: "Table") -> "Table":
        return Table(self._df.union(other._df).distinct())

    def union_all(self, other: "Table") -> "Table":
        return Table(self._df.union(other._df))

    def intersect(self, other: "Table") -> "Table":
        return Table(self._df.intersect(other._df))

    def intersect_all(self, other: "Table") -> "Table":
        return Table(self._df.intersectAll(other._df))

    def minus(self, other: "Table") -> "Table":
        return Table(self._df.exceptAll(other._df).distinct())

    def minus_all(self, other: "Table") -> "Table":
        return Table(self._df.exceptAll(other._df))

    # -- order / limit (Table.java:760-800; BatchExecSortLimit) ----------
    def order_by(self, *exprs: str | Column) -> "Table":
        return Table(self._df.orderBy(*_cols(exprs)))

    def offset(self, n: int) -> "Table":
        return Table(self._df.offset(n))

    def fetch(self, n: int) -> "Table":
        return Table(self._df.limit(n))

    limit = fetch

    def create_temporal_table_function(self, ts_col: str,
                                       key_col: str) -> TemporalTableFunction:
        """``Table.createTemporalTableFunction`` (``Table.java:139``):
        view this table as a versioned history — for each key, the row
        with the greatest ``ts_col`` not after a probe time is the valid
        version.  Use with :meth:`temporal_join`."""
        return TemporalTableFunction(self._df, ts_col, key_col)

    def temporal_join(self, ttf: TemporalTableFunction, probe_ts: str,
                      probe_key: str, build_cols: list[str]) -> "Table":
        """Event-time temporal join against a temporal table function
        (``StreamExecTemporalJoin.scala:51`` /
        ``TemporalRowTimeJoinOperator.java:71`` semantics): each probe
        row is enriched with the version valid as of its ``probe_ts``."""
        from flink_release_1_10_0_spark.operators.joins import asof_join
        return Table(asof_join(self._df, ttf.versions,
                               [(probe_key, ttf.primary_key)],
                               probe_ts, ttf.time_attr, build_cols))


class GroupedTable:
    def __init__(self, df: DataFrame, keys: list[str | Column]):
        self._df = df
        self._keys = keys

    def select(self, *exprs: str | Column) -> Table:
        """Flink-style: the select list names grouping keys AND aggregates
        (``Table.java`` groupBy(...).select(...)); keys already in the
        grouping are projected, not re-aggregated."""
        key_names = {k for k in self._keys if isinstance(k, str)}
        aggs = [e for e in exprs if not (isinstance(e, str) and e in key_names)]
        grouped = self._df.groupBy(*_cols(self._keys)).agg(*_cols(aggs))
        # project in the requested order: keys by name, aggs positionally
        agg_out = grouped.columns[len(self._keys):]
        out, i = [], 0
        for e in exprs:
            if isinstance(e, str) and e in key_names:
                out.append(e)
            else:
                out.append(agg_out[i])
                i += 1
        return Table(grouped.select(*out))

    agg = select


class TableConfig:
    """``flink-table-api-java/.../api/TableConfig.java`` analog — the
    session knobs that survive the mapping onto Spark:

    - ``setIdleStateRetentionTime(min, max)`` (TableConfig.java:222) ->
      the ``ttl_minutes`` every stateful operator here accepts
      (stream-stream join, dedup, top-N); ``idle_state_retention_minutes``
      is what ``TableEnvironment``-built stateful ops read.  Flink keeps
      state between min and max; the micro-batch analog prunes at the
      single TTL bound (= min), the conservative end of that contract.
    - ``setLocalTimeZone`` -> ``spark.sql.session.timeZone``.
    Null-check / codegen-length knobs have no Spark equivalent and are
    accepted as no-ops only where harmless (not represented here).
    """

    def __init__(self):
        self.idle_state_retention_minutes: float | None = None

    def set_idle_state_retention_time(self, min_minutes: float,
                                      max_minutes: float | None = None) -> None:
        if min_minutes < 0:
            raise ValueError("retention must be >= 0")
        self.idle_state_retention_minutes = min_minutes or None

    def get_min_idle_state_retention_time(self) -> float | None:
        return self.idle_state_retention_minutes


class TableEnvironment:
    """``TableEnvironmentImpl`` analog: catalog + SQL + Table factory."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.config = TableConfig()
        self._lookup_sources: dict = {}
        self._temporal_fns: dict = {}
        self._proctime_attrs: dict[str, str] = {}
        from flink_release_1_10_0_spark.functions.registry import register_flink_functions
        register_flink_functions(spark)

    def set_local_timezone(self, tz: str) -> None:
        """TableConfig.setLocalTimeZone -> session timezone conf."""
        self.spark.conf.set("spark.sql.session.timeZone", tz)

    def explain(self, table) -> str:
        """``TableEnvironment.explain`` (TableEnvironmentImpl.java:567):
        the optimized physical plan as a string."""
        df = table.df if isinstance(table, Table) else table
        return df._jdf.queryExecution().executedPlan().toString()

    def to_append_stream(self, table) -> "DataStream":
        """``StreamTableEnvironment.toAppendStream`` — the table's rows
        as an insert-only DataStream."""
        from flink_release_1_10_0_spark.streaming.datastream import DataStream
        df = table.df if isinstance(table, Table) else table
        return DataStream(df)

    def to_retract_stream(self, table) -> "DataStream":
        """``StreamTableEnvironment.toRetractStream`` — rows tagged with
        the (add, row) flag; for an insert-only table every row is an
        add (the changelog-producing operators in streaming/ emit their
        own +I/-D ops)."""
        from pyspark.sql import functions as F

        from flink_release_1_10_0_spark.streaming.datastream import DataStream
        df = table.df if isinstance(table, Table) else table
        return DataStream(df.select(F.lit(True).alias("add"), "*"))

    def stream_join(self, left, right, key: str, how: str = "inner",
                    **kwargs):
        """Two-sided stream join honoring the config's idle-state
        retention (``StreamExecJoin.scala`` + ``table.exec.state.ttl``)."""
        from flink_release_1_10_0_spark.streaming.stream_join import stream_stream_join
        kwargs.setdefault("ttl_minutes", self.config.idle_state_retention_minutes)
        return stream_stream_join(left, right, key, how=how, **kwargs)

    @classmethod
    def create(cls, spark: SparkSession | None = None) -> "TableEnvironment":
        if spark is None:
            from flink_release_1_10_0_spark.session import get_spark
            spark = get_spark()
        return cls(spark)

    # catalog ------------------------------------------------------------
    def register_parquet_tables(self, sf_dir: str) -> dict[str, DataFrame]:
        return register_tables(self.spark, sf_dir)

    def register_table(self, name: str, table: Table | DataFrame) -> None:
        df = table.df if isinstance(table, Table) else table
        df.createOrReplaceTempView(name)

    def from_path(self, name: str) -> Table:
        """``TableEnvironment.from`` — scan a registered table."""
        return Table(self.spark.table(name))

    scan = from_path   # TableEnvironment.scan (pre-from alias in 1.10)

    def list_tables(self) -> list[str]:
        """``TableEnvironment.listTables`` (TableEnvironment.java:376):
        every registered table/view name in the current catalog, plus
        DDL-created tables."""
        names = {t.name for t in self.spark.catalog.listTables()}
        if hasattr(self, "_ddl"):
            names.update(self._ddl.tables)
        return sorted(names)

    def from_elements(self, rows: list, schema) -> Table:
        """``StreamExecutionEnvironment.fromElements`` / SQL VALUES
        (reference ``StreamExecValues.scala``)."""
        return Table(self.spark.createDataFrame(rows, schema))

    # temporal-join SQL registrations -------------------------------------
    def register_lookup_source(self, name: str, table, primary_key: str,
                               version_cols: tuple[str, ...] = ()) -> None:
        """Register a versioned dimension as a LookupableTableSource for
        ``FOR SYSTEM_TIME AS OF`` joins (CommonLookupJoinRule.scala:52)."""
        from flink_release_1_10_0_spark.sql_temporal import LookupSource
        df = table.df if isinstance(table, Table) else table
        self._lookup_sources[name] = LookupSource(
            df, primary_key, tuple(version_cols))

    def register_temporal_table_function(
            self, name: str, ttf: TemporalTableFunction) -> None:
        """``tEnv.registerFunction("Rates", rates)`` (joins.md:163-166):
        makes ``LATERAL TABLE (Rates(o.rowtime))`` resolvable in
        sql_query."""
        self._temporal_fns[name] = ttf

    def register_proctime_attribute(self, table_name: str, col: str) -> None:
        """Declare a registered table's processing-time attribute (the
        ``proctime()`` column of the reference's schema) so ``FOR
        SYSTEM_TIME AS OF t.proctime`` can validate it."""
        self._proctime_attrs[table_name] = col

    # SQL ----------------------------------------------------------------
    def sql_query(self, query: str) -> Table:
        """Accepts Flink SQL incl. group-window functions (TUMBLE/HOP/
        SESSION + *_START/*_END selectors — rewritten to Spark's
        window()/session_window(), see sql_windows.py), the full
        MATCH_RECOGNIZE clause (excised and run on the NFA stack, see
        sql_match.py), and the temporal-join forms — ``FOR SYSTEM_TIME
        AS OF`` against a registered lookup source and ``LATERAL TABLE``
        over a registered temporal table function (sql_temporal.py)."""
        from flink_release_1_10_0_spark.sql_match import (
            execute_match_recognize_sql, has_match_recognize)
        if has_match_recognize(query):
            # the executor applies rewrite_group_windows to the outer
            # remainder, so MR + TUMBLE/HOP/SESSION in one statement works
            return Table(execute_match_recognize_sql(self.spark, query))
        from flink_release_1_10_0_spark import sql_temporal as ST
        if ST._SYSTEM_TIME_RE.search(query):
            pa = {}
            parsed = ST.parse_from_clause(query)
            if parsed:
                col = self._proctime_attrs.get(parsed[0])
                if col:
                    pa[parsed[1]] = col
            return Table(ST.execute_system_time_join_sql(
                self.spark, query, tables={},
                lookup_sources=self._lookup_sources, proctime_attrs=pa))
        if ST._LATERAL_RE.search(query):
            parsed = ST.parse_from_clause(query)
            tables = ({parsed[0]: self.spark.table(parsed[0])}
                      if parsed else {})
            fns = dict(self._temporal_fns)
            pa = {}
            if parsed:
                col = self._proctime_attrs.get(parsed[0])
                if col:
                    pa[parsed[1]] = col
            return Table(ST.execute_temporal_function_sql(
                self.spark, query, tables, fns, proctime_attrs=pa))
        from flink_release_1_10_0_spark.sql_windows import rewrite_group_windows
        return Table(self.spark.sql(rewrite_group_windows(query)))

    def execute_sql(self, stmt: str) -> DataFrame:
        from flink_release_1_10_0_spark.sql_windows import rewrite_group_windows
        return self.spark.sql(rewrite_group_windows(stmt))

    def sql_update(self, stmt: str) -> None:
        """``TableEnvironmentImpl.sqlUpdate:483`` — accepts Flink 1.10
        DDL/DML verbatim: ``CREATE TABLE ... WITH ('connector.type' =
        'filesystem', ...)`` (incl. the 1.10 ``WATERMARK FOR`` clause),
        ``DROP TABLE``, and ``INSERT INTO/OVERWRITE`` (see sql_ddl.py)."""
        if not hasattr(self, "_ddl"):
            from flink_release_1_10_0_spark.sql_ddl import DdlCatalog
            self._ddl = DdlCatalog(self.spark)
        self._ddl.execute(stmt)

    @property
    def ddl_catalog(self):
        if not hasattr(self, "_ddl"):
            from flink_release_1_10_0_spark.sql_ddl import DdlCatalog
            self._ddl = DdlCatalog(self.spark)
        return self._ddl


class Tumble:
    """Group-window builders (``flink-table-api-java/.../api/Tumble.java:47``,
    ``Slide.java:51``, ``Session.java:47``): declarative window specs for
    ``Table.window(...)``."""

    def __init__(self, size: str, on: str):
        self.size, self.on = size, on

    @classmethod
    def over(cls, size: str):
        return _WindowSize(cls, size)

    def column(self) -> Column:
        return F.window(self.on, self.size)


class Slide:
    def __init__(self, size: str, slide: str, on: str):
        self.size, self.slide, self.on = size, slide, on

    @classmethod
    def over(cls, size: str):
        return _WindowSize(cls, size)

    def column(self) -> Column:
        return F.window(self.on, self.size, self.slide)


class Session:
    def __init__(self, gap: str, on: str):
        self.gap, self.on = gap, on

    @classmethod
    def with_gap(cls, gap: str):
        return _WindowSize(cls, gap)

    def column(self) -> Column:
        return F.session_window(F.col(self.on), self.gap)


class _WindowSize:
    """Intermediate builder: ``Tumble.over(size).on(ts)`` /
    ``Slide.over(size).every(slide).on(ts)`` / ``Session.with_gap(g).on(ts)``."""

    def __init__(self, kind, size: str):
        self._kind, self._size = kind, size
        self._slide: str | None = None

    def every(self, slide: str) -> "_WindowSize":
        self._slide = slide
        return self

    def on(self, ts_col: str):
        if self._kind is Slide:
            assert self._slide is not None, "Slide needs .every(slide)"
            return Slide(self._size, self._slide, ts_col)
        if self._kind is Session:
            return Session(self._size, ts_col)
        return Tumble(self._size, ts_col)


class WindowGroupedTable:
    """``Table.window(w).group_by(keys).select(aggs)`` — the reference's
    group-window aggregation surface (StreamExecGroupWindowAggregate)."""

    def __init__(self, df: DataFrame, window, keys: list[str]):
        self._df, self._window, self._keys = df, window, keys

    def select(self, *agg_exprs: str | Column) -> "Table":
        g = self._df.groupBy(self._window.column().alias("w"), *self._keys)
        out = g.agg(*_cols(agg_exprs))
        return Table(out
                     .withColumn("w_start", F.col("w.start"))
                     .withColumn("w_end", F.col("w.end"))
                     .drop("w"))


def _table_window(self, window) -> "_WindowedTable":
    return _WindowedTable(self._df, window)


class _WindowedTable:
    def __init__(self, df: DataFrame, window):
        self._df, self._window = df, window

    def group_by(self, *keys: str) -> WindowGroupedTable:
        return WindowGroupedTable(self._df, self._window, list(keys))


Table.window = _table_window


class Over:
    """OVER-window spec builder (``flink-table-api-java/.../api/Over.java:48``):
    ``Over.partition_by(k).order_by(o).preceding(n)`` -> a Spark Window
    spec for ``Table.over_select``."""

    def __init__(self):
        self._partition: list[str] = []
        self._order: list[str] = []
        self._preceding: int | None = None  # None => unbounded

    @classmethod
    def partition_by(cls, *keys: str) -> "Over":
        o = cls()
        o._partition = list(keys)
        return o

    def order_by(self, *cols: str) -> "Over":
        self._order = list(cols)
        return self

    def preceding(self, n: int) -> "Over":
        self._preceding = n
        return self

    def spec(self):
        from pyspark.sql import Window
        w = Window.partitionBy(*self._partition).orderBy(*self._order)
        lo = Window.unboundedPreceding if self._preceding is None else -self._preceding
        return w.rowsBetween(lo, Window.currentRow)


def _over_select(self, over: "Over", **named_aggs: Column) -> "Table":
    """``table.over_select(Over.partition_by("k").order_by("ts"),
    running=F.sum("v"))`` — each agg evaluated over the OVER window."""
    w = over.spec()
    df = self._df
    for name, agg in named_aggs.items():
        df = df.withColumn(name, agg.over(w))
    return Table(df)


Table.over_select = _over_select


def _register_stream_table(self, name: str, path: str, fmt: str = "parquet",
                           schema=None, watermark: tuple[str, str] | None = None,
                           computed_columns: dict[str, str] | None = None):
    """Streaming-table registration with watermark — the ``CREATE TABLE …
    WATERMARK FOR ts AS ts - INTERVAL …`` DDL analog
    (``flink-sql-parser/.../ddl/SqlCreateTable.java``, ``SqlWatermark.java``).

    ``watermark=("ts", "10 minutes")`` declares bounded out-of-orderness;
    ``computed_columns={"name": "expr"}`` mirrors DDL computed columns.
    Returns the streaming DataFrame (also registered as a temp view).
    """
    if schema is None:
        schema = self.spark.read.format(fmt).load(path).schema
    sdf = self.spark.readStream.schema(schema).format(fmt).load(path)
    for cname, expr in (computed_columns or {}).items():
        sdf = sdf.withColumn(cname, F.expr(expr))
    if watermark is not None:
        sdf = sdf.withWatermark(watermark[0], watermark[1])
    sdf.createOrReplaceTempView(name)
    return sdf


TableEnvironment.register_stream_table = _register_stream_table
