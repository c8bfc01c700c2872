"""Relation (DataFrame-like) API — mirror of the reference's second entry
point (builders Connection::Table/Values/ReadCSV/ReadParquet/RelationFromQuery
duckdb-7.cpp:3468-3561; composition Project/Filter/Limit/Order/Join/
CrossProduct/Union/Except/Intersect/Distinct/Aggregate/Alias/WriteCSV/
WriteParquet/CreateView duckdb-7.cpp:7663-7919).

The reference's Relation tree is lazily-composed relational algebra that
re-enters the planner on Execute (duckdb-7.cpp:7827). Here each Relation
wraps a lazy DataFrame: composition is 1:1 delegation, execution is
Spark's — Catalyst sees the whole tree, so optimization crosses every
Relation boundary exactly as it does in the reference.

Expressions are SQL strings (parsed by `F.expr`, same dialect position as
the reference's parsed expressions) or Columns — both accepted everywhere.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from quackspark.session import local_frame

ColumnOrSql = "Column | str"


def _cols(exprs: Iterable[Column | str]) -> list[Column]:
    return [F.expr(e) if isinstance(e, str) else e for e in exprs]


class Relation:
    """Lazily-composed relation; immutable — every method returns a new one."""

    def __init__(self, df: DataFrame):
        self._df = df

    # -- composition (duckdb-7.cpp:7663-7919) --------------------------------

    def project(self, *exprs: Column | str) -> "Relation":
        return Relation(self._df.select(*_cols(exprs)))

    def filter(self, condition: Column | str) -> "Relation":
        cond = F.expr(condition) if isinstance(condition, str) else condition
        return Relation(self._df.filter(cond))

    def limit(self, n: int, offset: int = 0) -> "Relation":
        df = self._df.offset(offset) if offset else self._df
        return Relation(df.limit(n))

    def order(self, *exprs: Column | str) -> "Relation":
        return Relation(self._df.orderBy(*_cols(exprs)))

    def join(
        self, other: "Relation", condition: Column | str, how: str = "inner"
    ) -> "Relation":
        cond = F.expr(condition) if isinstance(condition, str) else condition
        return Relation(self._df.join(other._df, cond, how))

    def cross_product(self, other: "Relation") -> "Relation":
        return Relation(self._df.crossJoin(other._df))

    def asof_join(
        self,
        other: "Relation",
        on: str,
        by: list[str] | str | None = None,
        direction: str = "backward",
        **kwargs,
    ) -> "Relation":
        """Temporal as-of join (operators/asofjoin.py) — beyond-reference
        extension; DuckDB gained ASOF JOIN only after v0.7."""
        from quackspark.operators.asofjoin import asof_join

        return Relation(
            asof_join(self._df, other._df, on=on, by=by, direction=direction, **kwargs)
        )

    def band_join(
        self, other: "Relation", left_on: str, right_on: str, band: int, **kwargs
    ) -> "Relation":
        """Bounded range join via bucketed equi join (operators/rangejoin.py)."""
        from quackspark.operators.rangejoin import band_join

        return Relation(
            band_join(self._df, other._df, left_on, right_on, band, **kwargs)
        )

    def sample(self, fraction: float, seed: int | None = None) -> "Relation":
        """`USING SAMPLE n%` (bernoulli) — reference sample operator
        duckdb-3.cpp:13038."""
        return Relation(self._df.sample(fraction=fraction, seed=seed))

    def summarize(self, exact_distinct: bool = False) -> "Relation":
        """Per-column profile (`SUMMARIZE rel`, catalog.summarize)."""
        from quackspark.catalog import summarize

        return Relation(summarize(self._df, exact_distinct=exact_distinct))

    def union(self, other: "Relation", *, all: bool = True) -> "Relation":
        out = self._df.unionAll(other._df)
        return Relation(out if all else out.distinct())

    def except_(self, other: "Relation", *, all: bool = False) -> "Relation":
        fn = self._df.exceptAll if all else self._df.subtract
        return Relation(fn(other._df))

    def intersect(self, other: "Relation", *, all: bool = False) -> "Relation":
        fn = self._df.intersectAll if all else self._df.intersect
        return Relation(fn(other._df))

    def distinct(self) -> "Relation":
        return Relation(self._df.distinct())

    def aggregate(
        self, aggr_exprs: Iterable[Column | str], group_exprs: Iterable[Column | str] = ()
    ) -> "Relation":
        groups = _cols(group_exprs)
        aggs = _cols(aggr_exprs)
        if groups:
            return Relation(self._df.groupBy(*groups).agg(*aggs))
        return Relation(self._df.agg(*aggs))

    def set_alias(self, name: str) -> "Relation":
        return Relation(self._df.alias(name))

    def map_partitions(self, fn, schema) -> "Relation":
        """Table-in/table-out extension point (the reference's table-function
        slot, duckdb.hpp:19002-19036) — Arrow-batched mapInPandas."""
        return Relation(self._df.mapInPandas(fn, schema))

    # -- execution & sinks ----------------------------------------------------

    @property
    def df(self) -> DataFrame:
        return self._df

    def execute(self) -> list:
        return self._df.collect()

    def fetchall(self) -> list[tuple]:
        return [tuple(r) for r in self._df.collect()]

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)

    def count(self) -> int:
        return self._df.count()

    def create_view(self, name: str, replace: bool = True) -> "Relation":
        if replace:
            self._df.createOrReplaceTempView(name)
        else:
            self._df.createTempView(name)
        return self

    def write_csv(self, path: str, **options) -> None:
        from quackspark.sources import copy_to

        copy_to(self._df, path, format="csv", **options)

    def write_parquet(self, path: str, **options) -> None:
        from quackspark.sources import copy_to

        copy_to(self._df, path, format="parquet", **options)


class Connection:
    """Builder half of the Relation API (duckdb-7.cpp:3468-3561)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def table(self, name: str) -> Relation:
        return Relation(self.spark.table(name))

    def view(self, name: str) -> Relation:
        return Relation(self.spark.table(name))

    def values(self, rows: list[tuple], schema: str) -> Relation:
        return Relation(local_frame(self.spark, rows, schema))

    def read_csv(self, path: str, **options) -> Relation:
        from quackspark.sources import read_csv

        return Relation(read_csv(self.spark, path, **options))

    def read_parquet(self, path: str) -> Relation:
        return Relation(self.spark.read.parquet(path))

    def from_query(self, sql: str) -> Relation:
        return Relation(self.spark.sql(sql))

    def table_function(self, name: str, *args) -> Relation:
        if name == "range":
            return Relation(self.spark.range(*args).withColumnRenamed("id", "range"))
        if name == "glob":
            # duckdb-6.cpp:9491: file listing as a relation (driver-side
            # metadata, like the reference's filesystem call)
            import glob as _glob

            files = sorted(_glob.glob(args[0]))
            return Relation(
                local_frame(self.spark, [(f,) for f in files], "file string")
            )
        if name == "repeat":
            # duckdb-6.cpp:10510-10530: repeat(value, count)
            value, count = args
            return Relation(
                self.spark.range(int(count)).select(
                    F.lit(value).alias("repeat")
                )
            )
        raise ValueError(f"unknown table function {name!r}")

    def prepare(self, sql: str) -> "PreparedStatement":
        """Entry point B (Connection::Prepare, duckdb-7.cpp:3423): cache the
        transpiled statement once; `execute(*params)` binds `?` positional
        parameters per run via Spark's parameterized SQL."""
        from quackspark.sqlfront import transpile

        return PreparedStatement(self.spark, transpile(sql, self.spark))

    def sql(self, duckdb_sql: str) -> Relation:
        """Entry point A (Connection::Query, duckdb-7.cpp:3375): DuckDB-
        dialect SQL through the frontend."""
        from quackspark import sqlfront

        return Relation(sqlfront.sql(self.spark, duckdb_sql))


class PreparedStatement:
    """`?`-parameterized statement (reference PreparedStatementData,
    duckdb-7.cpp:1968-2055). The transpiled text is cached; Catalyst's own
    plan cache covers re-execution with equal parameter types."""

    def __init__(self, spark: SparkSession, spark_sql: str):
        self._spark = spark
        self._sql = spark_sql

    def execute(self, *params) -> Relation:
        return Relation(self._spark.sql(self._sql, args=list(params)))
