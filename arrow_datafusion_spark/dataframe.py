"""DataFusion-shaped ``DataFrame`` facade over a PySpark DataFrame.

Method-for-method mirror of the reference's DataFrame API
(datafusion/core/src/dataframe/mod.rs — select :260, filter :392,
aggregate :422, window :438, limit :466, union :493, distinct :545,
sort :791, join :834, join_on :893, with_column :1435, describe :604,
explain :1190, cache :1616, write_csv :1324, write_json :1384,
write_parquet parquet.rs:54). Every call delegates straight to the wrapped
PySpark plan — zero extra plan nodes, so Catalyst sees exactly what a native
PySpark user would build; ``.df`` exposes the underlying object at any point.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import functions as F


class DataFrame:
    """Thin immutable wrapper; each method returns a new facade."""

    def __init__(self, df: SparkDataFrame):
        self.df = df

    def _wrap(self, df: SparkDataFrame) -> "DataFrame":
        return DataFrame(df)

    # -- projection / filter -------------------------------------------------
    def select(self, *exprs: Column | str) -> "DataFrame":
        return self._wrap(self.df.select(*exprs))

    def select_columns(self, *names: str) -> "DataFrame":
        return self._wrap(self.df.select(*names))

    def filter(self, predicate: Column) -> "DataFrame":
        return self._wrap(self.df.filter(predicate))

    def with_column(self, name: str, expr: Column) -> "DataFrame":
        return self._wrap(self.df.withColumn(name, expr))

    def with_column_renamed(self, old: str, new: str) -> "DataFrame":
        return self._wrap(self.df.withColumnRenamed(old, new))

    def drop_columns(self, *names: str) -> "DataFrame":
        return self._wrap(self.df.drop(*names))

    def unnest_columns(self, *names: str) -> "DataFrame":
        """Unnest (explode) array columns, one at a time in order."""
        out = self.df
        for n in names:
            out = out.withColumn(n, F.explode_outer(n))
        return self._wrap(out)

    # -- aggregation / window ------------------------------------------------
    def aggregate(
        self, group_expr: list[Column | str], aggr_expr: list[Column]
    ) -> "DataFrame":
        if group_expr:
            return self._wrap(self.df.groupBy(*group_expr).agg(*aggr_expr))
        return self._wrap(self.df.agg(*aggr_expr))

    def window(self, window_exprs: list[Column]) -> "DataFrame":
        """Append already-windowed expressions (built with F.x.over(spec))."""
        return self._wrap(self.df.select("*", *window_exprs))

    def distinct(self) -> "DataFrame":
        return self._wrap(self.df.distinct())

    # -- joins / set ops -------------------------------------------------
    def join(
        self,
        right: "DataFrame",
        join_keys: tuple[list[str], list[str]] | list[str],
        how: str = "inner",
    ) -> "DataFrame":
        if isinstance(join_keys, tuple):
            left_keys, right_keys = join_keys
            cond = None
            for lk, rk in zip(left_keys, right_keys):
                c = self.df[lk] == right.df[rk]
                cond = c if cond is None else (cond & c)
            return self._wrap(self.df.join(right.df, cond, how))
        return self._wrap(self.df.join(right.df, join_keys, how))

    def join_on(self, right: "DataFrame", on: Column, how: str = "inner") -> "DataFrame":
        return self._wrap(self.df.join(right.df, on, how))

    def union(self, other: "DataFrame") -> "DataFrame":
        return self._wrap(self.df.unionAll(other.df))

    def union_distinct(self, other: "DataFrame") -> "DataFrame":
        return self._wrap(self.df.unionAll(other.df).distinct())

    def intersect(self, other: "DataFrame") -> "DataFrame":
        return self._wrap(self.df.intersect(other.df))

    def except_all(self, other: "DataFrame") -> "DataFrame":
        return self._wrap(self.df.exceptAll(other.df))

    # -- sort / limit ------------------------------------------------------
    def sort(self, *exprs: Column | str) -> "DataFrame":
        return self._wrap(self.df.orderBy(*exprs))

    def limit(self, count: int, skip: int = 0) -> "DataFrame":
        out = self.df.offset(skip) if skip else self.df
        return self._wrap(out.limit(count))

    # -- exchange (RepartitionExec, repartition/mod.rs:391) ----------------
    def repartition(self, num: int, *cols: Column | str) -> "DataFrame":
        return self._wrap(
            self.df.repartition(num, *cols) if cols else self.df.repartition(num)
        )

    def coalesce_partitions(self, num: int = 1) -> "DataFrame":
        return self._wrap(self.df.coalesce(num))

    # -- inspection -----------------------------------------------------
    def schema(self):
        return self.df.schema

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)

    def describe(self) -> "DataFrame":
        return self._wrap(self.df.describe())

    def cache(self) -> "DataFrame":
        return self._wrap(self.df.cache())

    # -- execution -------------------------------------------------------
    def collect(self) -> list[Any]:
        return self.df.collect()

    def show(self, n: int = 20) -> None:
        self.df.show(n)

    def count(self) -> int:
        return self.df.count()

    def to_pandas(self):
        return self.df.toPandas()

    # -- writers (DataSinkExec / file writers, SURVEY.md §2.1) -------------
    def write_parquet(self, path: str, mode: str = "overwrite", **opts) -> None:
        self.df.write.mode(mode).options(**opts).parquet(path)

    def write_csv(self, path: str, mode: str = "overwrite", **opts) -> None:
        opts.setdefault("header", True)
        self.df.write.mode(mode).options(**opts).csv(path)

    def write_json(self, path: str, mode: str = "overwrite", **opts) -> None:
        self.df.write.mode(mode).options(**opts).json(path)

    def write_avro(self, path: str, mode: str = "overwrite", **opts) -> None:
        """Distributed Avro container-file sink (one part per partition)
        — BEYOND the reference, whose Avro surface is read-only
        (file_format/avro.rs); reads back via register_avro. ``opts`` are
        the Avro writer's ``schema``, ``codec`` and ``rows_per_block``."""
        from arrow_datafusion_spark.sources.sink import write_sink

        write_sink(self.df, "avro", path, layout=mode, options=opts)
