"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings. They are read-only inputs, so their schemas are
declared once in ``CATALOG`` and every open reads through
``spark.read.schema(...)``: no schema-inference Spark job per open.
A declaration is only as good as the file it describes, so each open
first reads the parquet footer in this process with pyarrow (one file; for
a Spark-written directory, its first part file). That read starts no
Spark job, and a footer that disagrees with the declaration raises
``ValueError`` naming the path, the declared and the found schema.
Nothing is cached over a path: the footer is read on every open.
Mutable paths (ETL ``out_dir``, snapshot sinks, operator state) do not
go through this catalog and keep inference.

``events.ts`` comes in two units. The test tables store
TIMESTAMP(MICROS), read as declared (timestamp_ntz). Other generators
store TIMESTAMP(NANOS), which Spark cannot read natively: the footer
read picks that unit, the column is declared bigint
(spark.sql.legacy.parquet.nanosAsLong) and converted to timestamp_ntz
at microsecond precision — identical to what DuckDB's reader produces,
so oracle comparisons line up exactly. The conversion uses timestampadd
from the NTZ epoch so it is independent of the session time zone.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type

from .session import ensure_session_conf

# Column names and Spark types, in file order, as Spark infers them from
# the test tables (every parquet column reads as nullable).
CATALOG: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"), ("c_name", "string"), ("c_nationkey", "int"),
        ("c_acctbal", "double"), ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"), ("s_name", "string"), ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"), ("p_name", "string"), ("p_brand", "string"),
        ("p_type", "string"), ("p_size", "int"), ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"), ("o_custkey", "bigint"), ("o_orderstatus", "string"),
        ("o_totalprice", "double"), ("o_orderdate", "timestamp_ntz"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"), ("l_partkey", "bigint"), ("l_suppkey", "bigint"),
        ("l_linenumber", "int"), ("l_quantity", "double"), ("l_extendedprice", "double"),
        ("l_discount", "double"), ("l_tax", "double"), ("l_returnflag", "string"),
        ("l_linestatus", "string"), ("l_shipdate", "timestamp_ntz"),
    ],
    "events": [
        ("event_id", "bigint"), ("ts", "timestamp_ntz"), ("user_id", "bigint"),
        ("event_type", "string"), ("value", "double"), ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"), ("text", "string"), ("lang", "string"),
        ("source", "string"), ("n_chars", "bigint"),
    ],
    "embeddings": [("vec_id", "bigint"), ("embedding", "array<float>"), ("label", "int")],
}
TABLE_NAMES = list(CATALOG)


def _ddl(columns: list[tuple[str, str]]) -> str:
    return ", ".join(f"`{c}` {t}" for c, t in columns)


def _footer_file(path: str) -> str:
    """The file whose footer describes `path`: the path itself, or the
    first part file of a Spark-written directory."""
    if not os.path.isdir(path):
        return path
    parts = sorted(
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    if not parts:
        raise FileNotFoundError(f"no parquet part file under {path}")
    return os.path.join(path, parts[0])


def footer_columns(path: str) -> list[tuple[str, str]]:
    """Column names and Spark types from a parquet footer (pyarrow, on
    this process). A nanosecond timestamp reads as bigint, as Spark reads
    it under nanosAsLong."""
    cols = []
    for field in pq.read_schema(_footer_file(path)):
        t = field.type
        if pa.types.is_timestamp(t) and t.unit == "ns":
            cols.append((field.name, "bigint"))
            continue
        try:
            cols.append((field.name, from_arrow_type(t, prefer_timestamp_ntz=True).simpleString()))
        except TypeError:  # a type Spark has no mapping for can never match
            cols.append((field.name, str(t)))
    return cols


def declared_columns(name: str, found: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """The declaration for table `name`, with `events.ts` declared bigint
    when the footer stores it as nanoseconds (TIMESTAMP(NANOS), or the
    plain int64 a Spark rewrite of such a file leaves)."""
    declared = CATALOG[name]
    if name == "events" and ("ts", "bigint") in found:
        declared = [(c, "bigint" if c == "ts" else t) for c, t in declared]
    return declared


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    found = footer_columns(path)
    declared = declared_columns(name, found)
    if found != declared:
        raise ValueError(
            f"{path}: declared schema <{_ddl(declared)}> does not match the "
            f"schema found in its footer <{_ddl(found)}>"
        )
    df = spark.read.schema(_ddl(declared)).parquet(path)
    if name == "events" and dict(declared)["ts"] == "bigint":
        # nanos → microsecond timestamp_ntz, time-zone independent.
        df = df.withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    return df


class Tables:
    """Lazy accessor: ``Tables(spark, sf_dir).lineitem`` etc."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name not in TABLE_NAMES:
            raise AttributeError(name)
        if name not in self._cache:
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]

    def register_views(self) -> None:
        for name in TABLE_NAMES:
            getattr(self, name).createOrReplaceTempView(name)
