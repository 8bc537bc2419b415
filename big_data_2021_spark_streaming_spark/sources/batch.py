"""Batch parquet catalog over the driver's TPC-H-ish test tables.

The reference has no batch/file sources at all (its only inputs are a
Kafka topic, ``srapk_structure_streaming.py:12-15``, and an in-memory
states list, ``:78-137``); our batch surface exists so every operator
class is checkable against a SQL oracle and scalable to partitioned
parquet lakes.

Scale posture: loaders return *lazy* DataFrames straight off the
vectorized parquet reader — no caching, no collect — so Catalyst can
push filters/column pruning into the scan. The only eager work is a
footer read for schema.

Timestamp handling: the driver's parquet carries TIMESTAMP(NANOS),
which Spark does not read natively. With
``spark.sql.legacy.parquet.nanosAsLong=true`` the column surfaces as
int64 nanoseconds; we floor-divide to microseconds and rebuild a
TimestampType — bit-identical to DuckDB's ns→µs truncation, so oracle
comparisons are exact.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# table -> columns stored as parquet TIMESTAMP(NANOS)
TABLES: dict[str, tuple[str, ...]] = {
    "region": (),
    "nation": (),
    "customer": (),
    "supplier": (),
    "part": (),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
    "documents": (),
    "embeddings": (),
}


def _nanos_to_ts(col: str) -> F.Column:
    # integer `div`, NOT `/`: float division of ~1e18 ns loses µs-level
    # precision (53-bit mantissa) and can round up, diverging from
    # DuckDB's truncating read by 1 µs on some rows
    return F.timestamp_micros(F.expr(f"`{col}` div 1000"))


# (applicationId, sf_dir, table) -> resolved DataFrame. A DataFrame is
# an immutable LOGICAL PLAN, not data: memoizing it skips the parquet
# footer/schema resolution spark.read pays per call (~500 load_table
# calls per bench run, each a driver-side file-listing + footer read —
# guide §6) while leaving every consumer's plan byte-identical (proven
# at the round-9 fold by normalized-plan-hash equality over all 252
# queries, plans/r09/load_table_memo_plan_identity.json). No RESULT is
# cached — scans still read parquet at every execution. Keyed by
# applicationId so a new session re-resolves; entries from dead apps
# are evicted. Caveat: rewriting a corpus dir in-place mid-session
# would serve the stale file listing — regenerate corpora under fresh
# paths (tools/make_corpus.py already does).
_TABLE_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table with normalized timestamp columns."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_MEMO.get(key)
    if cached is not None:
        return cached
    for k in [k for k in _TABLE_MEMO if k[0] != key[0]]:
        del _TABLE_MEMO[k]
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for ts_col in TABLES[name]:
        if ts_col in df.columns and dict(df.dtypes)[ts_col] == "bigint":
            df = df.withColumn(ts_col, _nanos_to_ts(ts_col))
    _TABLE_MEMO[key] = df
    return df


def literal_frame(
    spark: SparkSession, rows: list[tuple], schema: str
) -> DataFrame:
    """Literal rows under a DDL schema, as a JVM local relation.

    ``createDataFrame(<list>)`` plans a Python-RDD scan, which runs
    Python workers (and starts the Python daemon on first use); an
    Arrow table plans a ``LocalTableScan``. The table is not built via
    pandas: that route silently falls back to the Python RDD whenever
    ``arrow.pyspark.fallback.enabled`` catches a conversion error."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows],
        schema=to_arrow_schema(struct),
    )
    return spark.createDataFrame(table, struct)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() access."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
