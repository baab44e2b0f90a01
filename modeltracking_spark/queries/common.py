"""Shared infrastructure for the driver-facing query registry.

Every query here is a pair: a PySpark DataFrame program and an ANSI-SQL
oracle that DuckDB runs on the same parquet tables. The driver compares
them by row count + schema + order-insensitive value hash, so the cardinal
rule is **bit-identical values across engines**:

- Sums of doubles are never hashed: monetary/measure columns are scaled to
  exact integers (cents / 1e6 / 1e12 fixed point), summed as BIGINT
  (order-independent), and only then divided/rounded — identical in any
  engine.
- Per-row double expressions (no aggregation) are deterministic IEEE-754
  ops, identical in Spark and DuckDB; transcendental functions (sin/cos)
  are last-ulp risky, so their outputs are rounded coarsely (2 decimals)
  and never used as sort keys without an integer tie-break.
- Temporal outputs are formatted to strings; the session time zone is
  pinned to UTC at load time so rendering is engine-independent.
- Every computed column is aliased identically in both dialects.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from modeltracking_spark.schemas import load_table
# the query modules and perfbench import it from here
from modeltracking_spark.session import ensure_pkg_on_workers

# registries filled by the @query decorator across the queries modules
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable, optionally with
    its DuckDB oracle SQL. Queries without an oracle get the driver's
    weaker rows-only check (reserved for genuinely non-SQL ops)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table with the session pinned to UTC so timestamp
    rendering matches the (tz-naive) DuckDB oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ensure_pkg_on_workers(spark)
    return load_table(spark, sf_dir, name)


def cents(col: Column | str) -> Column:
    """Exact integer cents from a 2-decimal double — the fixed-point trick
    that makes monetary sums order-independent and engine-exact."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def fxp(col: Column | str, scale: float) -> Column:
    """round(col * scale) as BIGINT — generic fixed-point lift."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(scale)).cast("long")


def semi_anti_arm(customer: DataFrame, orders: DataFrame, how: str,
                  tag: str) -> DataFrame:
    """One left-semi/left-anti customers-vs-orders aggregate arm
    (segment, n_cust, acctbal_cents) — shared by ``semi_anti_customers``
    and the ``customer_order_set_ops`` suite so the join logic and its
    oracle semantics live in exactly one place."""
    o = orders.select("o_custkey")
    return (
        customer.join(o, customer.c_custkey == o.o_custkey, how)
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(cents("c_acctbal")).alias("acctbal_cents"),
        )
        .select(F.lit(tag).alias("segment"), "n_cust", "acctbal_cents")
    )


def rank_median_sql(src_sql: str, group: str, col: str, out: str) -> str:
    """Two-pass rank-arithmetic exact median of ``col`` per ``group``
    over ``src_sql`` — the scalable median formulation every median
    oracle shares (one source of truth, like the greedy-pack CTE).
    The midpoint mean uses floor(a/b) on DOUBLES of exact integers
    (exact to 2^53), NOT SQL ``//``: DuckDB's ``//`` truncates toward
    zero while Python's floors, so a negative odd midpoint sum would
    silently diverge from the engine's floored definition.
    Emits: SELECT {group}, {out} FROM ... (one row per group)."""
    return f"""
      SELECT {group},
             floor(sum(CASE WHEN rn = (n + 1) // 2 OR rn = (n + 2) // 2
                            THEN {col} END)::DOUBLE
                   / count(CASE WHEN rn = (n + 1) // 2 OR rn = (n + 2) // 2
                                THEN 1 END)::DOUBLE)::BIGINT AS {out}
      FROM (
        SELECT {group}, {col},
               row_number() OVER (PARTITION BY {group} ORDER BY {col}) AS rn,
               count(*) OVER (PARTITION BY {group}) AS n
        FROM ({src_sql})
      ) GROUP BY {group}"""


def rank_median_df(df, group_col: str, value_col: str, out_col: str):
    """DataFrame twin of :func:`rank_median_sql`: exact per-group integer
    median via hash-partitioned rank windows — the SCALE path (no group
    ever ships to one Python worker, unlike the GROUPED_AGG UDF demo in
    operators/aggregates.py). Floored midpoint mean, identical to the
    UDF's definition."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(value_col)
    wc = Window.partitionBy(group_col)
    mid = (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .where(
            (F.col("__rn") == F.floor((F.col("__n") + 1) / 2))
            | (F.col("__rn") == F.floor((F.col("__n") + 2) / 2))
        )
    )
    return mid.groupBy(group_col).agg(
        F.floor(
            F.sum(value_col).cast("double") / F.count(F.lit(1)).cast("double")
        ).cast("long").alias(out_col)
    )
