"""Table catalog: registers the ten driver tables as temp views.

pkg2 normalized heterogeneous package-index sources into a uniform record
store at ingest (SURVEY.md §1.1 [Tier C]); this catalog is the Spark analog —
every dataset becomes a DataFrame with a frozen schema, registered by name so
both the DataFrame and SQL surfaces see it.

Scale posture: views are plain parquet scans — Catalyst pushes filters and
projections down to the reader, and nothing here materializes data. The one
ingestion shim (events TIMESTAMP(NANOS) → TimestampType, SURVEY.md §1.3) is a
projection, so it fuses into whole-stage codegen above the scan.
"""

from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pkg2_spark.session import BoundedMemo, ensure_runtime_confs, session_key

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables: always broadcast-joinable (SURVEY.md §1.2 row counts
# are sf-invariant for region/nation; customer/supplier/part stay dim-sized
# relative to the facts at every sf).
BROADCAST_DIMS = {"region", "nation", "supplier", "part"}

# Join/filter key columns per table: the subset worth per-column CBO stats
# (ndv, min/max, null counts) — what CostBasedJoinReorder and selectivity
# estimation consume. Wide payload columns (text, embedding arrays — which
# ANALYZE FOR COLUMNS rejects anyway) are deliberately excluded; at real
# scale column-stat collection cost is proportional to what you name here.
STATS_COLUMNS = {
    "region": "r_regionkey, r_name",
    "nation": "n_nationkey, n_name, n_regionkey",
    "customer": "c_custkey, c_nationkey, c_mktsegment",
    "supplier": "s_suppkey, s_nationkey",
    # NOTE: the TIMESTAMP_NTZ columns (o_orderdate, l_shipdate) are
    # deliberately absent — Spark 4.1's FilterEstimation.evaluateBinary has
    # an unhandled TimestampNTZType match arm, so column stats on an NTZ
    # column crash CBO selectivity estimation with an INTERNAL_ERROR the
    # moment any filter touches it (reproduced on q_sql_tpch_q5). Without
    # per-column stats those filters fall back to default selectivity;
    # join reordering still gets rowCount + key ndv from the rest.
    "part": "p_partkey, p_brand, p_type, p_size",
    "orders": "o_orderkey, o_custkey, o_orderstatus",
    "lineitem": "l_orderkey, l_partkey, l_suppkey, l_returnflag, l_linestatus",
    "events": "event_id, user_id, event_type",
    "documents": "doc_id, lang, source, n_chars",
    "embeddings": "vec_id, label",
}

# Memoize registration per (session, sf_dir) so the driver's per-query
# callable pattern doesn't re-register ten views on every call (SURVEY.md §6:
# fixed costs must stay fixed). An evicted entry re-registers on next use.
_REGISTERED = BoundedMemo(8)

# Temp views are GLOBAL per session (last registration wins), so when one
# session alternates scale factors (scale_probe, perturbation sweeps) the
# memo hit must still re-point the views at this sf_dir's DataFrames —
# otherwise the SQL surface silently reads the previously loaded sf.
_VIEWS_FOR: dict[int, str] = {}


def sf_tag(sf_dir: str) -> str:
    """Short content address of an sf_dir, for catalog table names that
    must not collide across scale factors in one session."""
    return hashlib.md5(sf_dir.encode()).hexdigest()[:8]


def _ensure_stats_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Register each parquet file as an EXTERNAL catalog table and ANALYZE it.

    SURVEY.md §4.1 names this the engine's one optimizer obligation: Catalyst's
    `CostBasedJoinReorder` (and its selectivity estimation) only fire on
    catalog statistics, and Spark refuses `ANALYZE TABLE` on (uncached) temp
    views — so the ingest path materializes catalog entries pointing at the
    same parquet (LOCATION tables: metadata only, zero data copy) and runs
    table-level + key-column ANALYZE once per (session, sf_dir). At 100 TB
    this is the standard post-ingest step, amortized over every subsequent
    multi-join query; locally it costs one extra scan per table per session.
    Table names are content-addressed by sf_dir so one session can hold
    several scale factors (scripts/scale_probe.py does)."""
    from concurrent.futures import ThreadPoolExecutor

    tag = sf_tag(sf_dir)

    def register(name: str) -> tuple[str, str]:
        tbl = f"pkg2_{tag}_{name}"
        if not spark.catalog.tableExists(tbl):
            path = os.path.join(sf_dir, f"{name}.parquet")
            spark.sql(f"CREATE TABLE {tbl} USING PARQUET LOCATION '{path}'")
            # FOR COLUMNS also records table-level sizeInBytes + rowCount,
            # so one ANALYZE per table suffices (vs a separate table-level
            # pass — measured 12.7s → 9.5s for ten tables at sf0.01).
            spark.sql(
                f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS {STATS_COLUMNS[name]}"
            )
        return name, tbl

    # The ten ANALYZE scans are independent Spark jobs dominated by fixed
    # per-command latency, so submit them concurrently (Spark's scheduler is
    # built for multi-threaded job submission): 9.5s → ~2s per fresh session.
    with ThreadPoolExecutor(max_workers=len(TABLES)) as pool:
        return dict(pool.map(register, TABLES))


def read_table(
    spark: SparkSession, sf_dir: str, name: str, catalog_table: str | None = None
) -> DataFrame:
    """Read one driver table with the required ingestion shims applied.

    When ``catalog_table`` is given, read through the ANALYZEd catalog entry
    (stats attach to the relation, so CBO sees row counts / ndv under every
    downstream view); otherwise fall back to the direct parquet scan."""
    if catalog_table is not None:
        df = spark.table(catalog_table)
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) arrives as LongType nanos under the legacy flag.
        # Integer DIV is load-bearing: float division corrupts epoch-nanos
        # beyond double's 53-bit mantissa (SURVEY.md §1.3 [V]).
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    # Spark 4 infers parquet timestamp[ms] (isAdjustedToUTC=false) as
    # TIMESTAMP_NTZ, which unix_micros & friends reject. Session TZ is pinned
    # to UTC, so casting NTZ -> TIMESTAMP preserves the instant and matches
    # DuckDB's naive-timestamp reading exactly. TimestampType() — not the
    # "timestamp" type string, which resolves through spark.sql.timestampType
    # and would be a no-op in an NTZ-default session.
    from pyspark.sql.types import TimestampType

    for fname, ftype in df.dtypes:
        if ftype == "timestamp_ntz":
            df = df.withColumn(fname, F.col(fname).cast(TimestampType()))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register all driver tables as temp views; return them by name.

    Idempotent and memoized per (session, sf_dir): repeated calls from the
    driver's per-query loop cost a dict lookup, not ten parquet-footer reads.
    """
    sid = session_key(spark)

    def register() -> dict[str, DataFrame]:
        ensure_runtime_confs(spark)
        try:
            catalog_names = _ensure_stats_tables(spark, sf_dir)
        except Exception:
            # A foreign session whose catalog rejects table creation still
            # gets the full query surface — just without CBO statistics.
            catalog_names = {}
        # A new entry always points the views, even at a reused session id.
        _VIEWS_FOR.pop(sid, None)
        return {name: read_table(spark, sf_dir, name, catalog_names.get(name)) for name in TABLES}

    tables = _REGISTERED.get((sid, sf_dir), register)
    if _VIEWS_FOR.get(sid) != sf_dir:
        for name, df in tables.items():
            df.createOrReplaceTempView(name)
        _VIEWS_FOR[sid] = sf_dir
    return tables
