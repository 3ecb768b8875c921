"""Streaming harness: run the events table through real Structured Streaming.

The events parquet is replayed through ``readStream`` (file source) with the
same nanos→µs shim as the batch catalog, so every batch-validated window
query has a streaming twin. ``availableNow`` + complete-mode memory sink
makes the result deterministic and equal to the batch answer — the
batch/stream parity contract (SURVEY.md §2.10).

Watermark/late-data behavior (append mode, multi-batch replay) is exercised
in tests/test_streaming.py, where file arrival order is controlled.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import TimestampType

from pkg2_spark.queries.relational import IO_DIR
from pkg2_spark.session import BoundedMemo, ensure_runtime_confs


# Schema memo for events_stream, keyed by the source file's identity: every
# streaming query calls events_stream at least once per INVOCATION, and each
# call paid a parquet footer read (~0.1 s of driver latency) for a schema
# that cannot change unless the file does. The ns mtime re-reads after any
# rewrite, even one within a float mtime's resolution.
_SCHEMA_MEMO = BoundedMemo(8)


def _events_schema(spark: SparkSession, src: str):
    try:
        st = os.stat(src)
    except OSError:
        return spark.read.parquet(src).schema
    key = (src, st.st_size, st.st_mtime_ns)
    return _SCHEMA_MEMO.get(key, lambda: spark.read.parquet(src).schema)


def _refresh_copy(src: str, dst: str) -> None:
    """Keep ``dst`` a current copy of ``src``. Each copy is stamped with
    the source's ``(st_size, st_mtime_ns)`` as stat'ed before copying, and
    is made again whenever either differs: a rewrite of the source, or an
    older file of the same size moved in with its mtime preserved."""
    st = os.stat(src)
    try:
        cur = os.stat(dst)
    except FileNotFoundError:
        cur = None
    if cur is not None and (cur.st_size, cur.st_mtime_ns) == (st.st_size, st.st_mtime_ns):
        return
    shutil.copyfile(src, dst)
    os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table (file source, availableNow-ready).

    The file-source needs a directory; the single events.parquet is linked
    into a scratch dir. Schema is taken from the batch reader (ts arrives as
    bigint nanos under the legacy flag) and shimmed identically to batch.
    """
    ensure_runtime_confs(spark)
    src = os.path.join(sf_dir, "events.parquet")
    src_dir = os.path.join(IO_DIR, "stream_src", os.path.basename(os.path.normpath(sf_dir)))
    if os.path.isdir(src):
        # Spark-written table (the synthetic decade replicas): already a
        # directory of part files — stream straight from it, no copy.
        src_dir = src
    else:
        os.makedirs(src_dir, exist_ok=True)
        # Re-copy when the source file changed (test data can be
        # regenerated in place; a stale copy would diverge from the schema
        # read below).
        _refresh_copy(src, os.path.join(src_dir, "events.parquet"))
    schema = _events_schema(spark, src)
    raw = spark.readStream.schema(schema).parquet(src_dir)
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    if dtypes.get("ts") == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    # parquet timestamp[us] with isAdjustedToUTC=false infers as TIMESTAMP_NTZ,
    # which streaming window()/withWatermark/unix_micros reject. Session TZ is
    # pinned UTC, so an explicit LTZ cast preserves the instant (same shim as
    # catalog.read_table). TimestampType() — not the "timestamp" type string,
    # which resolves through spark.sql.timestampType and could stay NTZ.
    for fname, ftype in dtypes.items():
        if ftype == "timestamp_ntz":
            raw = raw.withColumn(fname, F.col(fname).cast(TimestampType()))
    return raw


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Execute a streaming aggregation to completion into a memory sink and
    return the materialized table. availableNow processes all existing files
    then stops — deterministic replay.

    The number of state-store tasks per micro-batch is fixed by
    ``spark.sql.shuffle.partitions`` at query start (it is baked into the
    checkpoint). These replays are bounded single-file runs, so the conf is
    temporarily lowered: 32 state partitions × several stateful operators
    is pure task-launch overhead at this volume, while a real deployment
    sizes it to cluster cores before the FIRST start of each query."""
    spark = stream_df.sparkSession
    # Unique sink/checkpoint per run: memory sinks are session-global.
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(IO_DIR, "checkpoints", qname)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions", None)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            stream_df.writeStream.format("memory")
            .queryName(qname)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if old_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    out = spark.table(qname)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


def replay_to_checkpoint(stream_df: DataFrame, name: str) -> str:
    """Replay a stateful stream to the noop sink, KEEPING the checkpoint —
    the fixture for state-store observability (the ``statestore`` /
    ``state-metadata`` readers point at this path). The checkpoint is
    wiped first so every invocation re-derives state from the CURRENT
    source files (a stale checkpoint from a prior testdata generation
    would silently diverge); the name is fixed per caller+scale, so the
    scratch dir holds one live checkpoint per fixture, not one per run."""
    spark = stream_df.sparkSession
    ckpt = os.path.join(IO_DIR, "checkpoints", name)
    shutil.rmtree(ckpt, ignore_errors=True)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions", None)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            stream_df.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if old_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return ckpt
