"""Checkpointed, idempotently-resumable extraction runs.

Replaces the reference's Redis JobStatus record and read-modify-write progress
protocol (``backend/app/main.py:94-125, 276-314`` — which has a lost-update window,
SURVEY.md §3.2) with a structured checkpoint table + deterministic partitioning:

  * ``partition_id = pmod(xxhash64(doc_id), P)`` — stable, input-order-independent.
  * resume is planned from the checkpoint table alone (SURVEY.md §2 C1): the
    pending ids are ``range(P)`` minus the partitions with a status='completed'
    row for this run_id; the corpus is read only if some are pending, and then
    filtered to them on partition_id.
  * output written with **dynamic partition overwrite** partitioned by
    partition_id: a re-run of a half-written partition atomically replaces it —
    no duplicates, no orphans (Iceberg's overwritePartitions gives the same
    contract when a catalog is configured).
  * the checkpoint row for a partition is appended ONLY AFTER its output commit,
    and metrics are derived by reading back the written data (never from
    accumulators, which are at-least-once) — so a crash between the two steps
    just re-runs that partition.
  * per-partition lineage: run_id, input path, docs_done, spans_emitted,
    parse_failures, bytes_processed, updated_at.

Storage is format-pluggable: plain parquet paths in this sandbox; the same code
paths map 1:1 onto Iceberg tables (MERGE INTO checkpoints / overwritePartitions)
when a catalog is available — see io_compat notes in README.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .pipeline import DEFAULT_SALT_THRESHOLD, extract_corpus, extraction_sums
from .schema import CHECKPOINT_SCHEMA

DEFAULT_NUM_PARTITIONS = 64

# storage refs are format-pluggable: a plain path means parquet; an
# "iceberg:catalog.db.table" ref routes reads/writes through the Iceberg
# DataFrame v2 API (requires iceberg-spark-runtime on the classpath and a
# configured catalog — not present in this sandbox, hence the availability
# check; parquet behavior is byte-identical either way).
ICEBERG_PREFIX = "iceberg:"


def is_iceberg_ref(ref: str) -> bool:
    return ref.startswith(ICEBERG_PREFIX)


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime classes are on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _require_backend(spark: SparkSession, *refs: str) -> None:
    if any(is_iceberg_ref(r) for r in refs) and not iceberg_available(spark):
        raise RuntimeError(
            "an iceberg: table ref was given but the Iceberg Spark runtime is not "
            "on the classpath (add iceberg-spark-runtime and configure the catalog)"
        )


def _read_table(spark: SparkSession, ref: str, schema: StructType | None = None) -> DataFrame:
    """A known parquet ``schema`` spares the Spark job that infers it from a footer."""
    if is_iceberg_ref(ref):
        return spark.read.table(ref[len(ICEBERG_PREFIX):])
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(ref)


_TABLE_MISSING = ("TABLE_OR_VIEW_NOT_FOUND", "Table or view not found")


def _write_output(extracted: DataFrame, ref: str) -> None:
    """Idempotent per-partition commit. Parquet: dynamic partition overwrite.
    Iceberg: overwritePartitions() — the same replace-exactly-the-written-
    partitions contract, with snapshot isolation on top. A first run creates
    the table (overwritePartitions/append cannot — mirroring the fresh-run
    tolerance in completed_partitions)."""
    if is_iceberg_ref(ref):
        from pyspark.errors import AnalysisException

        tbl = ref[len(ICEBERG_PREFIX):]
        try:
            extracted.writeTo(tbl).overwritePartitions()
        except AnalysisException as e:
            if not any(m in str(e) for m in _TABLE_MISSING):
                raise
            extracted.writeTo(tbl).partitionedBy(F.col("partition_id")).create()
    else:
        (
            extracted.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("partition_id")
            .parquet(ref)
        )


def _append_checkpoint(rows_df: DataFrame, ref: str) -> None:
    if is_iceberg_ref(ref):
        from pyspark.errors import AnalysisException

        tbl = ref[len(ICEBERG_PREFIX):]
        try:
            rows_df.writeTo(tbl).append()
        except AnalysisException as e:
            if not any(m in str(e) for m in _TABLE_MISSING):
                raise
            rows_df.writeTo(tbl).create()
    else:
        rows_df.write.mode("append").parquet(ref)


@dataclass
class RunSummary:
    run_id: str
    partitions_total: int
    partitions_pending: int
    partitions_done: int
    docs_done: int
    spans_emitted: int
    parse_failures: int
    bytes_processed: int
    wall_seconds: float


def with_partition_id(corpus: DataFrame, num_partitions: int) -> DataFrame:
    return corpus.withColumn(
        "partition_id", F.pmod(F.xxhash64("doc_id"), F.lit(num_partitions)).cast("int")
    )


def completed_partitions(spark: SparkSession, checkpoint_path: str, run_id: str) -> set[int]:
    """Partition ids already completed for run_id, collected to the driver (the
    empty set, without a Spark job, if the checkpoint table does not exist yet).
    Only PATH/TABLE_NOT_FOUND means "fresh run"; any other read error (corrupt
    footer, permission) propagates — silently restarting the whole run on a
    corrupted checkpoint table would mask it."""
    from pyspark.errors import AnalysisException

    try:
        cp = _read_table(spark, checkpoint_path, CHECKPOINT_SCHEMA)
    except AnalysisException as e:
        s = str(e)
        if any(m in s for m in ("PATH_NOT_FOUND", "Path does not exist",
                                "TABLE_OR_VIEW_NOT_FOUND")):
            return set()
        raise
    rows = cp.filter((F.col("run_id") == run_id) & (F.col("status") == "completed"))
    return {r[0] for r in rows.select("partition_id").collect()}


def run_extraction(
    spark: SparkSession,
    *,
    run_id: str,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    salted_parallelism: int | None = None,
    process_only: list[int] | None = None,
) -> RunSummary:
    """One (possibly resumed) extraction run, planned from the checkpoint table
    alone. Pending partitions are the ids in ``range(num_partitions)`` with no
    completed row for ``run_id``, empty ones included (they complete with
    zero-count rows, and ``partitions_pending`` counts them). ``process_only``
    (a simulated crash, in tests and the benchmark) narrows them; its ids
    outside the range are ignored. With nothing pending the input is not read."""
    t0 = time.monotonic()
    _require_backend(spark, input_path, output_path, checkpoint_path)

    done = completed_partitions(spark, checkpoint_path, run_id)
    todo = [p for p in range(num_partitions) if p not in done]
    only = None if process_only is None else {int(p) for p in process_only}
    pending_parts = [p for p in todo if only is None or p in only]
    n_done_before = num_partitions - len(todo)
    if not pending_parts:
        return RunSummary(run_id, num_partitions, 0, n_done_before, 0, 0, 0, 0,
                          time.monotonic() - t0)

    pending = with_partition_id(_read_table(spark, input_path), num_partitions).filter(
        F.col("partition_id").isin(pending_parts)
    )
    extracted = extract_corpus(
        pending, salt_threshold=salt_threshold, salted_parallelism=salted_parallelism
    )
    extracted = with_partition_id(extracted, num_partitions)

    # idempotent per-partition commit: dynamic overwrite replaces exactly the
    # partitions present in this write (the pending ones)
    _write_output(extracted, output_path)

    # metrics from the WRITTEN data (column-pruned scan: 4 small columns)
    written = _read_table(spark, output_path, extracted.schema).filter(
        F.col("partition_id").isin(pending_parts)
    )
    metrics = {r[0]: r[1:] for r in extraction_sums(written, "partition_id")}
    # rows in CHECKPOINT_SCHEMA field order; a pending partition with zero input
    # docs still completes (zero counts) so resume will not retry it forever
    now = datetime.now()
    rows = [(run_id, p, "completed", *metrics.get(p, (0, 0, 0, 0)), input_path, now)
            for p in pending_parts]
    _append_checkpoint(spark.createDataFrame(rows, CHECKPOINT_SCHEMA), checkpoint_path)

    docs, spans, fails, nbytes = (sum(r[i] for r in rows) for i in (3, 4, 5, 6))
    return RunSummary(
        run_id=run_id,
        partitions_total=num_partitions,
        partitions_pending=len(pending_parts),
        partitions_done=n_done_before + len(pending_parts),
        docs_done=docs,
        spans_emitted=spans,
        parse_failures=fails,
        bytes_processed=nbytes,
        wall_seconds=time.monotonic() - t0,
    )
