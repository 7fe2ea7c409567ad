"""Incremental extraction via Structured Streaming.

The reference serves results incrementally: the client POSTs a job, then polls
``GET /status`` while pages complete batch-by-batch (``backend/app/main.py:276-314``,
polled by ``frontend/app/page.tsx:27-53``). The Spark-native equivalent is a file
stream over the corpus directory: every micro-batch runs the SAME batch plan
(``extract_corpus`` — shuffle-free normal path + salted mega docs) inside
``foreachBatch``, appends its output, and appends one progress row per epoch that
a poller reads — Structured Streaming's checkpoint gives exactly-once per input
file, replacing the reference's Redis read-modify-write progress protocol (which
has a lost-update window, SURVEY.md §3.2).

Batch and streaming share one plan: ``foreachBatch`` receives an ordinary
DataFrame, so extraction semantics (and the no-per-row-Python audit) are
identical to the batch job — no second implementation to drift.

Scale notes: the file source lists the input directory per trigger
(``maxFilesPerTrigger`` bounds batch size); at 10^12-doc scale the same code
points at a streaming table source (Iceberg/Kafka) instead — the foreachBatch
body is source-agnostic.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pipeline import DEFAULT_SALT_THRESHOLD, extract_corpus, extraction_sums
from .schema import CORPUS_SCHEMA

PROGRESS_SCHEMA = T.StructType(
    [
        T.StructField("epoch_id", T.LongType(), False),
        T.StructField("docs_done", T.LongType(), False),
        T.StructField("spans_emitted", T.LongType(), False),
        T.StructField("parse_failures", T.LongType(), False),
        T.StructField("bytes_processed", T.LongType(), False),
        T.StructField("completed_at", T.DoubleType(), False),  # unix seconds
    ]
)


def stream_extract(
    spark: SparkSession,
    *,
    input_path: str,
    output_path: str,
    progress_path: str,
    checkpoint_location: str,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Start (and by default drain) an incremental extraction stream.

    available_now=True processes everything currently in input_path and stops —
    the batch+poll session shape. available_now=False leaves a continuous
    micro-batch stream running (returns the StreamingQuery; caller manages it).
    """
    reader = spark.readStream.schema(CORPUS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    corpus = reader.parquet(input_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # exactly-once: foreachBatch is at-least-once (an epoch replays if the
        # driver dies between the sink commit and the streaming checkpoint), so
        # both sinks partition by epoch_id with DYNAMIC overwrite — a replayed
        # epoch atomically replaces its own partition instead of appending a
        # duplicate (same discipline as checkpoint.run_extraction)
        out = extract_corpus(batch_df, salt_threshold=salt_threshold).withColumn(
            "epoch_id", F.lit(int(epoch_id))
        )
        out.persist()
        try:
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch_id")
                .parquet(output_path)
            )
            row = [(int(epoch_id), *extraction_sums(out)[0], time.time())]
            (
                spark.createDataFrame(row, PROGRESS_SCHEMA)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch_id")
                .parquet(progress_path)
            )
        finally:
            out.unpersist()

    writer = (
        corpus.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


SESSION_GAP_US = 1_800_000_000  # 30 min, matching q_sessionize_events

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_sessions", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("n_late", T.LongType(), False),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType(), False),
        T.StructField("n_sessions", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("n_late", T.LongType(), False),
    ]
)


def sessionize_events_stream(events: DataFrame) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): 30-min-gap
    sessionization of an event stream, per user. State carries (last event
    micro-epoch, session count, event count, late count) across micro-batches;
    each batch's events are sorted by (ts, event_id) inside the group and folded
    into the state vectorized (numpy gap mask — only the batch-boundary gap
    needs the carried state). Emits the updated per-user totals every batch
    ("update" semantics — the streaming analogue of q_sessionize_events, whose
    batch result it must reproduce when events arrive in event-time order).

    Out-of-order arrival across batches (r2 VERDICT #7): an event with
    event-time older than the carried `last_us` cannot be folded into the gap
    math without rewriting closed sessions — it is EXCLUDED from sessionization
    and counted explicitly in `n_late` (detect-and-count; the alternative,
    buffering a watermark horizon in state, trades state size for replay).
    Within a batch, sorting makes order irrelevant."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd  # closure ships by value; worker needs its own import

        last_us, n_sess, n_ev, n_late = state.get if state.exists else (None, 0, 0, 0)
        parts = [p[["ts", "event_id"]] for p in pdfs if len(p)]
        if parts:
            batch = pd.concat(parts).sort_values(["ts", "event_id"], kind="stable")
            us = (batch["ts"].astype("int64")).to_numpy()  # ns → see below
            # pandas datetime64[ns/us] → micro-epochs
            unit = batch["ts"].dtype
            us = us // 1000 if str(unit).endswith("[ns]") else us
            if last_us is not None:
                late = us < last_us  # older than the last folded event: late
                n_late += int(late.sum())
                us = us[~late]
            if len(us):
                prev = np.empty_like(us)
                prev[1:] = us[:-1]
                prev[0] = last_us if last_us is not None else us[0]
                new_sess = (us - prev) > SESSION_GAP_US
                if last_us is None:
                    new_sess[0] = True  # a user's very first event opens a session
                n_sess += int(new_sess.sum())
                n_ev += len(us)
                last_us = int(us[-1])
            if last_us is not None:
                state.update((last_us, n_sess, n_ev, n_late))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_sessions": [n_sess], "n_events": [n_ev],
             "n_late": [n_late]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.LongType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("keeper_doc_id", T.LongType(), False),
    ]
)

DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("keeper_doc_id", T.LongType(), False),
    ]
)


def dedup_exact_stream(docs: DataFrame) -> DataFrame:
    """STREAMING exact dedup — the incremental analogue of q_dedup_exact:
    per content hash, carry (n_docs, keeper_doc_id) across micro-batches and
    emit the updated row every batch ("update" semantics; the latest row per
    hash is the current dedup verdict). The fold is a commutative monoid
    (count-sum, min-keeper), so after draining any split of the corpus the
    final state equals the batch groupBy exactly — arrival order and batch
    boundaries cannot change the answer, the property that makes the operator
    safe to run over an unbounded crawl feed.

    The content hash (the same 56-bit md5-derived key as the batch query) is
    computed in Catalyst BEFORE the stateful op, so the shuffle key exists
    JVM-side and the Python state fold touches only (hash, doc_id) pairs —
    never document text. At 10^12-doc scale the state store holds one
    16-byte row per DISTINCT document, partitioned by hash."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .queries import _h56  # the batch query's exact hash — shared, not copied

    keyed = docs.select(
        _h56(F.trim(F.lower(F.col("text")))).alias("content_hash"), "doc_id"
    )

    def fold(key, pdfs, state: GroupState):
        import pandas as pd  # closure ships by value; worker needs its own import

        n, keeper = state.get if state.exists else (0, None)
        for p in pdfs:
            if not len(p):
                continue
            n += len(p)
            m = int(p["doc_id"].min())
            keeper = m if keeper is None else min(keeper, m)
        if keeper is not None:
            state.update((n, keeper))
            yield pd.DataFrame(
                {"content_hash": [key[0]], "n_docs": [n], "keeper_doc_id": [keeper]}
            )

    return keyed.groupBy("content_hash").applyInPandasWithState(
        fold,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(events: DataFrame, *, window: str = "30 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """Event-time windowed aggregation with a watermark for late data: the
    standard streaming shape (readStream → withWatermark → window groupBy).
    Returns the streaming DataFrame; callers pick the sink/output mode.
    Watermarks require TIMESTAMP (not NTZ), so ts is cast — window boundaries
    follow the session timezone, consistently on every run."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )


def poll_status(spark: SparkSession, progress_path: str) -> dict:
    """The reference's GET /status analogue: aggregate progress rows into one
    summary dict (epochs completed, totals). Empty table → zeroed summary."""
    from pyspark.errors import AnalysisException

    try:
        p = spark.read.parquet(progress_path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return {"epochs": 0, "docs_done": 0, "spans_emitted": 0,
                    "parse_failures": 0, "bytes_processed": 0}
        raise
    r = p.agg(
        F.countDistinct("epoch_id").alias("epochs"),
        F.coalesce(F.sum("docs_done"), F.lit(0)).alias("docs"),
        F.coalesce(F.sum("spans_emitted"), F.lit(0)).alias("spans"),
        F.coalesce(F.sum("parse_failures"), F.lit(0)).alias("fails"),
        F.coalesce(F.sum("bytes_processed"), F.lit(0)).alias("bytes"),
    ).collect()[0]
    return {
        "epochs": int(r["epochs"]),
        "docs_done": int(r["docs"]),
        "spans_emitted": int(r["spans"]),
        "parse_failures": int(r["fails"]),
        "bytes_processed": int(r["bytes"]),
    }
