"""Structured Streaming extraction — the StreamParser analogue.

The reference's StreamParser emits elements incrementally within one
document (parser/StreamParser.kt:16-140); at corpus scale the equivalent is
a stream OF documents: readStream -> the same Arrow extraction kernel ->
writeStream, with exactly-once progress via checkpointLocation. Within-doc
incrementality is unnecessary (documents are bounded rows); skew is defused
by the same salted repartition as the batch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.html import _doc_udf
from ..operators.extract import (
    SPANS_SCHEMA,
    SPANS_TYPE,
    assemble_html,
    extract_spans_df,
    extract_spans_from_html,
)

# input documents carry the same span struct as the extracted output
DOCS_SCHEMA = SPANS_SCHEMA


def read_docs_stream(spark: SparkSession, path: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(DOCS_SCHEMA).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def extract_spans_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming DF of (doc_id, spans-in) -> (doc_id, spans-out).

    mapInArrow is stateless, so it composes with streaming unchanged.
    """
    return extract_spans_df(docs_stream)


def start_extraction_stream(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
):
    """writeStream with checkpointed progress; availableNow drains the
    backlog then stops (batch-equivalent semantics for tests/backfills)."""
    spans = extract_spans_stream(docs_stream)
    writer = (
        spans.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def extract_spans_col():
    """Column-level extraction UDF (spans-in -> spans-out), for plans that
    must keep sibling columns (e.g. event time in streaming) without a join.
    The harness's document is the assembled HTML of the input spans."""
    return _doc_udf(SPANS_TYPE, extract_spans_from_html, assemble_html)


def span_metrics_stream(docs_stream: DataFrame,
                        event_time_col: str = "event_time",
                        window_duration: str = "1 minute",
                        watermark: str = "2 minutes") -> DataFrame:
    """Windowed extraction metrics with late-data handling.

    Shape: column-level extraction (keeps the event-time column, no
    stream-stream join) -> watermark -> tumbling-window aggregate of
    doc/span/media counts. Late documents beyond the watermark are dropped
    (bounded state); 'append' mode emits a window once finalized.
    """
    from pyspark.sql import functions as F

    extracted = docs_stream.select(
        event_time_col,
        "doc_id",
        extract_spans_col()("spans").alias("spans"),
    )
    return (
        extracted.withWatermark(event_time_col, watermark)
        .groupBy(F.window(F.col(event_time_col), window_duration))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("spans")).alias("n_spans"),
            F.sum(
                F.size(F.filter("spans", lambda s: s["kind"] != "text"))
            ).alias("n_media_spans"),
        )
    )


# -- stateful streaming dedup (applyInPandasWithState) -----------------------

FIRST_SEEN_OUT = "content_hash string, doc_id string"
_FIRST_SEEN_STATE = "seen boolean"


def _first_seen_fn(key, pdfs, state):
    """Emit only the first document ever seen for this content hash.

    State is one boolean per key; once set, every later occurrence (same
    micro-batch or any future one) is suppressed — bounded state, the
    streaming analogue of exact_dedup's first-wins semantics.
    """
    import pandas as pd  # executor-side import

    if state.exists:
        for _ in pdfs:  # drain (required by the contract)
            pass
        return
    first_doc = None
    for pdf in pdfs:
        if len(pdf):
            cand = pdf["doc_id"].min()
            if first_doc is None or cand < first_doc:
                first_doc = cand
    state.update((True,))
    if first_doc is not None:
        yield pd.DataFrame({"content_hash": [key[0]], "doc_id": [first_doc]})


def streaming_first_seen(docs_stream: DataFrame,
                         text_col: str = "text") -> DataFrame:
    """Stateful streaming exact-dedup over a document stream.

    groupBy(md5(text)).applyInPandasWithState keeps a per-hash seen flag
    across micro-batches, so a duplicate arriving hours later is still
    suppressed. At 10^12-doc scale the state store shards by hash with the
    shuffle; state size = one row per DISTINCT document.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    hashed = docs_stream.select(
        F.md5(F.col(text_col).cast("binary")).alias("content_hash"),
        F.col("doc_id").cast("string").alias("doc_id"),
    )
    return hashed.groupBy("content_hash").applyInPandasWithState(
        _first_seen_fn,
        outputStructType=FIRST_SEEN_OUT,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
