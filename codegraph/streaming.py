"""Structured-Streaming ingestion: continuous incremental indexing.

The reference has NO event-time streaming (SURVEY §2.8) — its "streaming" is
a bounded producer/consumer with count-based flushes. This module is the
Spark-native upgrade of that shape: new source files land as parquet in a
drop directory; a file-source stream picks them up and ``foreachBatch`` runs
the SAME extraction + linking pipeline per micro-batch, appending node/edge
deltas. Checkpointing gives exactly-once per batch — the streaming analog of
the reference's "resumable at the last completed triple batch" (Q3).

Per-batch semantics mirror the incremental run (SURVEY §3.3): each batch is
a self-contained flush universe; a compaction pass (``merge_reindex``)
reconciles re-indexed files exactly like DeletePriorSymbols.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codegraph.schema import SOURCE_SCHEMA


def start_ingest(spark: SparkSession, drop_dir: str, out_dir: str,
                 checkpoint_dir: str, min_accessibility: str = "Private",
                 trigger_available_now: bool = True):
    """Start the incremental indexing stream. Returns the StreamingQuery.

    Each micro-batch runs extraction + entity linking on the new files only
    and appends (batch_id-stamped) symbol/edge deltas; downstream compaction
    applies MERGE semantics.
    """
    from codegraph import canon
    from codegraph.extract import extract_records
    from codegraph.schema import ACC_ORDER

    min_acc = ACC_ORDER[min_accessibility]

    stream = (spark.readStream.schema(SOURCE_SCHEMA)
              .option("maxFilesPerTrigger", 64)
              .parquet(drop_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from codegraph import pipeline as P

        files = P.discover(batch_df)
        records = extract_records(files, min_acc, {}, {}).persist()
        symbols = canon.dedup_symbols(records.filter(F.col("rec") == "symbol"))
        linked = P.link(records, symbols, None)
        (symbols.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(os.path.join(out_dir, "symbols_delta")))
        (linked.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(os.path.join(out_dir, "edges_delta")))
        records.unpersist()

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_dedup(spark: SparkSession, drop_dir: str, out_dir: str,
                          checkpoint_dir: str,
                          trigger_available_now: bool = True):
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    streaming exact-dedup over a document stream.

    Documents land as parquet (doc_id, text) in ``drop_dir``; the stream
    groups by content sha and keeps per-sha state = occurrences seen so far.
    A sha is EMITTED exactly once — on first sight — so the sink accumulates
    the deduplicated corpus incrementally; duplicates arriving in later
    micro-batches (or after a restart: state lives in the checkpoint) only
    bump the state counter. This is the streaming analog of
    ``textops.exact_dedup`` and the shape of a 100 TB ingest front-door:
    state is hash-partitioned by sha, so it shards across executors and
    never concentrates.

    Cross-batch canonical-id semantics (divergence from the batch twin): the
    canonical id is min(doc_id) WITHIN the first micro-batch that sees a
    sha; a later batch carrying a smaller doc_id for the same sha does NOT
    retract the emitted row (append-mode streams cannot retract), while the
    batch twin over the union of all batches would pick the global min.
    Pinned by ``test_streaming_dedup_first_batch_wins``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    doc_schema = "doc_id long, text string"
    stream = (spark.readStream.schema(doc_schema)
              .option("maxFilesPerTrigger", 4)
              .parquet(drop_dir))
    hashed = stream.select(F.sha2("text", 256).alias("text_sha"), "doc_id")

    def dedup_fn(key, pdfs, state):
        # canonical id = min(doc_id) across the micro-batch's rows for a
        # first-seen sha: matches the batch twin (textops.exact_dedup) and is
        # independent of pandas iteration / partition order within the batch
        seen = state.get[0] if state.exists else 0
        emit_first = seen == 0
        min_id = None
        for pdf in pdfs:
            if len(pdf):
                batch_min = int(pdf["doc_id"].min())
                min_id = batch_min if min_id is None else min(min_id, batch_min)
                seen += len(pdf)
        state.update((seen,))
        if emit_first and min_id is not None:
            yield pd.DataFrame({"text_sha": [key[0]], "doc_id": [min_id]})

    out = hashed.groupBy("text_sha").applyInPandasWithState(
        dedup_fn,
        outputStructType="text_sha string, doc_id long",
        stateStructType="seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout)

    writer = (out.writeStream.format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact(spark: SparkSession, out_dir: str):
    """MERGE-compact the delta stream into current tables: last-write-wins
    per (repo, key) by the highest batch_id (UpsertSymbols semantics over
    time), distinct edges."""
    from codegraph.canon import dedup_by_key

    symbols = spark.read.parquet(os.path.join(out_dir, "symbols_delta"))
    edges = spark.read.parquet(os.path.join(out_dir, "edges_delta"))
    current_symbols = dedup_by_key(symbols, ["repo", "key"],
                                   ["batch_id", "path", "start_line"])
    current_edges = edges.select("repo", "src_key", "rel_type", "dst_key").distinct()
    return current_symbols, current_edges
