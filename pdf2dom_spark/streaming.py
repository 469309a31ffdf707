"""Structured Streaming surface.

The reference is strictly batch (one document per JVM invocation,
PDFToHTML.java:73-77), and the north rule's checkpoint-resume is batch too —
but a 100 TB ingest pipeline usually *arrives* as a stream. This module runs
the identical extraction kernel over ``readStream`` so the same code serves
both modes:

  - ``extract_spans_stream`` — file-source stream of DOC_SCHEMA parquet ->
    the same ``mapInArrow`` extraction (stateless, so it composes with any
    trigger) -> parquet sink with checkpointLocation. ``availableNow`` gives
    exactly-once batch-backfill semantics; the same query with a continuous
    trigger is the live-ingest path.
  - ``windowed_event_counts`` — watermarked tumbling-window aggregation over
    the ``events`` table shape (late data dropped after the watermark), the
    canonical streaming-agg smoke.

Scale notes: the streaming extraction keeps the salting property by
``repartition(P, xxhash64(doc_id))`` inside each micro-batch; state
stores are only needed for the windowed agg (RocksDB state store in
production)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract import DEFAULT_CONFIG, ExtractConfig, make_extract_arrow
from .schema import DOC_SCHEMA, SPAN_FLAT_SCHEMA


def extract_spans_stream(spark: SparkSession, docs_dir: str,
                         out_dir: str, checkpoint_dir: str,
                         cfg: ExtractConfig = DEFAULT_CONFIG,
                         num_partitions: int = 8):
    """Start an availableNow streaming extraction; returns the query."""
    stream = (spark.readStream.schema(DOC_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(docs_dir))
    # deterministic part_id column (lineage invariant — without it the
    # kernel falls back to the unstable TaskContext partition index), then
    # the raw-hash shuffle (not pmod into num_partitions values — that
    # leaves ~1/e of tasks empty); mirrors pipeline.extract_spans
    from .pipeline import with_part_id
    salted = with_part_id(stream, num_partitions).repartition(
        num_partitions, F.xxhash64("doc_id"))
    spans = salted.mapInArrow(make_extract_arrow(cfg), SPAN_FLAT_SCHEMA)
    return (spans.writeStream
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def session_window_counts(spark: SparkSession, events_dir: str,
                          out_dir: str, checkpoint_dir: str,
                          gap: str = "30 minutes"):
    """Native ``session_window`` aggregation (the built-in counterpart of the
    batch gaps-and-islands ``sessionize_events`` query; SURVEY.md §2.h notes
    the T1 chunk merge is semantically a session window over x-distance)."""
    ev_schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(ev_schema).parquet(events_dir)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    agg = (stream
           .withWatermark("ts", "1 hour")
           .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
           .agg(F.count(F.lit(1)).alias("n_events"))
           .select(F.col("win.start").alias("win_start"),
                   F.col("win.end").alias("win_end"), "user_id", "n_events"))
    return (agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def running_user_totals(spark: SparkSession, events_dir: str,
                        out_dir: str, checkpoint_dir: str):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running event count + value total carried across micro-batches
    (GroupState, processing-time timeout disabled). This is the extension
    point for stateful ops Spark lacks natively — the state schema and
    update function are user-defined, Arrow-batched."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T
    import pandas as pd

    ev_schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(ev_schema).parquet(events_dir)

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_milli", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("tot", T.LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        n, tot = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            import numpy as np
            # floor(x + 0.5), NOT int-truncation: truncation toward zero
            # mis-rounds negative values by one milli
            tot += int(np.floor(pdf["value"] * 1000 + 0.5).astype("int64").sum())
        state.update((n, tot))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_milli": [tot]})

    result = (stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout))
    return (result.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def windowed_event_counts(spark: SparkSession, events_dir: str,
                          out_dir: str, checkpoint_dir: str):
    """Watermarked 10-minute tumbling-window counts per event_type."""
    ev_schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(ev_schema).parquet(events_dir)
              # event-time watermarks need TIMESTAMP (parquet stores NTZ)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    agg = (stream
           .withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 3).alias("total_value"))
           .select(F.col("win.start").alias("win_start"),
                   F.col("win.end").alias("win_end"), "event_type", "n",
                   "total_value"))
    return (agg.writeStream
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def _lineage_batch_writer(spark: SparkSession, out_dir: str,
                          cfg: ExtractConfig = DEFAULT_CONFIG,
                          num_partitions: int = 8):
    """The foreachBatch body of ``extract_spans_stream_lineage``, exposed so
    tests can replay a batch_id directly. Contract per micro-batch:

    1. If lineage rows for this ``batch_id`` exist, the batch was fully
       committed by an earlier attempt — skip (foreachBatch is
       at-least-once; this makes the sink effectively-once).
    2. Extract with the same salted shape as ``pipeline.extract_spans``.
    3. Dynamic-overwrite ``(batch_id, part_id)`` partitions: each batch owns
       its own partition space, so a replayed attempt replaces exactly its
       own files and can never clobber other batches.
    4. Append per-partition lineage (doc/span counts + bit_xor checksum)
       tagged with the batch_id — the same table the batch job's
       checkpoint-resume reads.

    Crash windows: after (3) before (4) -> replay overwrites the same
    partitions and appends lineage once; after (4) before the stream
    checkpoint commit -> replay sees lineage and skips. Either way the
    final table is identical."""
    from . import tables
    from .pipeline import lineage, with_part_id

    spans_dir = f"{out_dir}/spans"
    lineage_dir = f"{out_dir}/lineage"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        # ONLY "table does not exist yet" means not-committed; any read
        # failure of an existing table must surface — treating a transient
        # error as "batch not committed" would re-append lineage rows and
        # double-count span totals (ADVICE r3).
        lin_tbl = (spark.read.parquet(lineage_dir)
                   if tables.table_exists(spark, lineage_dir) else None)
        done = 0
        if lin_tbl is not None:
            if "batch_id" not in lin_tbl.columns:
                raise ValueError(
                    f"{lineage_dir} has no batch_id column — this output "
                    "was created by a batch run; streaming into it would "
                    "mix incompatible lineage schemas (use a fresh output "
                    "dir)")
            done = (lin_tbl.where(F.col("batch_id") == bid)
                    .limit(1).count())
        if done:
            return
        salted = with_part_id(batch_df, num_partitions).repartition(
            num_partitions, F.xxhash64("doc_id"))
        spans = (salted.mapInArrow(make_extract_arrow(cfg),
                                   SPAN_FLAT_SCHEMA)
                 .withColumn("batch_id", F.lit(bid)))
        tables.write_partitioned(spans, spans_dir, ["batch_id", "part_id"],
                                 spark)
        # lineage from the read-back pruned to THIS batch's partitions
        # (static partition prune — never a scan of the cumulative table)
        written = (spark.read.parquet(spans_dir)
                   .where(F.col("batch_id") == bid))
        lin = (lineage(written.drop("batch_id"))
               .withColumn("batch_id", F.lit(bid))
               .withColumn("completed_at", F.current_timestamp()))
        tables.append_table(lin, lineage_dir, spark)

    return write_batch


def extract_spans_stream_lineage(spark: SparkSession, docs_dir: str,
                                 out_dir: str, checkpoint_dir: str,
                                 cfg: ExtractConfig = DEFAULT_CONFIG,
                                 num_partitions: int = 8):
    """Streaming extraction through the SAME idempotent partitioned-write +
    lineage contract as the batch ``pipeline.run_checkpointed`` — the
    live-ingest twin of the north rule's checkpoint-resume: a foreachBatch
    sink whose batches land as (batch_id, part_id) partitions with lineage
    rows, replay-safe under foreachBatch's at-least-once semantics."""
    stream = (spark.readStream.schema(DOC_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(docs_dir))
    writer = _lineage_batch_writer(spark, out_dir, cfg, num_partitions)
    return (stream.writeStream
            .foreachBatch(writer)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def extract_pdf_stream_lineage(spark: SparkSession, pdf_dir: str,
                               out_dir: str, checkpoint_dir: str,
                               cfg: ExtractConfig = DEFAULT_CONFIG,
                               num_partitions: int = 8,
                               password: bytes = b"",
                               image_pixels: bool = False):
    """Live ingest of REAL .pdf files: a streaming ``binaryFile`` source
    watches the directory (new files are discovered incrementally and
    tracked in the checkpoint, so a restart never re-parses processed
    files), each micro-batch parses its files with the batch ingest's
    parser (``pdfread.pdf_batch_parser``, the same narrow mapInPandas as
    ``pdf_docs_df``), and extraction lands through the identical
    replay-safe foreachBatch lineage sink. The drop-a-directory-of-
    crawled-PDFs deployment shape — no parquet staging step."""
    from pyspark.sql.types import (BinaryType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    from .pdfread import pdf_batch_parser

    bin_schema = StructType([
        StructField("path", StringType()),
        StructField("modificationTime", TimestampType()),
        StructField("length", LongType()),
        StructField("content", BinaryType()),
    ])
    stream = (spark.readStream.format("binaryFile").schema(bin_schema)
              .option("pathGlobFilter", "*.pdf")
              .option("maxFilesPerTrigger", 64)
              .load(pdf_dir)
              .select("path", "content")
              .mapInPandas(pdf_batch_parser(password, image_pixels),
                           DOC_SCHEMA))
    writer = _lineage_batch_writer(spark, out_dir, cfg, num_partitions)
    return (stream.writeStream
            .foreachBatch(writer)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def stream_dedup_events(spark: SparkSession, events_dir: str,
                        out_dir: str, checkpoint_dir: str,
                        watermark: str = "10 minutes"):
    """Watermarked streaming ingest dedup: drop re-delivered events by id
    (at-least-once sources -> exactly-once sink), holding state only within
    the event-time watermark — the canonical ingest-dedup shape for a
    training-data pipeline (a plain dropDuplicates on an unbounded stream
    pins state forever; the watermark bounds it). Exact-dedup twin of the
    batch ``dedup_exact`` operator on the events shape."""
    schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4)
              .parquet(events_dir))
    # parquet TIMESTAMP_NTZ -> session-tz timestamp (watermarks require it)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    deduped = (stream.withWatermark("ts", watermark)
               .dropDuplicatesWithinWatermark(["event_id"]))
    return (deduped.writeStream
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def _lsh_batch_writer(spark: SparkSession, out_dir: str):
    """foreachBatch body of ``stream_ingest_dedup_lsh``, exposed so tests
    can replay a batch_id directly (mirrors ``_lineage_batch_writer``)."""
    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    from . import tables
    from .textops import _mh_signatures, dedup_minhash_lsh_incremental

    sigs_dir = f"{out_dir}/sigs"
    pairs_dir = f"{out_dir}/pairs"
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def write_batch(batch_df, batch_id: int) -> None:
        bid = int(batch_id)
        new = batch_df.select(
            F.col("doc_id").cast("long").alias("doc_id"), "text")
        try:
            existing = (spark.read.parquet(sigs_dir)
                        .where(F.col("batch_id") < bid).drop("batch_id"))
        except Exception:  # no signature store yet (first batch)
            existing = None
        if existing is None:
            new_sig = _mh_signatures(new, p).localCheckpoint(eager=True)
            bands_pairs = dedup_minhash_lsh_incremental(
                spark, new, new_sig.limit(0))
        else:
            bands_pairs = dedup_minhash_lsh_incremental(spark, new, existing)
            new_sig = _mh_signatures(new, p)
        tables.write_partitioned(
            bands_pairs.withColumn("batch_id", F.lit(bid)), pairs_dir,
            "batch_id", spark)
        tables.write_partitioned(
            new_sig.withColumn("batch_id", F.lit(bid)), sigs_dir,
            "batch_id", spark)

    return write_batch


def stream_ingest_dedup_lsh(spark: SparkSession, docs_dir: str,
                            out_dir: str, checkpoint_dir: str):
    """Streaming ingest with per-batch near-dup detection: each micro-batch
    is MinHash-signed, band-joined against the cumulative signature store
    (textops.dedup_minhash_lsh_incremental), the discovered pairs are
    appended to ``{out}/pairs``, and the batch's signatures are appended to
    ``{out}/sigs`` — so the store grows by O(batch) per trigger and no
    batch ever re-scans the corpus. After the stream drains, ``pairs``
    holds exactly the full batch query's pair set for the union of all
    batches (each pair is discovered by whichever of its two docs arrives
    later; tested in tests/test_streaming.py).

    Replay safety (foreachBatch is at-least-once): both outputs land as
    ``batch_id=<bid>`` partitions via dynamic partition overwrite, so a
    replayed batch REPLACES its own rows instead of appending duplicates,
    and the candidate join reads only ``batch_id < bid`` signatures — a
    half-written replay of this very batch can never pair against its own
    earlier attempt's signatures."""
    doc_schema = spark.read.parquet(docs_dir).schema
    write_batch = _lsh_batch_writer(spark, out_dir)
    stream = (spark.readStream.schema(doc_schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(docs_dir))
    return (stream.writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def stream_stream_click_purchase_join(spark: SparkSession, events_dir: str,
                                      out_dir: str, checkpoint_dir: str):
    """Watermarked stream-stream interval join — the remaining Structured
    Streaming join category: click events join purchase events by the same
    user within the preceding hour. Both sides carry event-time watermarks
    and the join predicate time-bounds the buffered state, so Spark can
    discard rows past the watermark instead of buffering both streams
    forever (the unbounded-state failure mode of an unconstrained
    stream-stream join). availableNow drains the backlog with the same
    semantics as the batch twin (tested row-equal)."""
    ev_schema = spark.read.parquet(events_dir).schema
    base = (spark.readStream.schema(ev_schema).parquet(events_dir)
            .withColumn("ts", F.col("ts").cast("timestamp")))
    clicks = (base.where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("c_ts"))
              .withWatermark("c_ts", "1 hour"))
    purchases = (base.where(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("p_ts"),
                         F.floor(F.col("value") * 1000 + 0.5).cast("long")
                         .alias("p_milli"))
                 .withWatermark("p_ts", "1 hour"))
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_ts") <= F.col("c_ts")))
    out = joined.select("click_id", "purchase_id", "c_user",
                        F.unix_timestamp("c_ts").alias("c_epoch"),
                        F.unix_timestamp("p_ts").alias("p_epoch"),
                        "p_milli")
    return (out.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())
