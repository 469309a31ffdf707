"""Structured Streaming: the same extraction kernel over readStream must
produce exactly the batch result; watermarked windowed agg smoke."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf2dom_spark.corpus import build_docs_df
from pdf2dom_spark.pipeline import extract_spans
from pdf2dom_spark.streaming import extract_spans_stream, windowed_event_counts
from tests.conftest import SF_SMOKE


def test_stream_extraction_matches_batch(spark, tmp_path):
    docs = build_docs_df(spark, SF_SMOKE, mode="rich").limit(120).cache()
    docs_dir = str(tmp_path / "docs")
    docs.write.parquet(docs_dir)

    q = extract_spans_stream(spark, docs_dir, str(tmp_path / "out"),
                             str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    streamed = spark.read.parquet(str(tmp_path / "out"))
    batch = extract_spans(docs, num_partitions=8, nested=False)
    cols = [c for c in batch.columns if c != "part_id"]
    assert streamed.count() == batch.count()
    assert streamed.select(cols).exceptAll(batch.select(cols)).count() == 0


def test_stateful_running_totals(spark, tmp_path):
    from pdf2dom_spark.streaming import running_user_totals
    ev_dir = str(tmp_path / "events_s")
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ev.write.parquet(ev_dir)
    q = running_user_totals(spark, ev_dir, str(tmp_path / "totals"),
                            str(tmp_path / "ckpt3"))
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "totals"))
    # the last emission per user carries the full running state
    final = out.groupBy("user_id").agg(F.max("n_events").alias("n"))
    truth = ev.groupBy("user_id").count().withColumnRenamed("count", "n")
    assert final.join(truth, "user_id").where(
        final["n"] != truth["n"]).count() == 0
    assert final.count() == truth.count()


def test_session_window_counts(spark, tmp_path):
    """Native session_window result must agree with the batch
    gaps-and-islands sessionization (same 30-min gap)."""
    from pdf2dom_spark.queries import all_queries
    from pdf2dom_spark.streaming import session_window_counts
    ev_dir = str(tmp_path / "events_w")
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").write.parquet(ev_dir)
    q = session_window_counts(spark, ev_dir, str(tmp_path / "sess"),
                              str(tmp_path / "ckpt4"))
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "sess"))
    # batch ground truth with native session_window semantics: a new session
    # starts when the exact (sub-second) gap is >= 30 min (window end is
    # exclusive) — unlike the SQL-oracle query which floors to seconds
    from pyspark.sql.window import Window
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tsd = F.col("ts").cast("double")
    g = ev.withColumn(
        "new_s", F.when(F.lag("ts").over(w).isNull()
                        | ((tsd - F.lag(tsd).over(w)) >= 1800), 1).otherwise(0))
    cur = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = (g.withColumn("sid", F.sum("new_s").over(cur))
                .groupBy("user_id", "sid")
                .agg(F.count(F.lit(1)).alias("count"),
                     F.max(tsd).alias("last_ts")))
    # append mode emits only watermark-closed windows: win_end (= last event
    # + gap) must be <= max(ts) - 1h
    max_ts = ev.agg(F.max(tsd)).first()[0]
    batch = sessions.where(F.col("last_ts") + 1800 <= max_ts - 3600)
    a = out.groupBy("user_id").agg(
        F.sum("n_events").alias("tot"), F.count(F.lit(1)).alias("ns"))
    b = batch.groupBy("user_id").agg(
        F.sum("count").alias("tot"), F.count(F.lit(1)).alias("ns"))
    joined = a.join(b, "user_id", "inner")
    assert joined.where(a["tot"] != b["tot"]).count() == 0
    assert joined.where(a["ns"] != b["ns"]).count() == 0


def test_windowed_event_counts(spark, tmp_path):
    # the file stream source needs a directory, not a single parquet file
    ev_dir = str(tmp_path / "events")
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").write.parquet(ev_dir)
    q = windowed_event_counts(spark, ev_dir,
                              str(tmp_path / "agg"), str(tmp_path / "ckpt2"))
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "agg"))
    # availableNow + append emits only watermark-closed windows; compare
    # emitted windows against the batch ground truth
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    truth = (ev.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
             .agg(F.count(F.lit(1)).alias("n"))
             .select(F.col("win.start").alias("win_start"), "event_type", "n"))
    joined = out.join(truth, ["win_start", "event_type"], "inner")
    assert joined.where(out["n"] != truth["n"]).count() == 0
    assert out.count() > 0


def test_stream_dedup_events_matches_batch(spark, tmp_path):
    """At-least-once delivery simulated by writing the events table twice;
    the watermarked stream dedup must converge to the batch
    dropDuplicates twin (row-exact)."""
    from pdf2dom_spark.streaming import stream_dedup_events

    src = str(tmp_path / "src")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.mode("append").parquet(src)
    ev.write.mode("append").parquet(src)          # duplicate delivery
    assert spark.read.parquet(src).count() == 2 * ev.count()

    q = stream_dedup_events(spark, src, str(tmp_path / "out"),
                            str(tmp_path / "ck"))
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "out"))
    twin = (spark.read.parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .dropDuplicates(["event_id"]))
    assert got.count() == twin.count() == ev.count()
    cols = sorted(got.columns)
    assert got.select(cols).exceptAll(twin.select(cols)).count() == 0


def test_stream_lineage_sink_matches_batch_and_replays(spark, tmp_path):
    """foreachBatch lineage sink: final table equals the batch extraction,
    lineage accounts for every span, and a replayed batch_id is a no-op
    (effectively-once under foreachBatch's at-least-once contract)."""
    from pdf2dom_spark.streaming import (_lineage_batch_writer,
                                         extract_spans_stream_lineage)

    docs = build_docs_df(spark, SF_SMOKE, mode="rich").limit(120).cache()
    docs_dir = str(tmp_path / "docs")
    docs.write.parquet(docs_dir)
    out = str(tmp_path / "out")

    q = extract_spans_stream_lineage(spark, docs_dir, out,
                                     str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    streamed = spark.read.parquet(f"{out}/spans")
    batch = extract_spans(docs, num_partitions=8, nested=False)
    cols = [c for c in batch.columns if c != "part_id"]
    assert streamed.count() == batch.count()
    assert streamed.select(cols).exceptAll(batch.select(cols)).count() == 0

    lin = spark.read.parquet(f"{out}/lineage")
    total = lin.agg(F.sum("span_count")).collect()[0][0]
    assert total == batch.count()
    n_before = streamed.count()
    batches = sorted(r.batch_id for r in
                     lin.select("batch_id").distinct().collect())

    # replaying an already-committed batch_id must change nothing
    writer = _lineage_batch_writer(spark, out, num_partitions=8)
    writer(docs.limit(10), batches[0])
    assert spark.read.parquet(f"{out}/spans").count() == n_before
    assert (spark.read.parquet(f"{out}/lineage")
            .where(F.col("batch_id") == batches[0]).count()
            == lin.where(F.col("batch_id") == batches[0]).count())

    # a NEW batch_id appends its own partitions + lineage
    writer(docs.limit(10), 9999)
    extra = extract_spans(docs.limit(10), num_partitions=8,
                          nested=False).count()
    assert spark.read.parquet(f"{out}/spans").count() == n_before + extra
    assert (spark.read.parquet(f"{out}/lineage")
            .where(F.col("batch_id") == 9999).count() > 0)


def test_stream_ingest_dedup_lsh_matches_batch(spark, tmp_path):
    """Per-batch incremental LSH over a multi-batch stream discovers
    exactly the full batch query's pair set (each pair surfaces when its
    later doc arrives), and the signature store ends covering the corpus."""
    from pdf2dom_spark.streaming import stream_ingest_dedup_lsh
    from pdf2dom_spark.textops import dedup_minhash_lsh

    src = str(tmp_path / "docs_src")
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    # three files -> three micro-batches (maxFilesPerTrigger=1)
    d.where(F.col("doc_id") % 3 == 0).write.mode("append").parquet(src)
    d.where(F.col("doc_id") % 3 == 1).write.mode("append").parquet(src)
    d.where(F.col("doc_id") % 3 == 2).write.mode("append").parquet(src)

    out = str(tmp_path / "dd")
    q = stream_ingest_dedup_lsh(spark, src, out, str(tmp_path / "ck"))
    q.awaitTermination(180)

    got = {(r.doc_a, r.doc_b, r.n_match) for r in
           spark.read.parquet(f"{out}/pairs").collect()}
    want = {(r.doc_a, r.doc_b, r.n_match) for r in
            dedup_minhash_lsh(spark, SF_SMOKE).collect()}
    assert want  # non-vacuous
    assert got == want
    assert (spark.read.parquet(f"{out}/sigs").count() == d.count())


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join == the batch join with the
    same predicate (availableNow drains everything; watermark only bounds
    state, it must not drop in-bound matches)."""
    from pdf2dom_spark.streaming import stream_stream_click_purchase_join

    ev_dir = str(tmp_path / "ev")
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ev.write.parquet(ev_dir)

    out = str(tmp_path / "ssj")
    q = stream_stream_click_purchase_join(spark, ev_dir, out,
                                          str(tmp_path / "ck"))
    q.awaitTermination(180)

    streamed = spark.read.parquet(out)
    e = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts"))
    purch = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts"),
        F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("p_milli"))
    batch = (clicks.join(
        purch, (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_ts") <= F.col("c_ts")))
        .select("click_id", "purchase_id", "c_user",
                F.unix_timestamp("c_ts").alias("c_epoch"),
                F.unix_timestamp("p_ts").alias("p_epoch"), "p_milli"))
    assert batch.count() > 0  # non-vacuous
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_lineage_sink_restart_is_noop(spark, tmp_path):
    """Restarting the drained stream with the same checkpoint must add no
    batches, no spans, and no lineage rows (checkpoint + lineage compose)."""
    from pdf2dom_spark.streaming import extract_spans_stream_lineage

    docs = build_docs_df(spark, SF_SMOKE, mode="rich").limit(60).cache()
    docs_dir = str(tmp_path / "docs")
    docs.write.parquet(docs_dir)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = extract_spans_stream_lineage(spark, docs_dir, out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(f"{out}/spans").count()
    l1 = spark.read.parquet(f"{out}/lineage").count()

    q2 = extract_spans_stream_lineage(spark, docs_dir, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out}/spans").count() == n1
    assert spark.read.parquet(f"{out}/lineage").count() == l1


def test_stream_lineage_sink_crash_window_replay(spark, tmp_path, monkeypatch):
    """The documented crash window: spans written, lineage append dies,
    foreachBatch replays the batch. The replay must dynamic-overwrite the
    same (batch_id, part_id) partitions — one copy of every span, one
    lineage row set."""
    from pdf2dom_spark import tables
    from pdf2dom_spark.streaming import _lineage_batch_writer

    docs = build_docs_df(spark, SF_SMOKE, mode="rich").limit(40).cache()
    out = str(tmp_path / "o")
    writer = _lineage_batch_writer(spark, out, num_partitions=8)

    real_append = tables.append_table

    def dying_append(df, target, spark_=None):
        raise RuntimeError("injected crash before lineage commit")

    monkeypatch.setattr(tables, "append_table", dying_append)
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="injected crash"):
        writer(docs, 7)
    monkeypatch.setattr(tables, "append_table", real_append)

    # spans landed but no lineage: replay must not duplicate
    n_orphan = spark.read.parquet(f"{out}/spans").count()
    assert n_orphan > 0
    writer(docs, 7)  # replay
    spans = spark.read.parquet(f"{out}/spans")
    assert spans.count() == n_orphan  # same rows, overwritten in place
    assert spans.select("doc_id", "order").distinct().count() == n_orphan
    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.where(F.col("batch_id") == 7).count() > 0
    total = lin.agg(F.sum("span_count")).collect()[0][0]
    assert total == n_orphan


def test_lsh_sink_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch of the LSH dedup
    sink (crash after the pairs/sigs writes, before the stream checkpoint
    commit) must REPLACE that batch's rows, not append duplicates — and
    the replay must not pair the batch against its own earlier attempt's
    signatures."""
    from pdf2dom_spark.streaming import _lsh_batch_writer

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    b0 = d.where(F.col("doc_id") % 2 == 0)
    b1 = d.where(F.col("doc_id") % 2 == 1)

    out = str(tmp_path / "lshrep")
    writer = _lsh_batch_writer(spark, out)
    writer(b0, 0)
    writer(b1, 1)

    pairs_once = sorted((r.doc_a, r.doc_b, r.n_match) for r in
                        spark.read.parquet(f"{out}/pairs").collect())
    sigs_once = spark.read.parquet(f"{out}/sigs").count()
    assert pairs_once  # non-vacuous

    # replay both batches (any order) — exact same table afterwards
    writer(b1, 1)
    writer(b0, 0)
    pairs_twice = sorted((r.doc_a, r.doc_b, r.n_match) for r in
                         spark.read.parquet(f"{out}/pairs").collect())
    assert pairs_twice == pairs_once
    assert spark.read.parquet(f"{out}/sigs").count() == sigs_once


def test_pdf_file_stream_matches_batch_ingest(spark, tmp_path):
    """Streaming binaryFile ingest of real PDFs == the batch ingest +
    extraction, through the same lineage sink; a second availableNow run
    with NO new files processes nothing (checkpointed file tracking),
    and a newly dropped file arrives incrementally."""
    import os
    import shutil

    import pytest as _pytest

    res = "/root/reference/src/test/resources"
    if not os.path.isdir(res):
        _pytest.skip("reference fixtures not present")
    from pdf2dom_spark.pdfread import pdf_docs_df
    from pdf2dom_spark.pipeline import run_checkpointed
    from pdf2dom_spark.streaming import extract_pdf_stream_lineage

    src = tmp_path / "drop"
    src.mkdir()
    for f in ("text-rendering-mode-stroke.pdf", "images.pdf"):
        shutil.copy(f"{res}/{f}", src / f)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    q = extract_pdf_stream_lineage(spark, str(src), out, ckpt,
                                   num_partitions=2)
    q.awaitTermination()
    got = spark.read.parquet(f"{out}/spans")
    out_batch = str(tmp_path / "out_batch")
    run_checkpointed(spark, pdf_docs_df(spark, str(src)), out_batch,
                     num_partitions=2)
    want = spark.read.parquet(f"{out_batch}/spans")
    cols = [c for c in got.columns if c not in ("part_id", "batch_id")]
    assert (got.select(cols).exceptAll(want.select(cols)).count() == 0
            and want.select(cols).exceptAll(got.select(cols)).count() == 0)
    n1 = got.count()

    # replay with no new files: nothing re-processed
    q = extract_pdf_stream_lineage(spark, str(src), out, ckpt,
                                   num_partitions=2)
    q.awaitTermination()
    assert spark.read.parquet(f"{out}/spans").count() == n1

    # drop one more file: only IT is processed
    shutil.copy(f"{res}/3-page-document.pdf", src / "late.pdf")
    q = extract_pdf_stream_lineage(spark, str(src), out, ckpt,
                                   num_partitions=2)
    q.awaitTermination()
    spans2 = spark.read.parquet(f"{out}/spans")
    assert spans2.where("doc_id = 'late.pdf'").count() > 0
    assert spans2.count() > n1
    assert spans2.select("doc_id").distinct().count() == 3


def test_pdf_file_stream_honours_image_pixels(spark, tmp_path):
    """``job.main --stream --input-pdfs --image-pixels`` decodes the DCT
    image like the batch ingest: both land the same PNG data-URI
    media_ref (the streaming parser is the batch one)."""
    import numpy as np

    import job
    from pdf2dom_spark.jpegdec import encode_baseline
    from pdf2dom_spark.pdfwrite import dct_image_pdf_bytes

    src = tmp_path / "pdfs"
    src.mkdir()
    img = np.random.default_rng(7).integers(0, 256, (24, 32, 3),
                                            dtype=np.uint8)
    (src / "photo.pdf").write_bytes(
        dct_image_pdf_bytes(encode_baseline(img), 32, 24, ncomp=3))

    def image_refs(out: str, *extra: str) -> list[str]:
        assert job.main(["--input-pdfs", str(src), "--output", out,
                         "--partitions", "2", "--image-pixels",
                         *extra]) == 0
        spans = spark.read.parquet(f"{out}/spans")
        return [r.media_ref for r in
                spans.where(F.col("kind") == "image").collect()]

    batch = image_refs(str(tmp_path / "batch"))
    stream = image_refs(str(tmp_path / "stream"), "--stream")
    assert len(batch) == 1
    assert batch[0].startswith("data:image/png;base64,")
    assert stream == batch
