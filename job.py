#!/usr/bin/env python3
"""spark-submit entry point — the reference's CLI driver re-expressed
(PDFToHTML.main, PDFToHTML.java:41-136: file in/out + handler-mode flags ->
here: table in/out + the same extraction config + cluster knobs).

Usage (cluster):
  spark-submit --py-files pdf2dom_spark.zip job.py \\
      --input  <iceberg-or-parquet documents table/dir> \\
      --output <output dir (spans/ + lineage/)> \\
      --partitions 4096 --resume \\
      [--start-page N] [--end-page N] [--disable-graphics]
      [--disable-images] [--disable-image-data]
      [--image-handler embed|dir|ignore] [--font-handler embed|dir|ignore]
      [--render-html]

Local smoke:
  python job.py --synth /root/testdata/sf0.001 --output /tmp/out
"""

from __future__ import annotations

import argparse
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="documents table (DOC_SCHEMA parquet dir)")
    p.add_argument("--input-pdfs", help="directory/glob of real .pdf files "
                   "to ingest (distributed binaryFile scan -> stdlib PDF "
                   "parser -> DOC_SCHEMA; pdf2dom_spark.pdfread)")
    p.add_argument("--image-pixels", action="store_true",
                   help="decode image XObjects to pixels and carry the "
                        "reference's PNG re-encode as a data: URI media "
                        "ref (DCT/JPEG + raw Flate bitmaps; other codecs "
                        "keep the opaque sha ref)")
    p.add_argument("--pdf-password", default="",
                   help="password for encrypted input PDFs (tried as user "
                        "then owner; empty-password files open without it)")
    p.add_argument("--input-archives", help="directory/glob of .zip "
                   "archives of PDFs (one binaryFile row per archive -> "
                   "in-memory member parse -> DOC_SCHEMA with "
                   "<archive>/<member> doc_ids)")
    p.add_argument("--synth", help="synthesize corpus from this sf dir instead")
    p.add_argument("--output", required=True)
    p.add_argument("--partitions", type=int, default=0,
                   help="salt partition count (default: shuffle partitions)")
    p.add_argument("--resume", action="store_true",
                   help="skip partitions already in the lineage table")
    p.add_argument("--run-id", default=None)
    # PDFToHTML.java:100-136 flag surface
    p.add_argument("--start-page", type=int, default=0)
    p.add_argument("--end-page", type=int, default=2**31 - 1)
    p.add_argument("--disable-graphics", action="store_true")  # -gx analog
    p.add_argument("--disable-images", action="store_true")    # -ix analog
    p.add_argument("--disable-image-data", action="store_true")
    p.add_argument("--image-handler", default="embed",
                   choices=["embed", "dir", "ignore"])        # -im/-idir
    p.add_argument("--font-handler", default="embed",
                   choices=["embed", "dir", "ignore"])        # -fm/-fdir
    p.add_argument("--render-html", action="store_true",
                   help="also write per-doc HTML next to spans")
    p.add_argument("--split-min-bytes", type=int, default=None,
                   help="route docs larger than this through the page-split "
                        "path (monster-doc skew defense; off by default)")
    p.add_argument("--pages-per-group", type=int, default=8,
                   help="pages per fan-out group on the split path")
    p.add_argument("--stream", action="store_true",
                   help="ingest --input (a DOC_SCHEMA parquet dir) as an "
                        "availableNow stream through the foreachBatch "
                        "lineage sink (checkpoint under <output>/ckpt); "
                        "replay-safe, same table contract as batch")
    p.add_argument("--upsert", action="store_true",
                   help="treat the input docs as changed/new versions: "
                        "re-extract only them and replace their spans in "
                        "the existing --output (affected partitions only)")
    p.add_argument("--compact", action="store_true",
                   help="compact the spans table after the run (rewrite "
                        "each part_id partition to one file; Iceberg "
                        "rewrite_data_files analog)")
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv or sys.argv[1:])
    from pyspark.sql import SparkSession

    from pdf2dom_spark.extract import ExtractConfig
    from pdf2dom_spark.pipeline import run_checkpointed

    # malloc tuning before the JVM forks (workers inherit the env); on a
    # real cluster executors are separate JVMs, so also ship it via
    # spark.executorEnv below — see pdf2dom_spark/memtune.py
    import os as _os

    from pdf2dom_spark import memtune
    _os.environ.update({k: v for k, v in memtune.tuned_env().items()
                        if k.startswith("MALLOC_")})
    memtune.tune_malloc()

    pre_existing = SparkSession.getActiveSession() is not None
    spark = (SparkSession.builder.appName("pdf2dom-spark")
             .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
                     str(memtune.THRESHOLD_BYTES))
             .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
                     str(memtune.THRESHOLD_BYTES))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
             .getOrCreate())

    cfg = ExtractConfig(
        start_page=args.start_page, end_page=args.end_page,
        disable_graphics=args.disable_graphics,
        disable_images=args.disable_images,
        disable_image_data=args.disable_image_data,
        image_handler=args.image_handler, font_handler=args.font_handler,
    )
    p = args.partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200"))

    if args.input_pdfs:
        from pdf2dom_spark.pdfread import pdf_docs_df
        docs = pdf_docs_df(spark, args.input_pdfs,
                           password=args.pdf_password.encode("utf-8"),
                           image_pixels=args.image_pixels)
    elif args.input_archives:
        from pdf2dom_spark.pdfread import pdf_archive_docs_df
        docs = pdf_archive_docs_df(
            spark, args.input_archives,
            password=args.pdf_password.encode("utf-8"),
            image_pixels=args.image_pixels)
    elif args.synth:
        from pdf2dom_spark.corpus import build_docs_df
        docs = build_docs_df(spark, args.synth, mode="rich", num_partitions=p)
    else:
        # Iceberg table identifier or parquet dir (pdf2dom_spark.tables)
        from pdf2dom_spark import tables
        docs = tables.read_table(spark, args.input)

    if args.stream:
        if not args.input and not args.input_pdfs:
            raise SystemExit("error: --stream requires --input (a "
                             "DOC_SCHEMA parquet dir) or --input-pdfs "
                             "(a directory of .pdf files) to watch")
        # refuse an output whose lineage was written by a batch run: the
        # streaming sink keys idempotence on batch_id, which batch lineage
        # lacks — mixing the two schemas corrupts resume for both modes
        from pdf2dom_spark import tables
        prior_lin = None
        if tables.table_exists(spark, f"{args.output}/lineage"):
            try:
                prior_lin = spark.read.parquet(f"{args.output}/lineage")
            except Exception:  # exists but unreadable -> nothing done
                pass
        if prior_lin is not None and "batch_id" not in prior_lin.columns:
            raise SystemExit(
                f"error: {args.output}/lineage exists without a batch_id "
                "column (batch-mode output); point --stream at a fresh "
                "output dir")
        if args.input_pdfs:
            from pdf2dom_spark.streaming import extract_pdf_stream_lineage
            q = extract_pdf_stream_lineage(
                spark, args.input_pdfs, args.output,
                f"{args.output}/ckpt", cfg=cfg, num_partitions=p,
                password=args.pdf_password.encode("utf-8"),
                image_pixels=args.image_pixels)
        else:
            from pdf2dom_spark.streaming import extract_spans_stream_lineage
            q = extract_spans_stream_lineage(
                spark, args.input, args.output, f"{args.output}/ckpt",
                cfg=cfg, num_partitions=p)
        q.awaitTermination()
        lin = spark.read.parquet(f"{args.output}/lineage")
        from pyspark.sql import functions as SF
        agg = lin.agg(SF.sum("span_count").alias("total"),
                      SF.countDistinct("batch_id").alias("batches")).first()
        print({"total_span_count": int(agg["total"] or 0),
               "batches": int(agg["batches"])})
        if not pre_existing:
            spark.stop()
        return 0

    if args.upsert:
        from pdf2dom_spark.pipeline import upsert_docs
        print(upsert_docs(spark, docs, args.output, cfg=cfg,
                          run_id=args.run_id))
        if not pre_existing:
            spark.stop()
        return 0

    if not args.resume:
        # fresh-run semantics: run_checkpointed always skips partitions with
        # existing lineage, so silently reusing a previous output dir would
        # skip work instead of recomputing — refuse loudly.
        from pdf2dom_spark import tables
        lineage_target = (f"{args.output}_lineage"
                          if tables.is_table_identifier(args.output)
                          else f"{args.output}/lineage")
        has_lineage = tables.table_exists(spark, lineage_target)
        if has_lineage:
            try:
                tables.read_table(spark, lineage_target).limit(1).collect()
            except Exception:  # exists but unreadable -> nothing done
                has_lineage = False
        if has_lineage:
            raise SystemExit(
                f"error: {lineage_target} already exists; pass --resume "
                "to continue that run, or point --output at a fresh target")
    stats = run_checkpointed(spark, docs, args.output, cfg=cfg,
                             num_partitions=p, run_id=args.run_id,
                             split_min_bytes=args.split_min_bytes,
                             pages_per_group=args.pages_per_group)
    print(stats)

    if args.compact:
        from pdf2dom_spark import tables
        from pdf2dom_spark.pipeline import compact_spans
        spans_target = (f"{args.output}_spans"
                        if tables.is_table_identifier(args.output)
                        else f"{args.output}/spans")
        compact_spans(spark, spans_target)

    if args.render_html:
        from pdf2dom_spark.render_html import render_html_df
        spans = spark.read.parquet(f"{args.output}/spans")
        render_html_df(spans).write.mode("overwrite").parquet(
            f"{args.output}/html")

    if not pre_existing:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
