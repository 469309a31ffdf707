"""Driver-contract smoke: entry() runs and produces rows with SPAN_SCHEMA;
queries()/oracle_sql() keys line up; job.py CLI runs end-to-end."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.schema["style"].dataType.typeName() == "struct"
    rows = df.limit(50).collect()
    assert len(rows) > 0
    assert {"doc_id", "order", "kind", "text", "media_ref", "style",
            "page_no", "part_id"} <= set(df.columns)


def test_entry_schema_and_style_struct(spark):
    """The entry contract: entry() has SPAN_SCHEMA exactly (nullability
    included), and its ``style`` struct carries the same values as the
    flat ``style_*`` columns of the flat kernel, row for row."""
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from pdf2dom_spark.corpus import build_docs_df
    from pdf2dom_spark.pipeline import extract_spans
    from pdf2dom_spark.schema import SPAN_SCHEMA, STYLE_FIELDS

    nested = e.entry(spark)
    assert nested.schema == SPAN_SCHEMA  # StructField == compares nullable

    docs = build_docs_df(spark, SF_SMOKE, mode="rich")
    flat = extract_spans(docs, num_partitions=8, nested=False)
    base = ["doc_id", "order", "kind", "text", "media_ref", "page_no",
            "part_id"]
    unnested = nested.select(
        *base, *[F.col(f"style.{f}").alias(f"style_{f}")
                 for f in STYLE_FIELDS])
    flat = flat.select(*base, *[f"style_{f}" for f in STYLE_FIELDS])
    n = nested.count()
    assert n > 0 and flat.count() == n
    assert unnested.exceptAll(flat).count() == 0
    assert flat.exceptAll(unnested).count() == 0


def test_registry_alignment():
    import __spark_entry__ as e

    qs = e.queries()
    orc = e.oracle_sql()
    assert len(qs) >= 30
    assert set(orc) <= set(qs)
    # rows-only entries are the designated non-SQL-expressible ones
    assert set(qs) - set(orc) == {"extract_spans_rich"}


def test_job_cli(spark, tmp_path):
    import job

    out = str(tmp_path / "job_out")
    rc = job.main(["--synth", "/root/testdata/sf0.001", "--output", out,
                   "--partitions", "4", "--render-html"])
    assert rc == 0
    spans = spark.read.parquet(f"{out}/spans")
    lin = spark.read.parquet(f"{out}/lineage")
    assert spans.count() > 0
    assert lin.select("part_id").distinct().count() == 4
    html = spark.read.parquet(f"{out}/html")
    assert html.count() == spans.select("doc_id").distinct().count()


def test_job_cli_lifecycle(spark, tmp_path):
    """The full production CLI surface in one lifecycle: fresh run ->
    resume no-op -> upsert (same docs = no growth) -> compact (one file
    per partition dir) -> streaming ingest into a fresh target."""
    import glob

    import job
    from pdf2dom_spark.corpus import build_docs_df

    out = str(tmp_path / "life")
    assert job.main(["--synth", "/root/testdata/sf0.001", "--output", out,
                     "--partitions", "4"]) == 0
    n1 = spark.read.parquet(f"{out}/spans").count()

    # resume without --partitions: pinned modulus makes it a no-op
    assert job.main(["--synth", "/root/testdata/sf0.001", "--output", out,
                     "--resume"]) == 0
    assert spark.read.parquet(f"{out}/spans").count() == n1

    # upsert the same corpus: table content unchanged
    assert job.main(["--synth", "/root/testdata/sf0.001", "--output", out,
                     "--upsert"]) == 0
    assert spark.read.parquet(f"{out}/spans").count() == n1

    # compact: one file per part_id dir, same rows
    assert job.main(["--synth", "/root/testdata/sf0.001", "--output", out,
                     "--resume", "--compact"]) == 0
    per_dir = [len(glob.glob(f"{d}/*.parquet"))
               for d in glob.glob(f"{out}/spans/part_id=*")]
    assert per_dir and all(n == 1 for n in per_dir)
    assert spark.read.parquet(f"{out}/spans").count() == n1

    # streaming ingest of the same corpus into a fresh target
    docs_dir = str(tmp_path / "docs_src")
    build_docs_df(spark, "/root/testdata/sf0.001",
                  mode="rich").write.parquet(docs_dir)
    sout = str(tmp_path / "stream_out")
    assert job.main(["--input", docs_dir, "--output", sout,
                     "--partitions", "4", "--stream"]) == 0
    assert spark.read.parquet(f"{sout}/spans").count() == n1


def test_job_cli_input_pdfs(spark, tmp_path):
    """--input-pdfs: real .pdf files through the distributed binaryFile
    ingest into the same checkpointed table contract as every other
    source. Uses the reference's own fixture PDFs."""
    import os
    import shutil

    import pytest

    res = "/root/reference/src/test/resources"
    if not os.path.isdir(res):
        pytest.skip("reference fixtures not present")
    import job

    src = tmp_path / "pdfs"
    src.mkdir()
    for f in ("3-page-document.pdf", "images.pdf",
              "text-rendering-mode-fill.pdf"):
        shutil.copy(f"{res}/{f}", src / f)
    out = str(tmp_path / "pdf_out")
    assert job.main(["--input-pdfs", str(src), "--output", out,
                     "--partitions", "2"]) == 0
    spans = spark.read.parquet(f"{out}/spans")
    assert spans.select("doc_id").distinct().count() == 3
    # the ingest matches the in-process parser end to end
    from pdf2dom_spark.extract import ExtractConfig, extract_doc
    from pdf2dom_spark.pdfread import pdf_file_to_row
    row = pdf_file_to_row(f"{res}/3-page-document.pdf")
    local = extract_doc(row["doc_id"], row["spans"], ExtractConfig())
    got = spans.where(spans.doc_id == "3-page-document.pdf").count()
    assert got == len(local)
    # resume over the same PDF input is a no-op
    n1 = spans.count()
    assert job.main(["--input-pdfs", str(src), "--output", out,
                     "--resume"]) == 0
    assert spark.read.parquet(f"{out}/spans").count() == n1


def test_job_cli_input_archives(spark, tmp_path):
    """--input-archives: zip-of-PDFs containers through the same
    checkpointed table contract."""
    import os
    import zipfile

    import pytest

    res = "/root/reference/src/test/resources"
    if not os.path.isdir(res):
        pytest.skip("reference fixtures not present")
    import job

    src = tmp_path / "archives"
    src.mkdir()
    with zipfile.ZipFile(src / "b1.zip", "w") as zf:
        for f in ("text-rendering-mode-stroke.pdf", "images.pdf"):
            zf.write(f"{res}/{f}", f)
    out = str(tmp_path / "arch_out")
    assert job.main(["--input-archives", str(src), "--output", out,
                     "--partitions", "2"]) == 0
    spans = spark.read.parquet(f"{out}/spans")
    ids = {r["doc_id"] for r in spans.select("doc_id").distinct().collect()}
    assert ids == {"b1.zip/text-rendering-mode-stroke.pdf",
                   "b1.zip/images.pdf"}


def test_job_cli_image_pixels(spark, tmp_path):
    """--image-pixels: the CLI routes the flag through the ingest and
    image media_refs land as PNG data URIs in the span table."""
    import os
    import shutil

    import pytest

    res = "/root/reference/src/test/resources"
    if not os.path.isdir(res):
        pytest.skip("reference fixtures not present")
    import job

    src = tmp_path / "pdfs"
    src.mkdir()
    shutil.copy(f"{res}/images.pdf", src / "images.pdf")
    out = str(tmp_path / "px_out")
    assert job.main(["--input-pdfs", str(src), "--output", out,
                     "--partitions", "2", "--image-pixels"]) == 0
    spans = spark.read.parquet(f"{out}/spans")
    refs = [r["media_ref"] for r in
            spans.where(spans.kind == "image").collect()]
    assert len(refs) == 2
    assert all(r.startswith("data:image/png;base64,") for r in refs)
