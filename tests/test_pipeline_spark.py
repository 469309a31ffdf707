"""Spark-level pipeline tests: nested schema, deterministic lineage,
checkpoint-resume idempotence under failure injection, skew handling."""

from __future__ import annotations

import contextlib
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf2dom_spark.corpus import build_docs_df
from pdf2dom_spark.pipeline import (extract_spans, lineage, run_checkpointed,
                                    with_part_id)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return build_docs_df(spark, SF_SMOKE, mode="rich").cache()


def test_nested_schema_and_rows(spark, docs):
    spans = extract_spans(docs, num_partitions=8)
    assert spans.schema["style"].dataType.typeName() == "struct"
    sample = spans.where(F.col("kind") == "text").first()
    assert sample["style"]["font_size"] is not None
    kinds = {r["kind"] for r in spans.select("kind").distinct().collect()}
    assert {"page", "text", "rect", "line", "image", "font"} <= kinds


def test_order_is_dense_per_doc(spark, docs):
    spans = extract_spans(docs, num_partitions=8, nested=False)
    bad = (spans.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n"),
                F.max("order").alias("mx"), F.min("order").alias("mn"),
                F.countDistinct("order").alias("d"))
           .where((F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1)
                  | (F.col("d") != F.col("n"))))
    assert bad.count() == 0


def test_part_id_deterministic(spark, docs):
    a = with_part_id(docs, 16).select("doc_id", "part_id")
    b = with_part_id(docs, 16).select("doc_id", "part_id")
    assert a.exceptAll(b).count() == 0
    assert a.select("part_id").distinct().count() > 8  # spread across salts


def test_extraction_deterministic(spark, docs):
    s1 = extract_spans(docs, num_partitions=4, nested=False)
    s2 = extract_spans(docs, num_partitions=8, nested=False)
    # identical span sequences regardless of parallelism (drop part_id)
    cols = [c for c in s1.columns if c != "part_id"]
    assert s1.select(cols).exceptAll(s2.select(cols)).count() == 0
    assert s2.select(cols).exceptAll(s1.select(cols)).count() == 0


def test_lineage_reconciles(spark, docs):
    spans = extract_spans(docs, num_partitions=8, nested=False)
    lin = lineage(spans)
    tot = lin.agg(F.sum("doc_count"), F.sum("span_count")).first()
    assert tot[0] == docs.count()
    assert tot[1] == spans.count()


def test_lineage_doc_count_single_exchange(spark, docs, tmp_path):
    """lineage counts each doc's order-0 span: equal to countDistinct(doc_id)
    on flat and paged (everything split) outputs, with one exchange where
    countDistinct plans two."""
    from pdf2dom_spark.pagesplit import extract_spans_paged

    flat = extract_spans(docs, num_partitions=8,
                         nested=False).localCheckpoint(eager=True)
    paged = extract_spans_paged(docs, num_partitions=8, pages_per_group=4,
                                min_bytes=0).localCheckpoint(eager=True)
    for spans in (flat, paged):
        ref = spans.groupBy("part_id").agg(
            F.countDistinct("doc_id").alias("doc_count"))
        got = lineage(spans).select("part_id", "doc_count")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, ref.collect()))
    flat.write.partitionBy("part_id").parquet(str(tmp_path / "spans"))
    plan = (lineage(spark.read.parquet(str(tmp_path / "spans")))
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_resume_idempotent(spark, docs, tmp_path):
    out1 = str(tmp_path / "full")
    out2 = str(tmp_path / "resumed")
    # clean single run
    run_checkpointed(spark, docs, out1, num_partitions=8, run_id="full")
    # failed run (partitions 2,5 crash) then resume
    run_checkpointed(spark, docs, out2, num_partitions=8, run_id="r1",
                     fail_parts={2, 5})
    mid = spark.read.parquet(f"{out2}/lineage")
    assert mid.select("part_id").distinct().count() == 6
    stats = run_checkpointed(spark, docs, out2, num_partitions=8, run_id="r2")
    assert stats["parts_done"] == 8
    assert stats["docs_in"] == with_part_id(docs, 8).where(
        F.col("part_id").isin(2, 5)).count()

    a = spark.read.parquet(f"{out1}/spans")
    b = spark.read.parquet(f"{out2}/spans")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # resumed partitions were produced by run r2, the rest by r1
    lin = spark.read.parquet(f"{out2}/lineage")
    by_run = {r["part_id"]: r["run_id"] for r in lin.collect()}
    assert by_run[2] == "r2" and by_run[5] == "r2"
    # lineage checksums identical across the two outcomes
    la = lineage(a).orderBy("part_id").collect()
    lb = lineage(b).orderBy("part_id").collect()
    assert [tuple(r) for r in la] == [tuple(r) for r in lb]


def test_resume_pins_partition_count(spark, docs, tmp_path):
    """Resuming with a different --partitions must NOT remap part_ids:
    part_id = pmod(xxhash64(doc_id), P), so a changed P would defeat the
    done-lineage anti-join and double-write every already-extracted doc
    (observed live: 8-partition run resumed at the 200 default doubled the
    table). The lineage table pins the salt modulus; resume reuses it."""
    out = str(tmp_path / "pinned")
    first = run_checkpointed(spark, docs, out, num_partitions=8,
                             run_id="r1", fail_parts={3})
    assert first["parts_done"] == 7
    # resume with a wildly different partition count — must be overridden
    stats = run_checkpointed(spark, docs, out, num_partitions=200,
                             run_id="r2")
    assert stats["parts_done"] == 8
    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.select("num_partitions").distinct().collect()[0][0] == 8
    # table is complete, not doubled
    ref = str(tmp_path / "ref")
    run_checkpointed(spark, docs, ref, num_partitions=8, run_id="full")
    a = spark.read.parquet(f"{ref}/spans")
    b = spark.read.parquet(f"{out}/spans")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_resume_idempotent_paged(spark, docs, tmp_path):
    """Failure-injection resume THROUGH the page-split path (VERDICT r2 #4):
    the monster-doc defense must be reachable from the production entry
    point and yield a bit-equal final table."""
    out1 = str(tmp_path / "full")
    out2 = str(tmp_path / "paged")
    run_checkpointed(spark, docs, out1, num_partitions=8, run_id="full")
    # min_bytes=0: force every doc through the split machinery (the corpus
    # classes where the split is exact — tests/test_pagesplit.py)
    run_checkpointed(spark, docs, out2, num_partitions=8, run_id="p1",
                     fail_parts={1, 6}, split_min_bytes=0,
                     pages_per_group=4)
    stats = run_checkpointed(spark, docs, out2, num_partitions=8,
                             run_id="p2", split_min_bytes=0,
                             pages_per_group=4)
    assert stats["parts_done"] == 8
    assert stats["docs_in"] == with_part_id(docs, 8).where(
        F.col("part_id").isin(1, 6)).count()
    a = spark.read.parquet(f"{out1}/spans")
    b = spark.read.parquet(f"{out2}/spans")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    lin = spark.read.parquet(f"{out2}/lineage")
    by_run = {r["part_id"]: r["run_id"] for r in lin.collect()}
    assert by_run[1] == "p2" and by_run[6] == "p2"


def test_zero_span_partitions_get_lineage_rows(spark, docs, tmp_path):
    """A partition whose docs all extract to zero spans writes no files,
    yet the run must record it as done with a zero lineage row — else every
    resume re-extracts it. The processed set is observed upstream of the
    kernel during the write, so it sees those partitions; a fail_parts
    partition still gets no row, and a resume with nothing pending
    returns at once."""
    salted = with_part_id(docs, 8)
    empty = (salted.withColumn("spans", F.when(
        F.col("part_id").isin(0, 3), F.expr("slice(spans, 1, 0)"))
        .otherwise(F.col("spans"))).drop("part_id"))
    n_docs = dict(salted.groupBy("part_id").count().collect())
    out = str(tmp_path / "zero")
    first = run_checkpointed(spark, empty, out, num_partitions=8,
                             run_id="z1", fail_parts={5})
    assert first["parts_done"] == 7
    assert first["docs_in"] == sum(n_docs.values())
    lin = {r.part_id: r for r in spark.read.parquet(f"{out}/lineage")
           .collect()}
    assert set(lin) == set(range(8)) - {5}
    for p in (0, 3):
        assert lin[p].span_count == 0 and lin[p].checksum == 0
        assert lin[p].doc_count == 0
    spans = spark.read.parquet(f"{out}/spans")
    assert spans.where(F.col("part_id").isin(0, 3, 5)).count() == 0

    second = run_checkpointed(spark, empty, out, num_partitions=8,
                              run_id="z2")
    assert second["parts_done"] == 8 and second["docs_in"] == n_docs[5]
    spans = spark.read.parquet(f"{out}/spans")
    assert second["total_span_count"] == spans.count()
    assert second["span_count"] == spans.where(F.col("part_id") == 5).count()
    # nothing pending: AQE prunes the empty plan, observation included
    for split in (None, 0):
        noop = run_checkpointed(spark, empty, out, num_partitions=8,
                                run_id="z3", split_min_bytes=split)
        assert noop["span_count"] == 0 and noop["docs_in"] == 0
        assert noop["parts_done"] == 8
        assert noop["total_span_count"] == second["total_span_count"]
    assert spark.read.parquet(f"{out}/lineage").count() == 8


def test_input_evaluated_once(spark, docs, tmp_path):
    """One checkpointed run reads its input once: no pre-pass for the
    processed set (the Observation rides the write), on the flat path and
    on the everything-splits paged path. ``docs_in`` is observed on the
    same pass. With a positive split threshold extract_spans_paged still
    evaluates ``pending`` once per branch (small and big), yet the
    observation reports each doc once."""
    n = docs.count()
    doc_bytes = F.aggregate(
        "spans", F.lit(0),
        lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)))
    sizes = sorted(r[0] for r in docs.select(doc_bytes).collect())
    for split in (None, 0, sizes[len(sizes) // 2]):
        rows = spark.sparkContext.accumulator(0)

        def identity(batches, rows=rows):
            for pdf in batches:
                rows.add(len(pdf))
                yield pdf

        counted = docs.mapInPandas(identity, docs.schema)
        out = str(tmp_path / f"once_{split}")
        stats = run_checkpointed(spark, counted, out, num_partitions=8,
                                 run_id="once", split_min_bytes=split,
                                 pages_per_group=4)
        assert stats["docs_in"] == n, split
        assert stats["span_count"] == stats["total_span_count"] > 0
        if split in (None, 0):
            assert rows.value == n, (split, rows.value)


# the schema every lineage file is written with, nullability included
LINEAGE_SCHEMA = T.StructType(
    [T.StructField("part_id", T.IntegerType(), True)]
    + [T.StructField(c, T.LongType(), False)
       for c in ("doc_count", "span_count", "n_text", "n_page", "n_rect",
                 "n_line", "n_image", "n_font", "n_meta")]
    + [T.StructField("max_doc_spans", T.IntegerType(), False),
       T.StructField("checksum", T.LongType(), False),
       T.StructField("run_id", T.StringType(), False),
       T.StructField("completed_at", T.TimestampType(), False),
       T.StructField("num_partitions", T.IntegerType(), False)])


def _file_schemas(table_dir):
    """The StructType Spark wrote into each parquet file's footer
    (spark.read.parquet reports every column nullable)."""
    import glob
    import json

    import pyarrow.parquet as pq

    key = b"org.apache.spark.sql.parquet.row.metadata"
    return [T.StructType.fromJson(json.loads(pq.read_schema(f).metadata[key]))
            for f in sorted(glob.glob(f"{table_dir}/*.parquet"))]


def test_lineage_schema_pinned(spark, docs, tmp_path):
    """Every lineage file has one schema, nullability included: after a
    crashed first run, the resume's append, a paged run and an upsert's
    rewrite. Each run's completed_at falls inside its call, and every
    call keeps the other partitions' rows as they were."""
    import os

    from pdf2dom_spark.pipeline import upsert_docs

    out, paged = str(tmp_path / "pin"), str(tmp_path / "pin_paged")
    ids = [r.doc_id for r in docs.select("doc_id").limit(10).collect()]
    updated = (docs.where(F.col("doc_id").isin(ids))
               .withColumn("spans", F.reverse("spans")))
    calls = [
        (out, "r1", lambda: run_checkpointed(
            spark, docs, out, num_partitions=8, run_id="r1",
            fail_parts={2, 5})),
        (out, "r2", lambda: run_checkpointed(
            spark, docs, out, num_partitions=8, run_id="r2")),
        (paged, "p1", lambda: run_checkpointed(
            spark, docs, paged, num_partitions=8, run_id="p1",
            split_min_bytes=0, pages_per_group=4)),
        (out, "u1", lambda: upsert_docs(spark, updated, out, run_id="u1")),
    ]
    for target, run_id, call in calls:
        before = ({r.part_id: r for r in
                   spark.read.parquet(f"{target}/lineage").collect()}
                  if os.path.isdir(f"{target}/lineage") else {})
        t0 = datetime.now()
        call()
        t1 = datetime.now()
        schemas = _file_schemas(f"{target}/lineage")
        assert schemas and all(s == LINEAGE_SCHEMA for s in schemas), (
            run_id, schemas)
        lin = spark.read.parquet(f"{target}/lineage").collect()
        stamps = [r.completed_at for r in lin if r.run_id == run_id]
        assert stamps and all(t0 <= s <= t1 for s in stamps), run_id
        kept = [r for r in lin if r.run_id != run_id]
        assert all(r == before[r.part_id] for r in kept)
    assert len(lin) == 8 and len(kept) < 8


@contextlib.contextmanager
def _jvm_log(spark):
    """Collect what the JVM logs (log4j root logger) inside the block; the
    text is complete once the listener bus has drained."""
    jvm = spark._jvm
    writer = jvm.java.io.StringWriter()
    appender = (jvm.org.apache.logging.log4j.core.appender.WriterAppender
                .createAppender(None, None, writer, "pytest-capture",
                                False, True))
    appender.start()
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    try:
        yield writer
    finally:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        root.removeAppender("pytest-capture")
        appender.stop()
        ctx.updateLoggers()


def test_fresh_run_runs_no_failing_lineage_read(spark, docs, tmp_path):
    """On a fresh output neither job.main's fresh-run guard nor
    run_checkpointed's prior-lineage read runs a query that fails analysis
    (once an Observation has run in the session, each such query logs a
    listener ERROR stack). An existing but unreadable lineage dir still
    reads as nothing done."""
    import os

    import job

    small = docs.limit(40).localCheckpoint(eager=True)
    run_checkpointed(spark, small, str(tmp_path / "arm"), num_partitions=4)
    small.write.parquet(str(tmp_path / "docs"))
    with _jvm_log(spark) as log:
        fresh = run_checkpointed(spark, small, str(tmp_path / "fresh"),
                                 num_partitions=4)
        assert job.main(["--input", str(tmp_path / "docs"), "--output",
                         str(tmp_path / "cli"), "--partitions", "4"]) == 0
    assert "Listener threw an exception" not in log.toString()
    assert fresh["parts_done"] == 4
    assert spark.read.parquet(f"{tmp_path}/cli/lineage").count() == 4

    os.makedirs(tmp_path / "empty" / "lineage")
    again = run_checkpointed(spark, small, str(tmp_path / "empty"),
                             num_partitions=4)
    assert again["span_count"] == fresh["span_count"]
    assert again["parts_done"] == 4


def test_skew_docs_exist_and_balanced(spark, docs):
    # the rich corpus has a deterministic skew tail; salting must keep the
    # max-partition share bounded
    spans = extract_spans(docs, num_partitions=8, nested=False)
    per_doc = spans.groupBy("doc_id").count()
    mx = per_doc.agg(F.max("count")).first()[0]
    med = per_doc.approxQuantile("count", [0.5], 0.01)[0]
    assert mx > 5 * med  # skew is real
    per_part = spans.groupBy("part_id").count().collect()
    counts = [r["count"] for r in per_part]
    assert max(counts) < 3.5 * (sum(counts) / len(counts))


# --- Iceberg-or-parquet table routing (pdf2dom_spark.tables) -----------------

def test_tables_fallback_and_identifier_routing(spark, tmp_path):
    from pdf2dom_spark import tables

    # sandbox has no Iceberg runtime: detection must be False, not an error
    assert tables.iceberg_available(spark) is False
    assert tables.is_table_identifier("lake.db.documents") is True
    assert tables.is_table_identifier("/data/docs.parquet") is False
    assert tables.is_table_identifier("docs.parquet") is False

    # catalog identifier without a runtime -> loud, actionable error
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="Iceberg"):
        tables.read_table(spark, "lake.db.documents")

    # parquet path round-trip through the same API the pipeline uses
    from pyspark.sql import functions as F
    df = spark.range(10).withColumn("part_id", (F.col("id") % 2).cast("int"))
    assert tables.table_exists(spark, f"{tmp_path}/t") is False
    tables.write_partitioned(df, f"{tmp_path}/t", "part_id", spark)
    assert tables.table_exists(spark, f"{tmp_path}/t") is True
    assert tables.table_exists(spark, f"file://{tmp_path}/t") is True
    with _pytest.raises(RuntimeError, match="Iceberg"):
        tables.table_exists(spark, "lake.db.documents")
    back = tables.read_table(spark, f"{tmp_path}/t")
    assert back.count() == 10
    # partition-replacing semantics: rewriting part 0 leaves part 1 intact
    df0 = spark.range(3).withColumn("part_id", F.lit(0).cast("int"))
    tables.write_partitioned(df0, f"{tmp_path}/t", "part_id", spark)
    counts = dict(tables.read_table(spark, f"{tmp_path}/t")
                  .groupBy("part_id").count().collect())
    assert counts == {0: 3, 1: 5}


def test_bare_dirname_is_a_path_not_a_table(spark, tmp_path):
    """'bench_out'-style relative dirs must route to parquet, not Iceberg
    (code-review regression)."""
    import os
    from pdf2dom_spark import tables
    from pyspark.sql import functions as F

    assert tables.is_table_identifier("bench_out") is False
    assert tables.is_table_identifier("lake.db.spans") is True
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        df = spark.range(4).withColumn("part_id", (F.col("id") % 2).cast("int"))
        tables.write_partitioned(df, "bench_out", "part_id", spark)
        assert tables.read_table(spark, "bench_out").count() == 4
    finally:
        os.chdir(cwd)


def test_compact_spans_preserves_content(spark, docs, tmp_path):
    """Compaction rewrites each part_id dir to one file with bit-identical
    content (lineage checksums stay valid)."""
    import glob

    from pdf2dom_spark.pipeline import compact_spans

    out = str(tmp_path / "c")
    run_checkpointed(spark, docs, out, num_partitions=8, run_id="r1")
    files = lambda: {d: len(glob.glob(f"{d}/*.parquet"))
                     for d in glob.glob(f"{out}/spans/part_id=*")}
    before_files = files()
    assert max(before_files.values()) > 1  # the problem exists
    before = spark.read.parquet(f"{out}/spans").localCheckpoint(eager=True)

    compact_spans(spark, f"{out}/spans")

    after_files = files()
    assert set(after_files) == set(before_files)
    assert all(n == 1 for n in after_files.values()), after_files
    after = spark.read.parquet(f"{out}/spans")
    assert after.count() == before.count()
    cols = before.columns
    assert after.select(cols).exceptAll(before.select(cols)).count() == 0
    # lineage checksums still describe the compacted table
    lin = spark.read.parquet(f"{out}/lineage").select("part_id", "checksum")
    fresh = lineage(after).select("part_id", "checksum")
    assert (sorted(map(tuple, lin.collect()))
            == sorted(map(tuple, fresh.collect())))


def test_upsert_docs_equals_full_rerun(spark, docs, tmp_path):
    """Incremental re-extraction: after updating a subset of documents,
    upsert_docs must produce exactly the table a full re-run over the
    updated corpus would — touching only the affected partitions — and
    lineage checksums must describe the merged table."""
    from pdf2dom_spark.pipeline import upsert_docs

    out = str(tmp_path / "u")
    run_checkpointed(spark, docs, out, num_partitions=8, run_id="base")

    # new versions for ~1/10th of the corpus: swap their payload with
    # another doc's spans (deterministic, genuinely different)
    ids = [r.doc_id for r in docs.select("doc_id").limit(20).collect()]
    updated = (docs.where(F.col("doc_id").isin(ids))
               .withColumn("spans", F.reverse("spans")))
    stats = upsert_docs(spark, updated, out, run_id="up1")
    assert stats["docs_updated"] == len(ids)
    assert 0 < stats["parts_touched"] <= 8

    # ground truth: full fresh run over the updated corpus
    full_docs = (docs.where(~F.col("doc_id").isin(ids))
                 .unionByName(updated))
    ref = str(tmp_path / "ref")
    run_checkpointed(spark, full_docs, ref, num_partitions=8, run_id="full")

    a = spark.read.parquet(f"{ref}/spans")
    b = spark.read.parquet(f"{out}/spans")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # lineage still reconciles with the merged table
    lin = spark.read.parquet(f"{out}/lineage").select("part_id", "checksum")
    fresh = lineage(b).select("part_id", "checksum")
    assert (sorted(map(tuple, lin.collect()))
            == sorted(map(tuple, fresh.collect())))
    # resume over the upserted table is still a no-op
    stats2 = run_checkpointed(spark, full_docs, out, num_partitions=8,
                              run_id="noop")
    assert stats2["span_count"] == 0


def test_upsert_inserts_new_docs(spark, docs, tmp_path):
    """Upsert with brand-new doc_ids inserts them (partition rebuild keeps
    every existing doc); upsert without a prior run fails loudly."""
    from pyspark.sql import Row

    from pdf2dom_spark.pipeline import upsert_docs

    out = str(tmp_path / "ins")
    run_checkpointed(spark, docs, out, num_partitions=8, run_id="base")
    base_count = spark.read.parquet(f"{out}/spans").count()

    tmpl = docs.limit(1).collect()[0]
    new = spark.createDataFrame(
        [Row(doc_id="brand-new-doc-1", spans=tmpl.spans),
         Row(doc_id="brand-new-doc-2", spans=tmpl.spans)],
        schema=docs.select("doc_id", "spans").schema)
    stats = upsert_docs(spark, new, out, run_id="ins1")
    assert stats["docs_updated"] == 2

    after = spark.read.parquet(f"{out}/spans")
    assert after.where(F.col("doc_id") == "brand-new-doc-1").count() > 0
    assert after.select("doc_id").distinct().count() == docs.count() + 2
    assert after.count() > base_count

    # no prior run -> loud failure, not silent table creation
    with pytest.raises(Exception):
        upsert_docs(spark, new, str(tmp_path / "missing"), run_id="boom")


def test_compact_spans_multi_file_target(spark, docs, tmp_path):
    """files_per_partition > 1: each part_id dir lands on at most that many
    files (intra-partition salt), content still bit-identical."""
    import glob

    from pdf2dom_spark.pipeline import compact_spans

    out = str(tmp_path / "c2")
    run_checkpointed(spark, docs, out, num_partitions=8, run_id="r1")
    before = spark.read.parquet(f"{out}/spans").localCheckpoint(eager=True)
    compact_spans(spark, f"{out}/spans", files_per_partition=2)
    per_dir = [len(glob.glob(f"{d}/*.parquet"))
               for d in glob.glob(f"{out}/spans/part_id=*")]
    assert per_dir and all(1 <= n <= 2 for n in per_dir), per_dir
    after = spark.read.parquet(f"{out}/spans")
    assert after.count() == before.count()
    assert after.select(before.columns).exceptAll(before).count() == 0


def test_upsert_empties_partition(spark, docs, tmp_path):
    """An affected partition whose every doc updates to a zero-span version
    must end EMPTY on disk (dynamic overwrite alone never touches it) with
    an explicit zero lineage row — not stale spans + a dropped lineage
    row (ADVICE r3)."""
    from pdf2dom_spark.pipeline import upsert_docs

    small = docs.limit(10).localCheckpoint(eager=True)
    out = str(tmp_path / "zu")
    run_checkpointed(spark, small, out, num_partitions=64, run_id="base")

    solo = (with_part_id(small, 64).groupBy("part_id")
            .agg(F.count(F.lit(1)).alias("n"), F.first("doc_id").alias("d"))
            .where(F.col("n") == 1).first())
    assert solo is not None, "need a single-doc partition for this test"
    target_part, target_doc = int(solo.part_id), solo.d

    updated = (small.where(F.col("doc_id") == target_doc)
               .withColumn("spans", F.expr("slice(spans, 1, 0)")))
    stats = upsert_docs(spark, updated, out, run_id="up-empty")
    assert stats["docs_updated"] == 1

    after = spark.read.parquet(f"{out}/spans")
    assert after.where(F.col("part_id") == target_part).count() == 0
    assert after.where(F.col("doc_id") == target_doc).count() == 0
    lin = spark.read.parquet(f"{out}/lineage")
    row = lin.where(F.col("part_id") == target_part).collect()
    assert len(row) == 1 and row[0].span_count == 0

    # resume over the upserted table is still a no-op (lineage complete)
    full_docs = (small.where(F.col("doc_id") != target_doc)
                 .unionByName(updated))
    stats2 = run_checkpointed(spark, full_docs, out, num_partitions=64,
                              run_id="noop")
    assert stats2["span_count"] == 0


def test_upsert_rejects_unsupported_lineage(spark, docs, tmp_path):
    """Upsert against an output whose lineage lacks num_partitions (e.g.
    the streaming sink's batch_id lineage) fails with a clear error, not
    an opaque AnalysisException (ADVICE r3)."""
    from pdf2dom_spark.pipeline import upsert_docs

    out = str(tmp_path / "badlin")
    spark.range(3).selectExpr("id as part_id", "id as batch_id") \
        .write.parquet(f"{out}/lineage")
    with pytest.raises(ValueError, match="num_partitions"):
        upsert_docs(spark, docs.limit(1), out, run_id="nope")


def test_upsert_lineage_swap_crash_recovery(spark, docs, tmp_path):
    """A crash between the lineage-swap renames must leave a recoverable
    table that the next run restores automatically (ADVICE r3: the old
    rmtree+move had a window that lost lineage entirely)."""
    import os
    import shutil

    from pdf2dom_spark.pipeline import upsert_docs

    small = docs.limit(20).localCheckpoint(eager=True)
    out = str(tmp_path / "swapcrash")
    run_checkpointed(spark, small, out, num_partitions=8, run_id="base")
    lin_dir = f"{out}/lineage"
    before = sorted(map(tuple, spark.read.parquet(lin_dir)
                        .select("part_id", "checksum").collect()))

    # simulate the between-renames crash state: live renamed aside to _old,
    # _new fully written (here: identical content), nothing at the live name
    shutil.copytree(lin_dir, lin_dir + "_new")
    os.rename(lin_dir, lin_dir + "_old")

    ids = [r.doc_id for r in small.select("doc_id").limit(3).collect()]
    updated = (small.where(F.col("doc_id").isin(ids))
               .withColumn("spans", F.reverse("spans")))
    stats = upsert_docs(spark, updated, out, run_id="recovered")
    assert stats["docs_updated"] == len(ids)
    assert not os.path.isdir(lin_dir + "_old")
    assert not os.path.isdir(lin_dir + "_new")
    after = sorted(map(tuple, spark.read.parquet(lin_dir)
                       .select("part_id", "checksum").collect()))
    assert {p for p, _ in after} == {p for p, _ in before}
