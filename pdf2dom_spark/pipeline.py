"""Spark-level wiring: salted extraction, lineage, checkpoint-resume.

Scale design (the 10^12-doc / 1000-executor story, tested at local[32]):

- **One shuffle, total.** The only exchange in the whole job is the salted
  ``repartition(P, xxhash64(doc_id))`` that defuses skew from giant
  multi-page documents (BASELINE.json north_star). Extraction itself is a
  narrow ``mapInArrow``; the lineage aggregate is a
  partial-agg over the already-partitioned output, so AQE coalesces it
  cheaply. (Monster documents optionally fan out per page-group first —
  pagesplit.py.)
- **Deterministic partitioning.** ``part_id`` is a *column*
  (``pmod(xxhash64(doc_id), P)``), not the runtime partition index, so
  lineage/resume is stable across schedulers, cluster sizes, and retries.
- **Idempotent writes.** Output is written partitioned by ``part_id`` with
  dynamic partition overwrite: re-running a failed partition replaces exactly
  its own files (Iceberg overwrite-by-partition in production; parquet
  dynamic overwrite in this sandbox).
- **Resume = literal filter.** Lineage has at most P rows, read once to the
  driver (only when the table exists: a fresh output runs no failing read):
  pending work is ``docs.where(~part_id.isin(done))``, and the processed
  part ids come from an ``Observation`` on that same pass.
- **Lineage = one pruned aggregate + one append.** After the spans write,
  ``lineage`` over only this run's partitions (one exchange) is collected
  once; the driver zero-fills the processed partitions without spans,
  stamps ``run_id``/``completed_at``/``num_partitions`` and appends the at
  most P rows as one Arrow-backed file. ``run_checkpointed`` reports the
  wall seconds of the write and of this tail (``write_s``, ``lineage_s``).
- **Bounded Arrow batches.** Set
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (docs vary wildly in
  size); the kernel is O(tokens) per batch with numpy-vectorized glyph work.
"""

from __future__ import annotations

import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .extract import DEFAULT_CONFIG, ExtractConfig, make_extract_arrow
from .schema import SPAN_FLAT_SCHEMA, SPAN_SCHEMA


def with_part_id(docs: DataFrame, num_partitions: int) -> DataFrame:
    """Deterministic salt: pmod(xxhash64(doc_id), P) (SURVEY.md §4)."""
    return docs.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(num_partitions)).cast("int")
    )


def extract_spans(docs: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG,
                  num_partitions: int | None = None,
                  nested: bool = True,
                  presalted: bool = False) -> DataFrame:
    """documents -> ordered spans. The salted repartition is the only
    shuffle; extraction is narrow from there on.

    ``presalted=True``: the input is already hash-balanced on doc_id (e.g.
    the corpus builder repartitioned before synthesis) — extraction is
    per-document independent, so no second shuffle is needed; ``part_id``
    stays the deterministic column either way. This shuffles the small
    (doc_id, payload) rows once instead of re-shuffling them post-synthesis.

    ``nested=True`` returns SPAN_SCHEMA (one ``style`` struct);
    ``nested=False`` keeps the flat ``style_*`` columns (SPAN_FLAT_SCHEMA).
    Both run the one mapInArrow kernel (``extract.make_extract_arrow``).
    """
    spark = docs.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    salted = with_part_id(docs, p)
    if not presalted:
        # Shuffle on the raw 64-bit hash, not the p-valued part_id: hashing
        # only p distinct values into p partitions leaves ~37% of tasks empty
        # and piles 2-3 part_ids onto others (Poisson occupancy). The raw
        # hash balances by law of large numbers; part_id stays a
        # deterministic *column* for lineage/resume either way.
        salted = salted.repartition(p, F.xxhash64(F.col("doc_id")))
    kernel = make_extract_arrow(cfg)
    if not nested:
        return salted.mapInArrow(kernel, SPAN_FLAT_SCHEMA)
    # nested: the same flat kernel, its style_* arrays gathered into the
    # ``style`` struct in Arrow (zero-copy: the children are the arrays)
    schema = to_arrow_schema(SPAN_SCHEMA)
    style = schema.field("style").type

    def nest_style(batches):
        for b in kernel(batches):
            struct = pa.StructArray.from_arrays(
                [b.column(f"style_{f.name}") for f in style],
                fields=list(style))
            yield pa.RecordBatch.from_arrays(
                [struct if f.name == "style" else b.column(f.name)
                 for f in schema], schema=schema)

    return salted.mapInArrow(nest_style, SPAN_SCHEMA)


def lineage(spans: DataFrame) -> DataFrame:
    """Per-partition lineage + metrics rows (north rule): partition id, doc
    count, span count, per-kind breakdown, max document size, and an
    order-insensitive checksum. bit_xor keeps the checksum overflow-free
    and commutative, so it is insensitive to within-partition ordering.
    All metrics are map-side-combinable aggregates over the already-written
    partition — one exchange of at most P partial rows. ``doc_count``
    counts each doc's ``order == 0`` span: orders are dense from 0 per doc,
    so this equals countDistinct(doc_id) without its second exchange."""
    def kind_count(k: str):
        return F.sum((F.col("kind") == k).cast("long")).alias(f"n_{k}")

    return spans.groupBy("part_id").agg(
        F.count_if(F.col("order") == 0).alias("doc_count"),
        F.count(F.lit(1)).alias("span_count"),
        kind_count("text"), kind_count("page"), kind_count("rect"),
        kind_count("line"), kind_count("image"), kind_count("font"),
        kind_count("meta"),
        (F.max("order") + 1).alias("max_doc_spans"),
        F.bit_xor(
            F.xxhash64("doc_id", "order", "kind", "text", "media_ref")
        ).alias("checksum"),
    )


def _lineage_table(stats: DataFrame, parts: list[int], run_id: str,
                   num_partitions: int) -> pa.Table:
    """The lineage rows of ``parts``: one collect of the per-partition
    ``stats`` aggregate (``lineage``), zero-filled on the driver so a
    partition whose docs all extracted to zero spans still gets its row
    (checksum 0), and stamped with the run. The Arrow schema is the lineage
    table's: ``part_id`` nullable, every other column non-null;
    ``spark.createDataFrame`` of the result keeps it."""
    schema = to_arrow_schema(T.StructType(
        [T.StructField(f.name, f.dataType, f.name == "part_id")
         for f in stats.schema]
        + [T.StructField("run_id", T.StringType(), False),
           T.StructField("completed_at", T.TimestampType(), False),
           T.StructField("num_partitions", T.IntegerType(), False)]))
    got = {r.part_id: r.asDict() for r in stats.collect()}
    zero = dict.fromkeys(stats.columns, 0)
    stamp = {"run_id": run_id, "num_partitions": num_partitions,
             "completed_at": datetime.now(timezone.utc)}
    return pa.Table.from_pylist(
        [{**got.get(p, zero), "part_id": p, **stamp} for p in parts], schema)


class FailureInjection(Exception):
    pass


def _recover_lineage_swap(lineage_dir: str) -> None:
    """Self-heal a crash mid-way through upsert_docs' parquet lineage swap
    (write _new -> rename live aside to _old -> rename _new in -> rm _old).
    Every crash window leaves a complete copy under exactly one of the
    three names; prefer _new (it is fully written before any rename)."""
    import os
    import shutil

    if os.path.isdir(lineage_dir):
        # normal case — at worst a stale _old survived the final rmtree
        # crash window; it is superseded, drop it
        shutil.rmtree(lineage_dir + "_old", ignore_errors=True)
        return
    old, new = lineage_dir + "_old", lineage_dir + "_new"
    if os.path.isdir(old) and os.path.isdir(new):
        # crashed between the two renames: _new is the complete result
        os.rename(new, lineage_dir)
        shutil.rmtree(old)
    elif os.path.isdir(old):
        os.rename(old, lineage_dir)


def run_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    num_partitions: int = 32,
    run_id: str | None = None,
    fail_parts: set[int] | None = None,
    split_min_bytes: int | None = None,
    pages_per_group: int = 8,
) -> dict:
    """One checkpointed run: extract only partitions that have no lineage row
    yet, write them idempotently, append lineage. Returns run stats.

    ``fail_parts`` injects a failure for those part_ids (the partition's
    lineage row is withheld and its output discarded) to test resume.

    ``split_min_bytes`` (opt-in) routes extraction through the page-split
    path (pagesplit.extract_spans_paged): documents whose content streams
    exceed the threshold fan out per ``pages_per_group`` pages so one
    monster document cannot become one task's working set. The split path
    is bit-equal on the supported corpus classes (tests/test_pagesplit.py)
    and pays one extra per-document window renumber.
    """
    from . import tables

    run_id = run_id or uuid.uuid4().hex[:12]
    if tables.is_table_identifier(out_dir):
        # Iceberg catalog namespace: <out>_spans / <out>_lineage tables
        spans_dir = f"{out_dir}_spans"
        lineage_dir = f"{out_dir}_lineage"
    else:
        spans_dir = f"{out_dir}/spans"
        lineage_dir = f"{out_dir}/lineage"
        _recover_lineage_swap(lineage_dir)
    prior = None
    if tables.table_exists(spark, lineage_dir):
        try:
            prior = tables.read_table(spark, lineage_dir)
        except Exception:  # exists but unreadable -> nothing done
            pass
    # lineage holds at most P rows: read it ONCE for the salt modulus, the
    # done set and the cumulative totals
    prior = [] if prior is None else prior.select(*[
        c if c in prior.columns else F.lit(None).alias(c)
        for c in ("part_id", "span_count", "num_partitions")]).collect()

    stored = max((r.num_partitions for r in prior
                  if r.num_partitions is not None), default=None)
    if stored is not None and int(stored) != num_partitions:
        # part_id = pmod(xxhash64(doc_id), P): resuming with a different P
        # would remap every part_id, defeat the done filter, and double-write
        # already-extracted documents — so the salt modulus is pinned by the
        # first run's lineage and silently reused on resume.
        import warnings
        warnings.warn(
            f"resume: ignoring num_partitions={num_partitions}; the "
            f"salt modulus is pinned to {int(stored)} by this "
            "output's lineage", stacklevel=2)
        num_partitions = int(stored)

    done = {int(r.part_id) for r in prior}
    pending = with_part_id(docs, num_partitions)
    if done:
        pending = pending.where(~F.col("part_id").isin(sorted(done)))
    # the partitions this run is responsible for, observed during the write
    # upstream of the kernel: a partition whose docs all extract to zero
    # spans STILL gets a lineage row (else resume re-extracts it forever)
    obs = Observation()
    pending = pending.observe(obs, F.collect_set("part_id").alias("parts"),
                              F.count(F.lit(1)).alias("docs_in"))

    if split_min_bytes is not None:
        # monster-doc defense: page-group fan-out (does its own salting +
        # renumber; part_id is the same pmod(xxhash64) column either way)
        from .pagesplit import extract_spans_paged
        spans = extract_spans_paged(
            pending.drop("part_id"), cfg, num_partitions,
            pages_per_group=pages_per_group, min_bytes=split_min_bytes)
    else:
        # shuffle on the raw 64-bit hash (pmod into num_partitions values
        # leaves ~1/e of the extraction tasks empty — same Poisson-occupancy
        # fix as extract_spans above); part_id stays the deterministic COLUMN
        pending = pending.repartition(num_partitions, F.xxhash64("doc_id"))
        spans = pending.mapInArrow(make_extract_arrow(cfg),
                                   SPAN_FLAT_SCHEMA)
    if fail_parts:
        # simulate a mid-job crash: these partitions produce no output and
        # no lineage row this run
        spans = spans.filter(~F.col("part_id").isin(*fail_parts))

    t_write = time.perf_counter()
    tables.write_partitioned(spans, spans_dir, "part_id", spark)
    t_lineage = time.perf_counter()
    try:
        seen = obs.get
    except Py4JJavaError:
        # AQE swaps an all-empty pending stage for an empty relation, which
        # drops the observation with it: nothing was pending
        seen = {"parts": [], "docs_in": 0}
    processed = sorted(set(seen["parts"]) - set(fail_parts or ()))

    run_spans = 0
    if processed:
        # one aggregate over ONLY this run's partitions (a literal isin() on
        # the partition column prunes the scan: O(this run's output), never
        # O(cumulative table)); the at most P rows append as one file
        new_lineage = _lineage_table(
            lineage(tables.read_table(spark, spans_dir).where(
                F.col("part_id").isin(processed))),
            processed, run_id, num_partitions)
        tables.append_table(spark.createDataFrame(new_lineage).coalesce(1),
                            lineage_dir, spark)
        run_spans = pc.sum(new_lineage["span_count"]).as_py()

    # cumulative size from the P-row lineage (one row per done part_id),
    # NOT from a count() scan of the cumulative spans table
    return {
        "run_id": run_id,
        "parts_done": len(done | set(processed)),
        "span_count": run_spans,                      # THIS run's spans
        "total_span_count": run_spans + sum(
            int(r.span_count or 0) for r in prior),   # from lineage, O(P)
        "docs_in": int(seen["docs_in"]),              # observed, no pass
        "write_s": round(t_lineage - t_write, 3),
        "lineage_s": round(time.perf_counter() - t_lineage, 3),
    }


def compact_spans(spark: SparkSession, spans_dir: str,
                  files_per_partition: int = 1) -> dict:
    """Small-file compaction of the spans table (the maintenance job every
    long-lived ingest needs: each extraction task writes a file into every
    part_id dir it holds rows for, so a P-partition table accretes
    tasks x P files over many runs).

    Rewrites each ``part_id`` partition into exactly ``files_per_partition``
    files via one shuffle keyed on (part_id[, intra-partition salt]) +
    dynamic partition overwrite — content is bit-identical (same rows, same
    columns), so lineage checksums stay valid; only file layout changes.
    The input is eagerly materialized before the overwrite because source
    and target are the same location (lazy re-read during its own overwrite
    would race the delete). On Iceberg this maps to the
    rewrite_data_files maintenance procedure; the parquet path implements
    the same contract for the sandbox.
    """
    from . import tables

    spans = tables.read_table(spark, spans_dir)
    n_before = spans.rdd.getNumPartitions()
    spans = spans.localCheckpoint(eager=True)
    if files_per_partition <= 1:
        compacted = spans.repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
            F.col("part_id"))
    else:
        compacted = spans.repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
            * files_per_partition,
            F.col("part_id"),
            F.pmod(F.xxhash64("doc_id"), F.lit(files_per_partition)))
    tables.write_partitioned(compacted, spans_dir, "part_id", spark)
    return {"input_tasks": int(n_before)}


def upsert_docs(
    spark: SparkSession,
    updated_docs: DataFrame,
    out_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    run_id: str | None = None,
) -> dict:
    """Incremental re-extraction (the MERGE INTO of the spans table): given
    changed/new document versions, re-extract ONLY them and replace their
    spans in place.

    Dynamic partition overwrite replaces whole ``part_id`` partitions, and a
    partition holds unrelated documents too — so each affected partition is
    rebuilt as (existing spans minus updated doc_ids) UNION (fresh spans),
    then overwritten. Cost is O(affected partitions), never O(table): the
    read-back prunes on a literal part_id isin() (static partition
    pruning), and unaffected partitions' files are untouched. Lineage rows
    for the affected partitions are recomputed so checksums stay true.
    On Iceberg the same shape is a MERGE INTO with
    write.delete.mode=copy-on-write at partition granularity.
    """
    from . import tables

    run_id = run_id or uuid.uuid4().hex[:12]
    if tables.is_table_identifier(out_dir):
        spans_dir = f"{out_dir}_spans"
        lineage_dir = f"{out_dir}_lineage"
    else:
        spans_dir = f"{out_dir}/spans"
        lineage_dir = f"{out_dir}/lineage"
        _recover_lineage_swap(lineage_dir)
    prior = tables.read_table(spark, lineage_dir)
    if "num_partitions" not in prior.columns:
        raise ValueError(
            f"{lineage_dir} has no num_partitions column — this output was "
            "not created by a batch run_checkpointed run (streaming-sink "
            "lineage carries batch_id instead) and does not support upsert")
    # at most P rows: read once for the salt modulus and the survivors
    prior = prior.toArrow()
    stored = pc.max(prior["num_partitions"]).as_py()
    if stored is None:
        raise ValueError(
            f"{lineage_dir} has only null num_partitions values — cannot "
            "recover the salt modulus; this target does not support upsert")
    num_partitions = int(stored)

    salted = with_part_id(updated_docs, num_partitions)
    affected = [int(r.part_id) for r in
                salted.select("part_id").distinct().collect()]
    if not affected:
        return {"run_id": run_id, "parts_touched": 0, "docs_updated": 0}
    updated_ids = salted.select("doc_id").distinct()

    fresh = (salted.repartition(
        min(num_partitions, max(len(affected), 1)), F.xxhash64("doc_id"))
        .mapInArrow(make_extract_arrow(cfg), SPAN_FLAT_SCHEMA))
    existing = (tables.read_table(spark, spans_dir)
                .where(F.col("part_id").isin(affected)))
    kept = existing.join(F.broadcast(updated_ids), "doc_id", "left_anti")
    merged = kept.select(fresh.columns).unionByName(fresh)
    # one materialization: the overwrite deletes the very files `existing`
    # reads, and the lineage aggregate below must not re-run extraction
    merged = merged.localCheckpoint(eager=True)
    tables.write_partitioned(merged, spans_dir, "part_id", spark)

    # dynamic overwrite only touches partitions PRESENT in `merged`: an
    # affected partition whose every doc updated to a zero-span version
    # would keep its stale files on disk — delete those explicitly, and
    # give every affected partition a lineage row (zero row if empty) so
    # lineage and data stay consistent (ADVICE r3).
    present = {int(r.part_id) for r in
               merged.select("part_id").distinct().collect()}
    emptied = sorted(set(affected) - present)
    if emptied:
        if tables.is_table_identifier(out_dir):
            spark.sql(f"DELETE FROM {spans_dir} WHERE part_id IN "
                      f"({','.join(str(p) for p in emptied)})")
        else:
            import shutil
            for pid in emptied:
                shutil.rmtree(f"{spans_dir}/part_id={pid}",
                              ignore_errors=True)

    # replace the affected partitions' lineage rows (keep the rest): the
    # merged rows are built on the driver, in the lineage table's schema,
    # BEFORE touching the old files; write to a sibling dir, swap (Iceberg:
    # one MERGE commit does both)
    new_lineage = _lineage_table(lineage(merged), affected, run_id,
                                 num_partitions)
    survivors = prior.filter(pc.invert(pc.is_in(
        prior["part_id"], pa.array(affected, pa.int32()))))
    merged_lineage = spark.createDataFrame(pa.concat_tables([
        survivors.select(new_lineage.column_names).cast(new_lineage.schema),
        new_lineage])).coalesce(1)
    if tables.is_table_identifier(out_dir):
        # Iceberg: one atomic replace commit
        merged_lineage.writeTo(lineage_dir).createOrReplace()
    else:
        merged_lineage.write.mode("overwrite").parquet(lineage_dir + "_new")
        import os
        import shutil
        # rename the live table ASIDE first (never delete-then-move): a
        # crash at any step leaves a complete copy under lineage, _old or
        # _new — the rmtree+move it replaces had a window that lost the
        # whole table (ADVICE r3)
        old_dir = lineage_dir + "_old"
        shutil.rmtree(old_dir, ignore_errors=True)  # stale prior crash
        os.rename(lineage_dir, old_dir)
        os.rename(lineage_dir + "_new", lineage_dir)
        shutil.rmtree(old_dir)
    return {
        "run_id": run_id,
        "parts_touched": len(affected),
        "docs_updated": int(updated_ids.count()),
    }
