"""Physical-plan quality gates: pushdown, pruning, broadcast, codegen.

The 100 TB contract is about plan shape, not just answers: filters must reach
the parquet scan, projections must prune columns, small dims must broadcast,
and scalar pipelines must stay inside WholeStageCodegen."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_to_parquet(spark):
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    q = d.where(F.col("lang") == "en").select("doc_id")
    plan = _fmt(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_column_pruning_reaches_scan(spark):
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["token_count"](spark, SF_SMOKE)
    plan = _fmt(q)
    # only doc_id and text are read, not lang/source/n_chars
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" in scan and "lang" not in scan and "n_chars" not in scan


def test_corpus_builder_prunes_columns(spark):
    from pdf2dom_spark.corpus import build_docs_df
    docs = build_docs_df(spark, SF_SMOKE, mode="oracle")
    plan = _fmt(docs)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "lang" not in scan and "source" not in scan


def test_broadcast_join_used_for_dim(spark):
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["broadcast_dim_join"](spark, SF_SMOKE)
    assert "BroadcastHashJoin" in _plan(q)


def test_resume_anti_join_is_broadcast(spark, tmp_path):
    from pdf2dom_spark.corpus import build_docs_df
    from pdf2dom_spark.pipeline import with_part_id
    docs = build_docs_df(spark, SF_SMOKE, mode="oracle")
    done = spark.createDataFrame([(1,), (2,)], ["part_id"])
    pending = with_part_id(docs, 16).join(
        F.broadcast(done), "part_id", "left_anti")
    plan = _plan(pending)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_extraction_has_single_exchange(spark):
    """The extraction job's only shuffle is the salting repartition."""
    from pdf2dom_spark.corpus import build_docs_df
    from pdf2dom_spark.pipeline import extract_spans
    docs = build_docs_df(spark, SF_SMOKE, mode="oracle")
    spans = extract_spans(docs, num_partitions=8, nested=False)
    plan = _plan(spans)
    assert plan.count("Exchange") == 1, plan


def test_scalar_query_stays_in_codegen(spark):
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["color_hex"](spark, SF_SMOKE)
    s = spark._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "codegen")
    assert "Found 1 WholeStageCodegen subtrees" in s
    # higher-order-function query: not codegen-able, but still pure JVM
    q2 = all_queries()["quality_score"](spark, SF_SMOKE)
    plan2 = _plan(q2)
    assert "ArrowEvalPython" not in plan2 and "BatchEvalPython" not in plan2


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Co-located join via bucketing (SURVEY.md §4 'bucketing for co-located
    joins'): two tables bucketed on the same key join with zero Exchange."""
    import shutil

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    try:
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite").saveAsTable("orders_b")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite").saveAsTable("lineitem_b")
        j = spark.table("orders_b").join(
            spark.table("lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"))
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for t in ("orders_b", "lineitem_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)


def test_no_python_udf_outside_extraction(spark):
    """Every non-extraction query is built from JVM expressions only."""
    from pdf2dom_spark.queries import all_queries
    for name, fn in all_queries().items():
        if name.startswith(("extract_", "mm_", "render_")):
            continue  # Arrow-batch kernels (the designated Python UDFs)
        plan = _plan(fn(spark, SF_SMOKE))
        assert "EvalPython" not in plan, f"{name} uses a Python UDF"


def test_minhash_lsh_join_is_band_keyed(spark):
    """The banded candidate join must key on (band_id, band hash), never on
    a low-cardinality column like lang (VERDICT r1 'What's wrong' #2).
    Inspects the lazy builder: the public query fn eagerly checkpoints the
    (tiny) result to release the signature cache, which truncates the plan."""
    from pdf2dom_spark.textops import _minhash_lsh_build
    q, sig = _minhash_lsh_build(spark, SF_SMOKE)
    plan = _plan(q)
    sig.unpersist(blocking=False)
    assert "bh" in plan and "band_id" in plan
    join_lines = [ln for ln in plan.splitlines()
                  if "Join" in ln and "lang" in ln]
    assert not join_lines, join_lines


def test_embedding_dedup_join_is_bucket_keyed(spark):
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["dedup_embedding_cosine"](spark, SF_SMOKE)
    plan = _plan(q)
    assert "bucket" in plan
    join_lines = [ln for ln in plan.splitlines()
                  if "Join" in ln and "label" in ln]
    assert not join_lines, join_lines


def test_knn_lsh_no_exchange_on_embedding(spark):
    """Signatures are one projection: no shuffle keyed on the vector column
    (VERDICT r1 'What's wrong' #4)."""
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["knn_lsh"](spark, SF_SMOKE)
    plan = _plan(q)
    bad = [ln for ln in plan.splitlines()
           if "Exchange hashpartitioning" in ln and "embedding" in ln]
    assert not bad, bad


def test_html_main_content_is_narrow(spark):
    """Boilerplate strip must stay a pure narrow JVM map: no Exchange, no
    Python eval — the whole operator is higher-order array functions."""
    from pdf2dom_spark.htmlops import html_main_content
    plan = _plan(html_main_content(spark, SF_SMOKE))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert plan.lstrip().startswith("*(")  # whole-stage codegen root


def test_skew_salted_join_shape(spark):
    """The salted join must be a SortMergeJoin keyed on (k, salt) — the salt
    must reach the join keys (that's what splits hot keys across tasks) and
    no side may degrade to a broadcast."""
    from pdf2dom_spark.queries import all_queries
    df = all_queries()["skew_salted_join"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    join_line = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln][0]
    assert "salt" in join_line


def test_salt_spreads_hot_keys_across_partitions(spark):
    """Occupancy probe: hashing a 5-value hot key into 8 partitions leaves
    most empty and one task owns each hot key's full volume; adding the
    salt spreads every hot key near-uniformly."""
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        (F.col("user_id") % 5).alias("k"),
        F.pmod(F.xxhash64("event_id"), F.lit(8)).cast("int").alias("salt"))
    total = ev.count()

    unsalted = ev.repartition(8, "k").rdd.glom().map(len).collect()
    salted = ev.repartition(8, "k", "salt").rdd.glom().map(len).collect()
    # keyed-only: <=5 occupied partitions, the largest owns >=1/5 of rows
    assert sum(1 for n in unsalted if n > 0) <= 5
    assert max(unsalted) >= total / 5
    # salted: every partition occupied; the biggest task is strictly
    # smaller than any hot key's full volume (40 (k, salt) groups into 8
    # partitions still carries Poisson imbalance, so the bound is the
    # hot-key share, not uniformity)
    assert all(n > 0 for n in salted)
    assert max(salted) < max(unsalted)
    assert max(salted) <= total * 0.3


def test_paged_tail_window_only_over_monster_branch(spark):
    """The production paged shape: the sub-threshold branch must reach the
    sink with NO Window (its order is already global); exactly one Window
    exists in the whole plan — over the monster branch's spans only — and
    the source routing predicates reach the parquet scans."""
    from pdf2dom_spark.queries import all_queries

    df = all_queries()["extract_spans_paged_tail"](
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1
    # both branch predicates pushed to the source scans
    assert "PushedFilters" in plan


def test_paged_stress_single_window(spark):
    """min_bytes=0 (everything splits): the statically-empty small branch
    is elided — no union, one split kernel, one Window."""
    from pdf2dom_spark.corpus import build_docs_df
    from pdf2dom_spark.pagesplit import extract_spans_paged

    docs = build_docs_df(spark, "/root/testdata/sf0.001", mode="oracle",
                         num_partitions=8)
    df = extract_spans_paged(docs, num_partitions=8, pages_per_group=2,
                             min_bytes=0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1
    assert "Union" not in plan


def test_pdf_ingest_is_narrow(spark, tmp_path):
    """Real-PDF ingest: binaryFile scan -> ONE Python node, zero Exchange
    (parsing is embarrassingly parallel; the only shuffle in a full job is
    the extraction salt downstream)."""
    import os
    import shutil

    from pdf2dom_spark.pdfread import pdf_docs_df

    res = "/root/reference/src/test/resources"
    if not os.path.isdir(res):
        import pytest
        pytest.skip("reference fixtures not present")
    src = tmp_path / "pdfs"
    src.mkdir()
    shutil.copy(f"{res}/text-rendering-mode-fill.pdf", src)
    df = pdf_docs_df(spark, str(src))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1


def test_decontaminate_bench_side_is_broadcast(spark):
    """Decontamination joins the corpus shingles against the (small, fixed)
    benchmark shingle set via broadcast — no shuffle of the corpus side's
    exploded grams beyond the final per-doc aggregate."""
    from pdf2dom_spark.queries import all_queries

    df = all_queries()["decontaminate"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_and_quantize_are_narrow(spark):
    """Sliding-window chunking and int8 quantization are pure narrow
    map+generate pipelines: zero Exchange, zero Python."""
    from pdf2dom_spark.queries import all_queries

    for name in ("doc_chunk_windows", "embedding_quantize"):
        df = all_queries()[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, name
        assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, \
            name


def test_tpch_q3_pushdown_and_broadcast(spark):
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["tpch_q3_shipping"](spark, SF_SMOKE)
    fmt = _fmt(q)
    pushed = [ln for ln in fmt.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed)
    assert any("l_shipdate" in ln for ln in pushed)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan          # BUILDING customer keys
    assert "TakeOrderedAndProject" in plan      # top-10, no global sort


def test_tpch_q5_broadcasts_tiny_dims(spark):
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["tpch_q5_local_supplier"](spark, SF_SMOKE)
    plan = _plan(q)
    # nation and region both ride broadcast joins; the fact-side joins
    # stay shuffle joins (no accidental broadcast of customer/orders)
    assert plan.count("BroadcastHashJoin") >= 2
    fmt = _fmt(q)
    assert any("r_name" in ln for ln in fmt.splitlines()
               if "PushedFilters" in ln)


def test_tpch_q10_pushdown_and_broadcast(spark):
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["tpch_q10_returns"](spark, SF_SMOKE)
    fmt = _fmt(q)
    pushed = [ln for ln in fmt.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed)
    assert any("l_returnflag" in ln for ln in pushed)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan          # 25-row nation decoration
    assert "TakeOrderedAndProject" in plan      # top-20, no global sort


def test_tpch_q18_broadcasts_having_keys(spark):
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["tpch_q18_large_orders"](spark, SF_SMOKE)
    plan = _plan(q)
    # the HAVING-derived qualifying key set rides a broadcast back into
    # the fact; the orders/customer joins stay shuffle joins
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_paged_fused_split_is_single_python_stage(spark):
    """The stress gate's front half (synthesis+split) must be ONE
    MapInPandas fed by the scan with no Exchange before it — the
    source-fused shape; and the whole paged plan must cross Python
    exactly three times (gen+split, extract) ... i.e. exactly TWO
    MapInPandas nodes, one Exchange between them, one Window after."""
    from pdf2dom_spark.corpus import build_groups_df
    from pdf2dom_spark.extract import ExtractConfig
    from pdf2dom_spark.pagesplit import extract_groups

    groups = build_groups_df(spark, SF_SMOKE, mode="oracle",
                             pages_per_group=2, min_bytes=0,
                             num_partitions=8)
    flat = extract_groups(groups, ExtractConfig(), num_partitions=8)
    plan = _plan(flat)
    # gen+split is MapInPandas; the extract back half moved to MapInArrow
    # (r6: direct RecordBatch assembly) — still exactly TWO Python stages
    assert plan.count("MapInPandas") + plan.count("MapInArrow") == 2
    assert "Window" in plan
    # no Exchange between the scan and the fused gen+split kernel beyond
    # the deliberate source repartition; the group exchange keys on
    # (doc_id, grp) so sibling groups of one doc land on different tasks
    assert "xxhash64(doc_id#" in plan and "grp#" in plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Spark's runtime Bloom-filter injection is live for the engine's
    shuffle joins: a selective dim filter materializes a bloom_filter_agg
    on the build side and the fact scan gains a might_contain() pre-filter
    — at 100 TB this prunes fact rows BEFORE the exchange. (Broadcast
    joins don't need it — the hash set itself prunes — so the test pins
    the shuffle-join regime explicitly.)"""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = (spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
             .where(F.col("o_orderpriority") == "1-URGENT")
             .select("o_orderkey"))
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
            "l_orderkey", "l_quantity")
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = _plan(j)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_probe_side_is_narrow(spark):
    """bloom_filter_probe's probe side must stay a pure JVM projection:
    the 2 Kbit filter rides in as a broadcast literal, so the only
    Exchange in the whole query is the final per-priority aggregate and
    the only join is the gate-only broadcast truth join — no shuffle,
    no Python, no SMJ ever touches the probe rows."""
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["bloom_filter_probe"](spark, SF_SMOKE)
    plan = _plan(q)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_sample_reservoir_is_take_ordered(spark):
    """Exact-k reservoir sampling must run as TakeOrderedAndProject —
    per-partition k-heaps merged on the driver, O(k) memory at any
    corpus size — never a global Sort + Limit (which shuffles the
    world)."""
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["sample_reservoir"](spark, SF_SMOKE)
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "EvalPython" not in plan


def test_sample_weighted_shape(spark):
    """Weighted ticket sampling: bounded narrow explode, ONE combinable
    min-aggregate shuffle, top-k via TakeOrderedAndProject."""
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["sample_weighted"](spark, SF_SMOKE)
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_min" in plan  # map-side combine before the shuffle
    assert "EvalPython" not in plan


def test_dedup_bloom_apply_negative_branch_joinless(spark):
    """The Bloom-negative branch (the 100 TB majority) must be kept with
    ZERO join — four md5 bit probes against a broadcast literal; only
    the Bloom-positive sliver pays the (broadcast) anti-join, and no
    SortMergeJoin appears anywhere."""
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["dedup_bloom_apply"](spark, SF_SMOKE)
    plan = _plan(q)
    assert "SortMergeJoin" not in plan
    # exactly one join in the whole union: the positive-sliver anti-join
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "LeftAnti" in plan


def test_extract_spans_realfile_single_shuffle(spark):
    """The real-file chain keeps the flagship's plan: ONE Exchange of the
    compact (doc_id, text) rows, then ONE fused Python stage that
    writes the PDF bytes, re-parses, and extracts in the same worker
    call — no second Arrow round-trip, no post-kernel shuffle."""
    from pdf2dom_spark.queries import all_queries
    q = all_queries()["extract_spans_realfile"](spark, SF_SMOKE)
    plan = _plan(q)
    assert plan.count("Exchange") == 1, plan
    # the fused write+parse+extract kernel moved to MapInArrow (r6)
    assert plan.count("MapInPandas") + plan.count("MapInArrow") == 1, plan


def test_media_kernels_spread_before_python(spark):
    """A small-file parquet scan is ONE split; every media generator
    that feeds a Python kernel must salt-repartition first or the
    kernel runs serially (measured: mm_jpeg_dct_chain 5.75s -> 1.28s at
    sf0.1 from this fix alone)."""
    from pdf2dom_spark.queries import all_queries
    qs = all_queries()
    for name in ("mm_jpeg_dct_chain", "mm_png_decode", "mm_audio_energy",
                 "mm_decode_meta"):
        plan = _plan(qs[name](spark, SF_SMOKE))
        assert "Exchange hashpartitioning(xxhash64" in plan, (name, plan)
