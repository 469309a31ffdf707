"""Deterministic sketch gates: KMV distinct estimation and the Bloom
membership prefilter — estimates value-hash-match DuckDB via pure
integer/md5 math (engine-internal HLL/approx sketches cannot be gated
this way). Split out of queries.py (VERDICT r4 #9)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .qshared import make_reg
from . import textops

REGISTRY: dict = {}
ORACLES: dict[str, str] = {}
_reg = make_reg(REGISTRY, ORACLES)


# KMV (k-minimum-values) distinct sketch — the "novel sketch" operator
# class, built to be CROSS-ENGINE EXACT: both engines hash with md5, take
# the k=64 lexicographically smallest hex digests per group (fixed-width
# hex ⇒ lexicographic = numeric order), and compute the classic estimator
# (k-1)/R(k) in pure 64-bit integer math — R(k) is the 52-bit prefix of
# the kth hash (52 bits so (k-1)·2^52 = 283726776524341248 fits a BIGINT
# exactly), divided with integer DIV on both sides. No float ever enters,
# so the ESTIMATE itself value-hash-matches DuckDB. Built-in HLL/approx
# sketches can't be gated this way (engine-specific internals). At scale:
# the gate also reports the exact count for comparison, which forces the
# full distinct; a production sketch-only variant is a combinable
# aggregate (per-partition 64-minima, merge = re-min) with no window.
@_reg("kmv_distinct_users", """
WITH h AS (
  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS hh FROM events
),
r AS (
  SELECT event_type, hh,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hh) AS rn
  FROM h
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(CASE WHEN COUNT(*) <= 64 THEN COUNT(*)
            ELSE 283726776524341248 //
                 GREATEST(CAST('0x' || substr(
                     MAX(CASE WHEN rn = 64 THEN hh END), 1, 13) AS BIGINT), 1)
            END AS BIGINT) AS kmv_estimate
FROM r GROUP BY event_type
""")
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = (spark.read.parquet(f"{sf_dir}/events.parquet")
         .select("event_type",
                 F.md5(F.col("user_id").cast("string")).alias("hh"))
         .distinct())
    w = Window.partitionBy("event_type").orderBy("hh")
    r = h.withColumn("rn", F.row_number().over(w))
    agg = (r.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_exact"),
                F.max(F.when(F.col("rn") == 64, F.col("hh"))).alias("kth")))
    kth52 = F.greatest(
        F.conv(F.substring("kth", 1, 13), 16, 10).cast("long"), F.lit(1))
    est = F.when(F.col("n_exact") <= 64, F.col("n_exact")).otherwise(
        F.expr("283726776524341248 DIV kth52"))
    return (agg.withColumn("kth52", kth52)
            .select("event_type",
                    F.col("n_exact").cast("long").alias("n_exact"),
                    est.cast("long").alias("kmv_estimate")))


# Bloom-filter membership probe — the approximate-membership sketch
# class, CROSS-ENGINE EXACT like kmv_distinct_users: both engines derive
# k=4 bit positions per key from md5 hex prefixes (32-bit integer mod
# m=2048; identical salt strings), so the filter's false positives are
# deterministic and the probe counts value-hash-match DuckDB. m=2048 is
# sized so the FP arm is LIVE at sf0.01 (~15% FP over non-member probes)
# — all three report columns exercise their semantics. 100 TB shape: the
# build side reduces to a DISTINCT of at most m=2048 positions (one small
# shuffle of the dim table), the materialized 2 Kbit filter rides into
# the probe as a broadcast literal, and every probe row is then a pure
# narrow JVM expression — zero join, zero shuffle, zero Python on the
# 10^12-row probe side; only the final tiny per-priority aggregate
# exchanges. The truth columns (gate-only) use a broadcast semi-join.
_BLOOM_M = 2048
_BLOOM_SQL = f"""
WITH build AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
bits AS (
  SELECT DISTINCT CAST('0x' || substr(md5('b' || CAST(i AS VARCHAR) || '|' ||
       CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % {_BLOOM_M} AS pos
  FROM build, (SELECT unnest([1,2,3,4]) AS i)
),
probe AS (
  SELECT o_orderkey, o_custkey, o_orderpriority,
    CAST('0x' || substr(md5('b' || CAST(i AS VARCHAR) || '|' ||
         CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT) % {_BLOOM_M} AS pos
  FROM orders, (SELECT unnest([1,2,3,4]) AS i)
),
hit AS (
  SELECT o_orderkey, o_custkey, o_orderpriority,
         COUNT(*) FILTER (WHERE pos IN (SELECT pos FROM bits)) = 4 AS maybe
  FROM probe GROUP BY 1, 2, 3
)
SELECT o_orderpriority AS priority,
  CAST(COUNT(*) FILTER (WHERE maybe) AS BIGINT) AS bloom_positive,
  CAST(COUNT(*) FILTER (WHERE o_custkey IN (SELECT c_custkey FROM build))
       AS BIGINT) AS true_positive,
  CAST(COUNT(*) FILTER (WHERE maybe AND o_custkey NOT IN
       (SELECT c_custkey FROM build)) AS BIGINT) AS false_positive
FROM hit GROUP BY 1
"""


def _bloom_pos(col, i: int):
    """md5('b<i>|<key>') -> 32-bit hex prefix -> position in [0, m)."""
    s = F.md5(F.concat(F.lit(f"b{i}|"), col.cast("string")))
    return F.conv(F.substring(s, 1, 8), 16, 10).cast("long") % _BLOOM_M


@_reg("bloom_filter_probe", _BLOOM_SQL)
def bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    build = (spark.read.parquet(f"{sf_dir}/customer.parquet")
             .where(F.col("c_mktsegment") == "BUILDING")
             .select("c_custkey"))
    # Build the filter: distinct positions (<= m rows after the combine),
    # then materialize the 2 Kbit bitset on the driver — this collect IS
    # the broadcast-variable step of a real Bloom build, O(m) regardless
    # of build-side cardinality, not a data collect.
    pos_rows = (build.select(F.explode(F.array(
                    *[_bloom_pos(F.col("c_custkey"), i) for i in (1, 2, 3, 4)]
                )).alias("pos"))
                .distinct().collect())
    bitset = ["0"] * _BLOOM_M
    for r in pos_rows:
        bitset[int(r["pos"])] = "1"
    bitstr = F.lit("".join(bitset))

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderpriority")
    maybe = None
    for i in (1, 2, 3, 4):
        hit = F.substring(
            bitstr, (_bloom_pos(F.col("o_custkey"), i) + 1).cast("int"),
            1) == "1"
        maybe = hit if maybe is None else (maybe & hit)
    truth = build.withColumn("in_build", F.lit(True))
    probed = (orders.withColumn("maybe", maybe)
              .join(F.broadcast(truth),
                    orders.o_custkey == truth.c_custkey, "left")
              .withColumn("in_build", F.coalesce("in_build", F.lit(False))))
    return (probed.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.sum(F.when(F.col("maybe"), 1).otherwise(0))
                 .cast("long").alias("bloom_positive"),
                 F.sum(F.when(F.col("in_build"), 1).otherwise(0))
                 .cast("long").alias("true_positive"),
                 F.sum(F.when(F.col("maybe") & ~F.col("in_build"), 1)
                       .otherwise(0)).cast("long").alias("false_positive")))




# ---------------------------------------------------------------------------
# Bloom-backed dedup APPLY (VERDICT r4 "Next" #6): the production shape
# for subtracting a keeper list from a corpus WITHOUT shuffling the
# corpus. Composes bloom_filter_probe's bitset with corpus_dedup_apply's
# drop-list: the tiny non-keeper list (near-dup cluster members that are
# not their component minimum) builds a 2 Kbit Bloom bitset broadcast as
# a literal; every corpus row probes it with 4 narrow JVM md5 positions.
# Bloom-NEGATIVE rows (the overwhelming majority) are kept with ZERO join
# — a definite "not in the drop list". Only the Bloom-POSITIVE sliver
# takes the exact broadcast anti-join, which removes true drops and
# rescues false positives. Result is EXACTLY corpus_dedup_apply's output
# (same oracle SQL), via a plan whose per-row cost on the 100 TB side is
# four hash expressions. Plan-gated: the negative branch has no join at
# all (tests/test_plans.py).
# ---------------------------------------------------------------------------

@_reg("dedup_bloom_apply", textops.ORACLES["corpus_dedup_apply"])
def dedup_bloom_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import _docs, dedup_cluster

    clusters = dedup_cluster(spark, sf_dir)
    drop = clusters.where(~F.col("is_keeper")).select("doc_id")

    # build: O(m)-bounded collect of DISTINCT bit positions (the
    # broadcast-variable step of a real Bloom build, not a data collect)
    pos_rows = (drop.select(F.explode(F.array(
                    *[_bloom_pos(F.col("doc_id"), i) for i in (1, 2, 3, 4)]
                )).alias("pos"))
                .distinct().collect())
    bitset = ["0"] * _BLOOM_M
    for r in pos_rows:
        bitset[int(r["pos"])] = "1"
    bitstr = F.lit("".join(bitset))

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        F.md5("text").alias("text_hash"))
    maybe = None
    for i in (1, 2, 3, 4):
        hit = F.substring(
            bitstr, (_bloom_pos(F.col("doc_id"), i) + 1).cast("int"),
            1) == "1"
        maybe = hit if maybe is None else (maybe & hit)
    d = d.withColumn("maybe", maybe)
    # negative branch: definite keepers, no join anywhere
    keep_fast = d.where(~F.col("maybe")).drop("maybe")
    # positive sliver: exact verification against the broadcast drop list
    keep_checked = (d.where(F.col("maybe")).drop("maybe")
                    .join(F.broadcast(drop), "doc_id", "left_anti"))
    return keep_fast.unionByName(keep_checked)
