"""Scale-path operator battery: the plan shapes that keep working at 100 TB.

Three families the reference has no analog of but any cluster-scale
deployment needs, each registered with a full DuckDB value-hash oracle:

1. ``j_interval_overlap_bucketed`` — interval overlap join executed as a
   bucketed EQUI-join (operators/relational.py:interval_overlap_join)
   instead of the nested-loop theta join the naive formulation forces.
   The oracle IS the naive theta join, so the optimization is proven
   result-identical.
2. ``a_heavy_hitters_cms`` — a Count-Min sketch built entirely from
   deterministic md5 hashing: d×w counters as a groupBy aggregate (fixed
   memory, map-side combinable, mergeable — the only viable heavy-hitter
   shape when the key space doesn't fit anywhere). Because the hash is
   counter-based, DuckDB rebuilds the identical sketch and the ESTIMATES
   value-hash-match, not just the exact counts.
3. ``j_bloom_runtime_filter`` — a selective dim joined to the fact where
   Spark's runtime bloom-filter injection (the engine-level analog of the
   reference's skip-list prefilters) prunes fact rows before the shuffle;
   tests/test_plans.py pins the BloomFilterMightContain injection under
   cluster-scale thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nzgmdb_spark.operators.relational import interval_overlap_join
from nzgmdb_spark.queries.registry import register
from nzgmdb_spark.tables import tbl

# ---------------------------------------------------------------------------
# Interval overlap join: click activity windows (15 min) × purchase windows
# (5 min). No equi key exists, so a naive plan is a cartesian; the bucketed
# operator makes it a hash join on floor(time/W).

_CLICK_US = 900 * 1_000_000  # 15-min click activity window, microseconds
_PURCHASE_US = 300 * 1_000_000  # 5-min purchase window
_BUCKET_US = 900 * 1_000_000  # bucket width ≥ typical interval length

INTERVAL_OVERLAP_SQL = f"""
WITH l AS (
  SELECT event_id, epoch_us(ts) AS start, epoch_us(ts) + {_CLICK_US} AS "end"
  FROM events WHERE event_type = 'click'
),
r AS (
  SELECT event_id, epoch_us(ts) AS start, epoch_us(ts) + {_PURCHASE_US} AS "end"
  FROM events WHERE event_type = 'purchase'
)
SELECT l.event_id AS click_id,
       r.event_id AS purchase_id,
       GREATEST(l.start, r.start) AS ov_start,
       LEAST(l."end", r."end") AS ov_end
FROM l JOIN r ON l.start <= r."end" AND r.start <= l."end"
"""


@register(
    "j_interval_overlap_bucketed",
    sql=INTERVAL_OVERLAP_SQL,
    survey=["J16", "F8"],
)
def j_interval_overlap_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval overlap join; oracle is the naive theta join.

    Reference analog: window-membership checks (aftershocks.py eligibility
    windows); generalized here to arbitrary interval sets. unix_micros /
    epoch_us keep both engines in exact integer microseconds.
    """
    e = tbl(spark, sf_dir, "events").select(
        "event_id", F.unix_micros(F.col("ts")).alias("start"), "event_type"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .withColumn("end", F.col("start") + F.lit(_CLICK_US))
        .drop("event_type")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .withColumn("end", F.col("start") + F.lit(_PURCHASE_US))
        .drop("event_type")
    )
    pairs = interval_overlap_join(clicks, purchases, bucket_width=_BUCKET_US)
    return pairs.select(
        F.col("event_id_l").alias("click_id"),
        F.col("event_id_r").alias("purchase_id"),
        F.greatest("start_l", "start_r").alias("ov_start"),
        F.least("end_l", "end_r").alias("ov_end"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters. d=4 hash rows × w=512 buckets over the
# document token stream; estimates for the exact top-20 tokens come out of
# the sketch alone. Deterministic md5 bucketing → DuckDB rebuilds the
# identical counters, so cms_estimate is value-hash-checked, and the CMS
# no-underestimate guarantee is asserted as a boolean column.

_CMS_D = 4
_CMS_W = 512


def _bucket_spark(row: int) -> F.Column:
    h = F.md5(F.concat(F.lit(f"cms{row}:"), F.col("tok")).cast("binary"))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _CMS_W
    ).alias("bucket")


def _bucket_sql(row: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('cms{row}:' || tok), 1, 8)) AS BIGINT) "
        f"% {_CMS_W}"
    )


HEAVY_HITTERS_SQL = f"""
WITH toks AS (
  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
),
rows AS (SELECT UNNEST(generate_series(0, {_CMS_D - 1})) AS r),
counters AS (
  SELECT r,
         CASE r {" ".join(f"WHEN {i} THEN {_bucket_sql(i)}" for i in range(_CMS_D))} END
           AS bucket,
         count(*) AS c
  FROM toks, rows
  GROUP BY 1, 2
),
top AS (
  SELECT tok, count(*) AS n_exact
  FROM toks GROUP BY tok ORDER BY n_exact DESC, tok LIMIT 20
),
probes AS (
  SELECT tok, n_exact, r,
         CASE r {" ".join(f"WHEN {i} THEN {_bucket_sql(i)}" for i in range(_CMS_D))} END
           AS bucket
  FROM top, rows
)
SELECT p.tok, p.n_exact, min(c.c) AS cms_estimate,
       min(c.c) >= p.n_exact AS never_underestimates
FROM probes p JOIN counters c ON p.r = c.r AND p.bucket = c.bucket
GROUP BY p.tok, p.n_exact
"""


@register("a_heavy_hitters_cms", sql=HEAVY_HITTERS_SQL, survey=["A8", "O3"])
def a_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters, estimates value-hash-checked.

    Plan: one token explode, a ×d row explode into the (r, bucket) counter
    aggregate (map-side combinable — the sketch itself), an exact top-20
    (the verification side), and a broadcast probe join back into the
    counters. At 100 TB the counter table is d·w rows regardless of corpus
    size; only the exact-count verification side scales with data, and in
    production that side is dropped — the sketch alone answers the query.
    """
    toks = tbl(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(_CMS_D)])
    ).alias("r")
    bucket = None
    for i in range(_CMS_D):
        b = _bucket_spark(i)
        bucket = F.when(F.col("r") == i, b) if bucket is None else bucket.when(
            F.col("r") == i, b
        )
    counters = (
        toks.select("tok", rows)
        .select("r", bucket.alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("tok"))
        .limit(20)
    )
    probes = top.select("tok", "n_exact", rows).select(
        "tok", "n_exact", "r", bucket.alias("bucket")
    )
    return (
        F.broadcast(probes)
        .join(counters, ["r", "bucket"])
        .groupBy("tok", "n_exact")
        .agg(
            F.min("c").alias("cms_estimate"),
            (F.min("c") >= F.first("n_exact")).alias("never_underestimates"),
        )
    )


# ---------------------------------------------------------------------------
# Runtime bloom-filter join: a selective dim (low-priority urgent orders)
# joined to the fact. At bench scale Catalyst broadcasts the dim; at 100 TB
# with both sides shuffling, Spark's runtime bloom filter builds a compact
# bitmap from the dim's join keys and prunes fact rows BEFORE the exchange
# — the engine-level analog of the reference's skip-record prefilters
# (quality_db.py skip lists). tests/test_plans.py forces the shuffle-join
# regime and pins the BloomFilterMightContain injection.

BLOOM_JOIN_SQL = """
SELECT o.o_orderpriority,
       count(*) AS n_items,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38, 6))) AS DOUBLE)
         AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 400000.0
GROUP BY o.o_orderpriority
"""


@register("j_bloom_runtime_filter", sql=BLOOM_JOIN_SQL, survey=["J6", "P7"])
def j_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nzgmdb_spark.functions import dsum

    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 400000.0)
    )
    li = tbl(spark, sf_dir, "lineitem")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice", "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# File-stats data skipping: stage the events table write-clustered on time
# (repartitionByRange + sortWithinPartitions — the Z-order/liquid-cluster
# layout discipline), build the per-file min/max stats table, and answer a
# 3-day range query by scanning ONLY the files whose range intersects —
# the Delta/Iceberg skipping mechanism rebuilt engine-side. The residual
# predicate keeps correctness independent of the stats, and the oracle is
# the plain unpruned filter, so the hash match proves pruning lost nothing.

_SKIP_N_FILES = 12
_SKIP_LO = 1704844800000000  # 2024-01-10T00:00:00Z, microseconds
_SKIP_HI = 1705103999999999  # 2024-01-13 exclusive


def _staged_clustered_events(spark: SparkSession, sf_dir: str) -> str:
    import os

    key = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/nzgmdb_spark_io/{key}/events_clustered"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from nzgmdb_spark.operators.skipping import write_clustered

        e = tbl(spark, sf_dir, "events").select(
            "event_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "event_type",
            "value",
        )
        write_clustered(e, path, "ts_us", _SKIP_N_FILES)
    return path


STATS_PRUNED_SQL = f"""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(38, 6))) AS DOUBLE) AS sum_value
FROM events
WHERE epoch_us(ts) BETWEEN {_SKIP_LO} AND {_SKIP_HI}
GROUP BY event_type
"""


@register("s_stats_pruned_scan", sql=STATS_PRUNED_SQL, survey=["S14", "P1"])
def s_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nzgmdb_spark.functions import dsum
    from nzgmdb_spark.operators.skipping import collect_file_stats, pruned_scan

    path = _staged_clustered_events(spark, sf_dir)
    stats = collect_file_stats(spark, path, ["ts_us"])
    picked = pruned_scan(spark, stats, "ts_us", _SKIP_LO, _SKIP_HI)
    return picked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value"),
    )


# ---------------------------------------------------------------------------
# Table profiling: the ANALYZE pass a warehouse runs over a new data drop.
# One scan computes every column's stats (operators/profile.py); the HLL
# sketch is asserted within 5% of the exact distinct count (deterministic
# for fixed input — same contract as queries/sketches.py).

_PROFILE_NUM = ["o_orderkey", "o_custkey", "o_totalprice"]
_PROFILE_STR = ["o_orderstatus", "o_orderpriority"]


def _profile_col_sql(c: str, is_num: bool) -> str:
    minmax = (
        f"CAST(min({c}) AS DOUBLE) AS min_num, CAST(max({c}) AS DOUBLE) AS max_num, "
        "CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
        if is_num
        else "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, "
        f"min({c}) AS min_str, max({c}) AS max_str"
    )
    return f"""
  SELECT '{c}' AS column, count(*) AS n_rows,
         count(*) - count({c}) AS n_nulls,
         count(DISTINCT {c}) AS n_distinct, {minmax},
         TRUE AS approx_within_bound
  FROM orders"""


TABLE_PROFILE_SQL = " UNION ALL ".join(
    [_profile_col_sql(c, True) for c in _PROFILE_NUM]
    + [_profile_col_sql(c, False) for c in _PROFILE_STR]
)


@register("a_table_profile", sql=TABLE_PROFILE_SQL, survey=["A2", "A5"])
def a_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nzgmdb_spark.operators.profile import profile_table

    return profile_table(
        tbl(spark, sf_dir, "orders"),
        numeric_cols=_PROFILE_NUM,
        string_cols=_PROFILE_STR,
    )


# ---------------------------------------------------------------------------
# Incremental-rollup materialized view as a registered query: the events
# table arrives as two batches (event_id parity split), each folded into
# the persisted MV by the streaming sink body; the result read back from
# the MV must hash-match the direct one-shot aggregate — maintenance
# equals recomputation, which is the MV contract.

MV_ROLLUP_SQL = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(38, 6))) AS DOUBLE) AS total
FROM events
GROUP BY event_type
"""


@register("t_incremental_rollup_mv", sql=MV_ROLLUP_SQL, survey=["T4", "A2"])
def t_incremental_rollup_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from nzgmdb_spark.streaming.events import incremental_rollup_sink

    key = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    mv_path = f"/tmp/nzgmdb_spark_io/{key}/rollup_mv"
    # Deterministic rebuild per run: MV maintenance is the thing under
    # test, so fold the two batches fresh every time.
    if os.path.isdir(mv_path):
        shutil.rmtree(mv_path)
    e = tbl(spark, sf_dir, "events").select("event_id", "event_type", "value")
    sink = incremental_rollup_sink(mv_path)
    sink(e.filter(F.col("event_id") % 2 == 0), 0)
    sink(e.filter(F.col("event_id") % 2 == 1), 1)
    sink(e.filter(F.col("event_id") % 2 == 1), 1)  # replay: must be no-op
    mv = spark.read.parquet(mv_path)
    return mv.select(
        "event_type",
        F.col("n"),
        F.col("s").cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# Compaction round-trip as a registered query: stage the events table as
# 32 tiny shards (the streaming-sink pathology), compact to one file, and
# aggregate the compacted table — hash-identical to aggregating the
# original, proving compaction is layout-only.

COMPACT_SQL = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(38, 6))) AS DOUBLE) AS total
FROM events
GROUP BY event_type
"""


@register("s_compact_roundtrip", sql=COMPACT_SQL, survey=["S14", "S10"])
def s_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nzgmdb_spark.sources.files import compact_parquet

    key = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/nzgmdb_spark_io/{key}/events_fragmented"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            tbl(spark, sf_dir, "events")
            .select("event_id", "event_type", "value")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(path)
        )
        compact_parquet(spark, path, target_file_bytes=1 << 30)
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total"),
    )
