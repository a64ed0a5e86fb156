"""Similarity search over the embeddings table (BASELINE.json north star):
brute-force cosine top-k baseline plus an LSH-bucketed approximate variant.

Scale design: embeddings are posexploded to (id, dim, val) long form and
dot products become an equi-join + aggregation — the layout that shards
across executors for 100 TB corpora (the query side is tiny and broadcast).
Determinism: per-dimension products are computed in double then cast to
DECIMAL(38,12) before summation, making the reduction order irrelevant and
results bit-identical to the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nzgmdb_spark.functions import pround
from nzgmdb_spark.operators.partitioning import spread
from nzgmdb_spark.operators.topk import grouped_topk
from nzgmdb_spark.queries.registry import register
from nzgmdb_spark.session import memo
from nzgmdb_spark.tables import tbl

_N_QUERIES = 5  # query set: vec_id < 5
_TOP_K = 10

# Long-form norm: sqrt of exact decimal sum of squares.
_NORMS_CTE = """
dims AS (
  SELECT vec_id, g.i AS dim, CAST(embedding[g.i + 1] AS DOUBLE) AS v
  FROM embeddings, UNNEST(generate_series(0, len(embedding) - 1)) AS g(i)
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
  FROM dims GROUP BY vec_id
)
"""

KNN_SQL = f"""
WITH {_NORMS_CTE},
qdims AS (SELECT vec_id AS q_id, dim, v AS qv FROM dims WHERE vec_id < {_N_QUERIES}),
dots AS (
  SELECT q.q_id, d.vec_id AS c_id,
         CAST(sum(CAST(q.qv * d.v AS DECIMAL(38,12))) AS DOUBLE) AS dot
  FROM qdims q JOIN dims d ON q.dim = d.dim
  WHERE q.q_id <> d.vec_id
  GROUP BY q.q_id, d.vec_id
)
SELECT q_id, c_id AS vec_id, dot / (nq.nrm * nv.nrm) AS cosine
FROM dots
JOIN norms nq ON nq.vec_id = q_id
JOIN norms nv ON nv.vec_id = c_id
QUALIFY row_number() OVER (
  PARTITION BY q_id ORDER BY dot / (nq.nrm * nv.nrm) DESC, c_id
) <= {_TOP_K}
"""


def _dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "embeddings")
    # Single-file parquet = one partition; spread the (cheap, narrow)
    # vector rows BEFORE the 64× explode so every downstream join/agg
    # stage — assignment joins especially — runs on all cores instead of
    # serializing the exploded long form on one. Width is derived from
    # the input footprint with a 16x growth factor for the explode
    # (operators/partitioning.spread), not a hard-coded core constant.
    e = spread(e, growth=16.0)
    return e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "fv")
    ).select("vec_id", "dim", F.col("fv").cast("double").alias("v"))


def _norms(dims: DataFrame) -> DataFrame:
    return dims.groupBy("vec_id").agg(
        F.sqrt(
            F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)")).cast("double")
        ).alias("nrm")
    )


# Decimal ladder for zip_with/aggregate folds: terms at (20,12) and the
# accumulator at (32,12) keep every fold-step addition inside precision 38.
# At (38,12)+(38,12) Spark exceeds the cap, drops to scale 11, and rounds
# every step — ~1e-10 drift over 64 adds vs the oracle's exact sum.
_DEC_TERM = "decimal(20,12)"
_DEC_ACC = "decimal(32,12)"


def _wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings in wide form with an exact-decimal L2 norm per vector."""
    e = tbl(spark, sf_dir, "embeddings")
    # Single-file parquet reads as ONE partition → the decimal dot-product
    # stage would serialize on one core. The repartition spreads rows AND
    # acts as the materialization barrier for the cast vector column;
    # width tracks the input footprint (operators/partitioning.spread)
    # instead of a hard-coded core constant.
    e = spread(e)
    e = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return e.withColumn("nrm", _wide_norm_col())


def _wide_norm_col() -> Column:
    """Exact-decimal L2 norm of the wide ``v`` column (same fold ladder
    as _wide_dot, so Spark and DuckDB agree bit-for-bit)."""
    return F.sqrt(
        F.aggregate(
            F.transform(F.col("v"), lambda x: (x * x).cast(_DEC_TERM)),
            F.lit(0).cast(_DEC_ACC),
            lambda acc, x: (acc + x).cast(_DEC_ACC),
        ).cast("double")
    )


def _wide_dot(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast(_DEC_TERM)),
        F.lit(0).cast(_DEC_ACC),
        lambda acc, x: (acc + x).cast(_DEC_ACC),
    ).cast("double")


@register("knn_cosine_bruteforce", sql=KNN_SQL, survey=["J14", "A2"])
def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Wide-form plan: ONE broadcast nested-loop join (tiny query set ×
    # corpus) with the dot product folded per-row in DECIMAL — no
    # posexplode, no shuffle over (dim, value) rows. The corpus side
    # streams through in a single narrow pass, which is the shape that
    # scales to 100 TB; the decimal fold makes the result bit-identical
    # to the oracle's long-form exact sum (same scale-12 terms).
    e = _wide(spark, sf_dir)
    q = e.select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    ).filter(F.col("q_id") < _N_QUERIES)
    scored = (
        e.join(F.broadcast(q), F.col("q_id") != F.col("vec_id"))
        .withColumn("cosine", _wide_dot("qv", "v") / (F.col("q_nrm") * F.col("nrm")))
    )
    return grouped_topk(
        scored, "q_id", "cosine", "vec_id", _TOP_K
    ).select("q_id", "vec_id", "cosine")


# --- LSH-bucketed ANN: 16 deterministic hyperplanes whose components are
# md5-derived integers in [-7.5, 7.5] (portable pseudo-randomness — no RNG,
# SURVEY §7.3-4 seeding convention). BANDED OR-construction (the MinHash-LSH
# banding trick applied to hyperplane signatures): _N_BANDS independent
# bands of _PLANES_PER_BAND planes each; a corpus vector is a candidate if
# it matches the query's sign pattern in ANY band. Single-signature LSH is
# useless on weak-similarity corpora (per-plane agree probability for a
# cos-0.3 neighbor is ~0.6, so an 8-plane exact match fires ~2% of the
# time — measured recall@10 was 0.0 on the isotropic test embeddings);
# banding turns the same planes into a tunable recall/cost dial:
# 4 bands x 4 planes gives ~0.4 recall@10 while scoring ~1/5 of the
# corpus (recall floor pinned in tests/test_properties.py). Candidate
# generation stays an equi-join on (band, bucket) — never all-pairs.

_N_PLANES = 16
_N_BANDS = 4
_PLANES_PER_BAND = _N_PLANES // _N_BANDS

_PLANES_CTE = f"""
planes AS (
  SELECT p.j AS plane, g.i AS dim,
         CAST(strpos('0123456789abcdef',
                     substr(md5(p.j || '_' || g.i), 1, 1)) - 8.5 AS DOUBLE) AS w
  FROM UNNEST(generate_series(0, {_N_PLANES - 1})) AS p(j),
       UNNEST(generate_series(0, 63)) AS g(i)
),
projs AS (
  SELECT d.vec_id, pl.plane,
         CAST(sum(CAST(d.v * pl.w AS DECIMAL(38,12))) AS DOUBLE) AS proj
  FROM dims d JOIN planes pl ON d.dim = pl.dim
  GROUP BY d.vec_id, pl.plane
),
buckets AS (
  SELECT vec_id, plane // {_PLANES_PER_BAND} AS band,
         string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, ''
                    ORDER BY plane) AS bucket
  FROM projs GROUP BY vec_id, plane // {_PLANES_PER_BAND}
)
"""

ANN_SQL = f"""
WITH {_NORMS_CTE},
{_PLANES_CTE},
qb AS (SELECT vec_id AS q_id, band, bucket FROM buckets WHERE vec_id < {_N_QUERIES}),
cand AS (
  SELECT DISTINCT qb.q_id, b.vec_id
  FROM qb JOIN buckets b
    ON qb.band = b.band AND qb.bucket = b.bucket AND b.vec_id <> qb.q_id
),
qdims AS (SELECT vec_id AS q_id, dim, v AS qv FROM dims WHERE vec_id < {_N_QUERIES}),
dots AS (
  SELECT c.q_id, c.vec_id AS c_id,
         CAST(sum(CAST(q.qv * d.v AS DECIMAL(38,12))) AS DOUBLE) AS dot
  FROM cand c
  JOIN qdims q ON q.q_id = c.q_id
  JOIN dims d ON d.vec_id = c.vec_id AND d.dim = q.dim
  GROUP BY c.q_id, c.vec_id
)
SELECT q_id, c_id AS vec_id, dot / (nq.nrm * nv.nrm) AS cosine
FROM dots
JOIN norms nq ON nq.vec_id = q_id
JOIN norms nv ON nv.vec_id = c_id
QUALIFY row_number() OVER (
  PARTITION BY q_id ORDER BY dot / (nq.nrm * nv.nrm) DESC, c_id
) <= {_TOP_K}
"""


@register("ann_lsh_hyperplane", sql=ANN_SQL, survey=["J14", "J15"])
def ann_lsh_hyperplane(
    spark: SparkSession, sf_dir: str, n_bands: int = _N_BANDS
) -> DataFrame:
    """n_bands is the recall/cost dial (more bands of fewer planes =
    higher recall, more candidates); the registered default and the SQL
    oracle stay at _N_BANDS — other values exist for the recall-curve
    measurement (tools/gen_ann_recall_curve.py)."""
    planes_per_band = _N_PLANES // n_bands
    dims = _dims(spark, sf_dir)
    norms = _norms(dims)
    planes = (
        spark.range(_N_PLANES)
        .select(F.col("id").cast("int").alias("plane"))
        .crossJoin(spark.range(64).select(F.col("id").cast("int").alias("dim")))
        .select(
            "plane",
            "dim",
            (
                F.expr(
                    "CAST(conv(substring(md5(CAST(concat(plane, '_', dim) AS BINARY)), 1, 1), 16, 10) AS DOUBLE) - 7.5"
                )
            ).alias("w"),
        )
    )
    projs = (
        dims.join(F.broadcast(planes), "dim")
        .groupBy("vec_id", "plane")
        .agg(
            F.sum((F.col("v") * F.col("w")).cast("decimal(38,12)"))
            .cast("double")
            .alias("proj")
        )
    )
    buckets = (
        projs.groupBy(
            "vec_id",
            (F.col("plane") / F.lit(planes_per_band)).cast("int").alias("band"),
        )
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("plane", "proj"))
                    ),
                    lambda s: F.when(s.proj >= 0, "1").otherwise("0"),
                ),
            ).alias("bucket")
        )
    )
    qb = buckets.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("band").alias("q_band"),
        F.col("bucket").alias("q_bucket"),
    )
    # OR-construction: a candidate matches in ANY band — distinct collapses
    # multi-band collisions so each pair is scored exactly once
    cand = (
        F.broadcast(qb)
        .join(
            buckets,
            (F.col("q_band") == F.col("band"))
            & (F.col("q_bucket") == F.col("bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id")
        .distinct()
    )
    # Scoring in WIDE form (the kNN/IVF shape): candidates join the wide
    # vectors once and fold the dot product per-row in DECIMAL. The old
    # long-form path re-exploded every candidate x 64 (dim, value) rows
    # through a shuffle + aggregation — measured 7.1 s at sf1; wide-form
    # is one narrow join + a map-side fold. The (20,12)/(32,12) fold
    # ladder is exact at scale 12, identical to the oracle's long-form
    # decimal sum (same guarantee knn_cosine_bruteforce relies on).
    e = _wide(spark, sf_dir)
    qw = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        cand.join(e, "vec_id")
        .join(F.broadcast(qw), "q_id")
        .withColumn(
            "cosine", _wide_dot("qv", "v") / (F.col("q_nrm") * F.col("nrm"))
        )
    )
    return grouped_topk(
        scored, "q_id", "cosine", "vec_id", _TOP_K
    ).select("q_id", "vec_id", "cosine")


# --- IVF (inverted-file) ANN: the scale path for similarity search.
# A real IVF index trains its centroid codebook with k-means; here the
# codebook is a deterministic seed subset of the corpus (vec_ids
# _N_QUERIES.._N_QUERIES+_N_CENTROIDS-1) so the whole operator stays
# oracle-checkable (SURVEY §7.3-4 determinism convention). The plan shape
# is the 100 TB artifact: the codebook is broadcast (map-side cell
# assignment, no shuffle), vectors land in their cell partition once, and
# each query probes only _N_PROBE cells — scan cost drops from O(corpus)
# to O(corpus × nprobe / ncentroids). Nearest-centroid assignment mirrors
# the reference's nearest-grid-point lookup (distances.py:303-315,
# tect_domain.py:235-272).

_N_CENTROIDS = 16
_N_PROBE = 4

_IVF_CTE = f"""
cdims AS (
  SELECT vec_id AS c_id, dim, v AS cv FROM dims
  WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES + _N_CENTROIDS}
),
adots AS (
  SELECT d.vec_id, c.c_id,
         CAST(sum(CAST(d.v * c.cv AS DECIMAL(38,12))) AS DOUBLE) AS dot
  FROM dims d JOIN cdims c ON d.dim = c.dim
  GROUP BY d.vec_id, c.c_id
),
ascored AS (
  SELECT a.vec_id, a.c_id, a.dot / (nv.nrm * nc.nrm) AS ccos
  FROM adots a
  JOIN norms nv ON nv.vec_id = a.vec_id
  JOIN norms nc ON nc.vec_id = a.c_id
),
cells AS (
  SELECT vec_id, c_id AS cell FROM ascored
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY ccos DESC, c_id
  ) = 1
),
probes AS (
  SELECT vec_id AS q_id, c_id AS cell FROM ascored
  WHERE vec_id < {_N_QUERIES}
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY ccos DESC, c_id
  ) <= {_N_PROBE}
)
"""

IVF_SQL = f"""
WITH {_NORMS_CTE},
{_IVF_CTE},
cand AS (
  SELECT p.q_id, c.vec_id
  FROM probes p JOIN cells c ON c.cell = p.cell
  WHERE c.vec_id <> p.q_id
),
qdims AS (SELECT vec_id AS q_id, dim, v AS qv FROM dims WHERE vec_id < {_N_QUERIES}),
dots AS (
  SELECT c.q_id, c.vec_id AS c_id,
         CAST(sum(CAST(q.qv * d.v AS DECIMAL(38,12))) AS DOUBLE) AS dot
  FROM cand c
  JOIN qdims q ON q.q_id = c.q_id
  JOIN dims d ON d.vec_id = c.vec_id AND d.dim = q.dim
  GROUP BY c.q_id, c.vec_id
)
SELECT q_id, c_id AS vec_id, dot / (nq.nrm * nv.nrm) AS cosine
FROM dots
JOIN norms nq ON nq.vec_id = q_id
JOIN norms nv ON nv.vec_id = c_id
QUALIFY row_number() OVER (
  PARTITION BY q_id ORDER BY dot / (nq.nrm * nv.nrm) DESC, c_id
) <= {_TOP_K}
"""


def _staged(spark: SparkSession, sf_dir: str, name: str, build):
    """``build()``, kept in the session memo while ``embeddings.parquet``
    is unchanged: the staged tables and ANN indexes below are all derived
    from it, each materialized via localCheckpoint."""
    return memo(spark, (name, sf_dir), [f"{sf_dir}/embeddings.parquet"], build)


# Session-level staged wide-vector table, shared by every ANN index
# build and the PQ rerank: one parquet scan + one decimal norm fold per
# corpus drop, instead of once per index build / query batch. At cluster
# scale this is the persisted "vectors" staging table every index reads.
def _wide_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _staged(
        spark, sf_dir, "_wide_cached", lambda: _wide(spark, sf_dir).localCheckpoint()
    )


# Session-level materialized IVF index: (ranked assignment table, wide
# vectors). A real IVF index is BUILT ONCE and probed by every query batch
# — rebuilding the codebook assignment per query would be like re-training
# an index per lookup.
def _ivf_index(spark: SparkSession, sf_dir: str):
    return _staged(spark, sf_dir, "_ivf_index", lambda: _build_ivf_index(spark, sf_dir))


def _build_ivf_index(spark: SparkSession, sf_dir: str):
    # Assignment phase in wide form: every vector meets the BROADCAST
    # 16-row codebook once (a deliberate 16× nested-loop fan-out, not an
    # accidental cartesian — this IS the IVF indexing plan at 100 TB: the
    # codebook ships to every executor, cell assignment is map-side, and
    # the corpus never shuffles for it). The decimal zip_with fold gives
    # the same scale-12 exact dot as the oracle's long-form sum. The
    # long-form explode variant of this phase cost ~3× more wall time
    # (2M exploded rows through a join + two-key aggregate).
    e = _wide_cached(spark, sf_dir)
    cw = e.filter(
        (F.col("vec_id") >= _N_QUERIES)
        & (F.col("vec_id") < _N_QUERIES + _N_CENTROIDS)
    ).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("c_nrm"),
    )
    ascored = (
        e.crossJoin(F.broadcast(cw))
        .withColumn("ccos", _wide_dot("v", "cv") / (F.col("nrm") * F.col("c_nrm")))
        .select("vec_id", "c_id", "ccos")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("c_id")
    )
    # Materialize the (vec, centroid) ranking once: both consumers
    # (cell assignment + query probes) would otherwise re-run the full
    # assignment subtree. The ranking itself is only |corpus|×|centroids|
    # rows. At cluster scale this is the persisted IVF index table.
    ranked = ascored.withColumn(
        "rn", F.row_number().over(w_assign)
    ).localCheckpoint()
    return ranked, e


@register("ann_ivf_cosine", sql=IVF_SQL, survey=["J14", "J15"], headline=True)
def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(spark, sf_dir, nprobe=_N_PROBE)


def ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int = _N_PROBE) -> DataFrame:
    """IVF top-k with a tunable probe budget — the recall/cost dial. At
    nprobe = _N_CENTROIDS every cell is probed and the result must equal
    the brute-force top-k exactly (same decimal dot products, same
    tie-break) — pinned in tests/test_properties.py, which also floors
    recall@10 at the registered nprobe."""
    ranked, e = _ivf_index(spark, sf_dir)
    cells = ranked.filter(F.col("rn") == 1).select(
        "vec_id", F.col("c_id").alias("cell")
    )
    probes = (
        ranked.filter((F.col("vec_id") < _N_QUERIES) & (F.col("rn") <= nprobe))
        .select(F.col("vec_id").alias("q_id"), F.col("c_id").alias("cell"))
    )
    cand = (
        F.broadcast(probes)
        .join(cells, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    qw = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        cand.join(e, "vec_id")
        .join(F.broadcast(qw), "q_id")
        .withColumn("cosine", _wide_dot("qv", "v") / (F.col("q_nrm") * F.col("nrm")))
    )
    return grouped_topk(
        scored, "q_id", "cosine", "vec_id", _TOP_K
    ).select("q_id", "vec_id", "cosine")


# --- Per-label embedding statistics (quality monitoring for a training-data
# pipeline: centroid norm drift, count per class).

STATS_SQL = f"""
WITH {_NORMS_CTE}
SELECT e.label,
       count(*) AS n_vectors,
       -- norm doubles sit exactly on 13th-digit .5 boundaries (sqrt of a
       -- 12-decimal sum ≈ 1 + x/2), where Spark (half-up) and DuckDB
       -- (half-even) decimal casts disagree — round the average to 6dp.
       floor(CAST(sum(CAST(n.nrm AS DECIMAL(38,12))) AS DOUBLE) / count(*)
             * 1000000.0 + 0.5) / 1000000.0 AS avg_norm,
       floor(min(n.nrm) * 1000000.0 + 0.5) / 1000000.0 AS min_norm,
       floor(max(n.nrm) * 1000000.0 + 0.5) / 1000000.0 AS max_norm
FROM embeddings e JOIN norms n ON n.vec_id = e.vec_id
GROUP BY e.label
"""


@register("embedding_label_stats", sql=STATS_SQL, survey=["A2", "A11"])
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "embeddings")
    dims = _dims(spark, sf_dir)
    norms = _norms(dims)
    return (
        e.join(norms, "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            pround(
                F.sum(F.col("nrm").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_norm"),
            pround(F.min("nrm"), 6).alias("min_norm"),
            pround(F.max("nrm"), 6).alias("max_norm"),
        )
    )


# --- SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
# cluster the corpus with the IVF codebook, then compare pairs ONLY within
# a cluster — the published recipe for embedding-level dedup at web scale,
# where the clustering (not hashing) provides the candidate blocking. A
# vector is a semantic duplicate if some lower-id vector in its cluster has
# cosine ≥ τ; we keep the lowest id as the representative (the paper keeps
# the member farthest from the centroid — an arbitrary-but-fixed priority;
# id-priority is the deterministic, oracle-checkable equivalent).
#
# The synthetic embeddings are isotropic — zero genuine pairs at τ = 0.9
# would make the check vacuous — so, exactly like
# dedup_cosine_neardup_strict, the query PLANTS its duplicates: every 10th
# vector gets a twin (id + 1e9, per-dim factor 1 + 0.04·((dim mod 7) − 3),
# cosine ≈ 0.9968). A twin's nearest centroid is its original's, so the
# cluster blocking must co-locate each planted pair and the output is
# exactly one row per twin — linear in the corpus.
#
# Scale shape (100 TB): cell assignment is the broadcast-codebook map-side
# pass (at cluster scale, the persisted IVF index table); the within-cell
# pair expansion goes through the hot-bucket-capped generator
# (operators/lsh.py), so one mega-cluster degrades to linear star pairs
# instead of |cell|² — the same skew bound the paper applies by capping
# cluster sizes. Verification touches candidate pairs only.

_SEMDEDUP_TAU = 0.9
_SEM_TWIN_OFFSET = 1_000_000_000

SEMDEDUP_SQL = f"""
WITH dims_base AS (
  SELECT vec_id, g.i AS dim, CAST(embedding[g.i + 1] AS DOUBLE) AS v
  FROM embeddings, UNNEST(generate_series(0, len(embedding) - 1)) AS g(i)
),
dims AS (
  SELECT * FROM dims_base
  UNION ALL
  SELECT vec_id + {_SEM_TWIN_OFFSET} AS vec_id, dim,
         v * (CAST(1.0 AS DOUBLE)
              + CAST(0.04 AS DOUBLE) * (dim % 7 - 3)) AS v
  FROM dims_base WHERE vec_id % 10 = 0
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
  FROM dims GROUP BY vec_id
),
cdims AS (
  SELECT vec_id AS c_id, dim, v AS cv FROM dims
  WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES + _N_CENTROIDS}
),
adots AS (
  SELECT d.vec_id, c.c_id,
         CAST(sum(CAST(d.v * c.cv AS DECIMAL(38,12))) AS DOUBLE) AS dot
  FROM dims d JOIN cdims c ON d.dim = c.dim
  GROUP BY d.vec_id, c.c_id
),
ascored AS (
  SELECT a.vec_id, a.c_id, a.dot / (nv.nrm * nc.nrm) AS ccos
  FROM adots a
  JOIN norms nv ON nv.vec_id = a.vec_id
  JOIN norms nc ON nc.vec_id = a.c_id
),
cells AS (
  SELECT vec_id, c_id AS cell FROM ascored
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY ccos DESC, c_id
  ) = 1
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
pdots AS (
  SELECT p.vec_a, p.vec_b,
         CAST(sum(CAST(da.v * db.v AS DECIMAL(38,12))) AS DOUBLE) AS dot
  FROM pairs p
  JOIN dims da ON da.vec_id = p.vec_a
  JOIN dims db ON db.vec_id = p.vec_b AND db.dim = da.dim
  GROUP BY p.vec_a, p.vec_b
),
sims AS (
  SELECT d.vec_a, d.vec_b, d.dot / (na.nrm * nb.nrm) AS cosine
  FROM pdots d
  JOIN norms na ON na.vec_id = d.vec_a
  JOIN norms nb ON nb.vec_id = d.vec_b
  WHERE d.dot / (na.nrm * nb.nrm) >= {_SEMDEDUP_TAU}
)
SELECT vec_b AS vec_id, min(vec_a) AS rep_id,
       floor(max(cosine) * 1000000.0 + 0.5) / 1000000.0 AS max_cosine
FROM sims GROUP BY vec_b
"""


def _semdedup_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus + planted 4%-perturbed twins, with norms (SemDeDup input)."""
    from nzgmdb_spark.operators.partitioning import spread
    from nzgmdb_spark.tables import tbl

    e = spread(tbl(spark, sf_dir, "embeddings"))
    base = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    twins = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(_SEM_TWIN_OFFSET)).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CAST(x AS DOUBLE) * "
            "(CAST(1.0 AS DOUBLE) + CAST(0.04 AS DOUBLE) * CAST(i % 7 - 3 AS DOUBLE)))"
        ).alias("v"),
    )
    return base.unionByName(twins).withColumn("nrm", _wide_norm_col())


def _semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid cell assignment (vec_id, cell) for SemDeDup.

    Exposed separately so the correctness sweep can assert the cap/oracle
    parity precondition: the full-clique oracle SQL matches the capped
    Spark path only while every cell stays under DEFAULT_BUCKET_CAP.
    """
    aug = _semdedup_augmented(spark, sf_dir)
    cw = aug.filter(
        (F.col("vec_id") >= _N_QUERIES)
        & (F.col("vec_id") < _N_QUERIES + _N_CENTROIDS)
    ).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("c_nrm"),
    )
    # Broadcast 16-row codebook fan-out — the IVF assignment plan shape
    # (see _ivf_index); map-side, the corpus never shuffles for it.
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("c_id")
    )
    return (
        aug.crossJoin(F.broadcast(cw))
        .withColumn("ccos", _wide_dot("v", "cv") / (F.col("nrm") * F.col("c_nrm")))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("c_id").alias("cell"))
    )


@register("dedup_semantic_semdedup", sql=SEMDEDUP_SQL, survey=["J13", "A6"])
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nzgmdb_spark.operators.lsh import capped_band_candidates

    aug = _semdedup_augmented(spark, sf_dir)
    cells = _semdedup_cells(spark, sf_dir)
    # Cap is invisible at correctness SF (cells ≪ 256 members); above it
    # a flood cell emits star pairs around its min id, which still marks
    # every member as a duplicate of the representative.
    cand = capped_band_candidates(
        cells, "vec_id", ["cell"], a_name="vec_a", b_name="vec_b"
    )
    wa = aug.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    wb = aug.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sims = (
        cand.join(wa, "vec_a")
        .join(wb, "vec_b")
        .withColumn("cosine", _wide_dot("va", "vb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= _SEMDEDUP_TAU)
    )
    return sims.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("rep_id"),
        pround(F.max("cosine"), 6).alias("max_cosine"),
    )


# --- MMR diversified retrieval: relevance-ranked top-N candidates
# re-ranked by Maximal Marginal Relevance (score = λ·rel − (1−λ)·max
# similarity to anything already picked), k picks. The k-step greedy is
# UNROLLED into a declarative plan — five argmax branches over a tiny
# candidate relation, no driver loop, no collect — and the oracle unrolls
# the identical five steps in SQL, so the whole diversified ranking is
# value-hash-checked. Every cosine is an exact-decimal dot over the long
# form; the MMR objective is then fixed-order double arithmetic, so both
# engines rank identical numbers. At 100 TB only candidate GENERATION
# (the existing kNN/ANN queries) touches the corpus; this re-rank stage
# is O(N·k) on a broadcast-size candidate set by construction.

_MMR_QUERY_ID = 0
_MMR_N_CAND = 20
_MMR_K = 5
_MMR_LAMBDA = 0.7

_MMR_BASE_CTE = f"""
dims AS (
  SELECT vec_id, g.i AS dim, CAST(embedding[g.i + 1] AS DOUBLE) AS v
  FROM embeddings, UNNEST(generate_series(0, len(embedding) - 1)) AS g(i)
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
  FROM dims GROUP BY vec_id
),
rel AS (
  SELECT d.vec_id,
         CAST(sum(CAST(q.v * d.v AS DECIMAL(38,12))) AS DOUBLE)
           / (nq.nrm * nd.nrm) AS rel
  FROM dims q
  JOIN dims d ON q.dim = d.dim AND d.vec_id <> {_MMR_QUERY_ID}
  JOIN norms nq ON nq.vec_id = {_MMR_QUERY_ID}
  JOIN norms nd ON nd.vec_id = d.vec_id
  WHERE q.vec_id = {_MMR_QUERY_ID}
  GROUP BY d.vec_id, nq.nrm, nd.nrm
),
cand AS (
  SELECT vec_id, rel FROM rel
  ORDER BY rel DESC, vec_id LIMIT {_MMR_N_CAND}
),
sims AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         CAST(sum(CAST(da.v * db.v AS DECIMAL(38,12))) AS DOUBLE)
           / (na.nrm * nb.nrm) AS sim
  FROM cand a
  JOIN cand b ON a.vec_id <> b.vec_id
  JOIN dims da ON da.vec_id = a.vec_id
  JOIN dims db ON db.vec_id = b.vec_id AND db.dim = da.dim
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = b.vec_id
  GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm
)
"""


def _mmr_step_sql(step: int) -> str:
    prev = ", ".join(f"(SELECT vec_id FROM sel{j})" for j in range(1, step))
    return f"""
sel{step} AS (
  SELECT c.vec_id,
         {_MMR_LAMBDA} * c.rel - {1.0 - _MMR_LAMBDA:.1f} * (
           SELECT max(s.sim) FROM sims s
           WHERE s.a_id = c.vec_id AND s.b_id IN ({prev})
         ) AS score
  FROM cand c WHERE c.vec_id NOT IN ({prev})
  ORDER BY score DESC, c.vec_id LIMIT 1
)"""


MMR_SQL = (
    "WITH "
    + _MMR_BASE_CTE
    + f""",
sel1 AS (
  SELECT vec_id, {_MMR_LAMBDA} * rel AS score FROM cand
  ORDER BY score DESC, vec_id LIMIT 1
)"""
    + ","
    + ",".join(_mmr_step_sql(i) for i in range(2, _MMR_K + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, vec_id, "
        f"floor(score * 1000000.0 + 0.5) / 1000000.0 AS score FROM sel{i}"
        for i in range(1, _MMR_K + 1)
    )
)


def _mmr_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N candidates by query relevance, carrying (vec_id, rel, nrm,
    embedding) — everything the greedy kernel needs in one tiny frame."""
    dims = _dims(spark, sf_dir)
    norms = _norms(dims)
    qn = norms.filter(F.col("vec_id") == _MMR_QUERY_ID).select(
        F.col("nrm").alias("qnrm")
    )
    qd = dims.filter(F.col("vec_id") == _MMR_QUERY_ID).select(
        F.col("dim").alias("qdim"), F.col("v").alias("qv")
    )
    rel = (
        dims.filter(F.col("vec_id") != _MMR_QUERY_ID)
        .join(F.broadcast(qd), F.col("dim") == F.col("qdim"))
        .groupBy("vec_id")
        .agg(
            F.sum((F.col("qv") * F.col("v")).cast("decimal(38,12)"))
            .cast("double")
            .alias("dot")
        )
        .join(norms, "vec_id")
        .crossJoin(F.broadcast(qn))
        .select(
            "vec_id",
            (F.col("dot") / (F.col("qnrm") * F.col("nrm"))).alias("rel"),
            "nrm",
        )
    )
    cand = rel.orderBy(F.col("rel").desc(), "vec_id").limit(_MMR_N_CAND)
    emb = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # candidate side is N rows — broadcast it against the corpus
    return emb.join(F.broadcast(cand), "vec_id")


@register("mmr_diversified_topk", sql=MMR_SQL, survey=["O3", "J14", "A1"])
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR serving path (round-3 re-shape): candidate generation stays
    declarative (broadcast query join + top-N TakeOrdered), then the greedy
    re-rank runs as ONE Arrow applyInPandas kernel over the broadcast-size
    candidate set — plan size constant in k (was 120 BHJ / 40 shuffles at
    k=5 when unrolled). The unrolled plan survives as mmr_unrolled_plan,
    equality-tested at several k; the DuckDB oracle is the unrolled k-step
    CTE chain (MMR_SQL), bit-identical because the kernel reproduces
    DECIMAL(38,12) dot-product semantics exactly."""
    from nzgmdb_spark.functions import pround
    from nzgmdb_spark.operators.mmr import mmr_rerank

    cand = _mmr_candidates(spark, sf_dir)
    out = mmr_rerank(cand, k=_MMR_K, lam=_MMR_LAMBDA)
    return out.select("rank", "vec_id", pround(F.col("score"), 6).alias("score"))


def mmr_unrolled_plan(
    spark: SparkSession, sf_dir: str, k: int = _MMR_K
) -> DataFrame:
    """The round-2 unrolled-plan formulation, kept as the kernel's
    cross-checkable twin (NOT registered; plan size grows linearly in k —
    the reason it was retired from serving)."""
    from nzgmdb_spark.functions import pround

    cand = (
        _mmr_candidates(spark, sf_dir)
        .select("vec_id", "rel", "nrm")
        .localCheckpoint()  # tiny; reused by every unrolled step
    )
    dims = _dims(spark, sf_dir)
    norms = _norms(dims)
    cids = cand.select("vec_id")
    cd = dims.join(F.broadcast(cids), "vec_id").join(norms, "vec_id")
    a = cd.select(
        F.col("vec_id").alias("a_id"),
        "dim",
        F.col("v").alias("av"),
        F.col("nrm").alias("anrm"),
    )
    b = cd.select(
        F.col("vec_id").alias("b_id"),
        "dim",
        F.col("v").alias("bv"),
        F.col("nrm").alias("bnrm"),
    )
    sims = (
        a.join(b, ["dim"])
        .filter(F.col("a_id") != F.col("b_id"))
        .groupBy("a_id", "b_id", "anrm", "bnrm")
        .agg(
            F.sum((F.col("av") * F.col("bv")).cast("decimal(38,12)"))
            .cast("double")
            .alias("dot")
        )
        .select(
            "a_id",
            "b_id",
            (F.col("dot") / (F.col("anrm") * F.col("bnrm"))).alias("sim"),
        )
        .localCheckpoint()
    )
    lam = F.lit(_MMR_LAMBDA)
    one_minus = F.lit(round(1.0 - _MMR_LAMBDA, 1))
    sel = (
        cand.select("vec_id", (lam * F.col("rel")).alias("score"))
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(1)
    )
    picks = [sel.withColumn("rank", F.lit(1))]
    for step in range(2, k + 1):
        chosen = picks[0].select("vec_id")
        for p in picks[1:]:
            chosen = chosen.unionByName(p.select("vec_id"))
        maxsim = (
            sims.join(F.broadcast(chosen.withColumnRenamed("vec_id", "b_id")), "b_id")
            .groupBy("a_id")
            .agg(F.max("sim").alias("max_sim"))
        )
        nxt = (
            cand.join(chosen, "vec_id", "left_anti")
            .join(maxsim, cand["vec_id"] == maxsim["a_id"])
            .select(
                "vec_id",
                (lam * F.col("rel") - one_minus * F.col("max_sim")).alias("score"),
            )
            .orderBy(F.col("score").desc(), "vec_id")
            .limit(1)
        )
        picks.append(nxt.withColumn("rank", F.lit(step)))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select("rank", "vec_id", pround(F.col("score"), 6).alias("score"))


# --- One distributed Lloyd (k-means) iteration: every corpus vector joins
# its IVF cell assignment (the SAME session-cached materialized index the
# ANN path probes — index reuse, not recompute) and new centroids are the
# per-cell per-dimension means with exact-decimal sums. This is the ML
# primitive shape at 100 TB: assignment is a broadcast-codebook map pass,
# the update one partial-aggregated groupBy over (cell, dim) — no
# iteration-internal collect; the k×d result is the only driver-visible
# object. The oracle rebuilds the identical assignment and means.

KMEANS_SQL = f"""
WITH {_NORMS_CTE},
{_IVF_CTE}
SELECT c.cell AS centroid_id, d.dim,
       floor(CAST(sum(CAST(d.v AS DECIMAL(38,12))) AS DOUBLE) / count(*)
             * 1000000.0 + 0.5) / 1000000.0 AS new_val,
       count(*) AS cluster_size
FROM cells c JOIN dims d ON d.vec_id = c.vec_id
GROUP BY c.cell, d.dim
"""


@register("ml_kmeans_lloyd_step", sql=KMEANS_SQL, survey=["A2", "J15"])
def ml_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nzgmdb_spark.functions import pround

    ranked, _e = _ivf_index(spark, sf_dir)
    cells = ranked.filter(F.col("rn") == 1).select(
        "vec_id", F.col("c_id").alias("centroid_id")
    )
    dims = _dims(spark, sf_dir)
    return (
        dims.join(cells, "vec_id")
        .groupBy("centroid_id", "dim")
        .agg(
            pround(
                F.sum(F.col("v").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("new_val"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
    )


# --- Product-quantization ANN (Jégou et al. 2011, "Product Quantization
# for Nearest Neighbor Search"): the embedding is split into _PQ_M
# subspaces of _PQ_DSUB dims; each subvector is replaced by the id of its
# nearest codeword from a per-subspace codebook of _PQ_K entries, and
# query-to-candidate cosines (vectors are L2-normalized first, so inner
# product = cosine) are approximated by ADC (asymmetric distance
# computation): one small lookup table of query-to-codeword dot products
# per subspace, then a sum of _PQ_M table entries per candidate.
#
# This is THE storage story for ANN at 100 TB: a 64-dim float corpus
# (256 B/vector) compresses to _PQ_M code bytes (8 B/vector, 32x), and
# scoring never touches the raw corpus vectors — the scan reads only the
# code columns (column pruning does the rest). Plan shape: codebook
# "training" is a deterministic corpus sample (the _PQ_K smallest
# vec_ids — the production recipe k-means-refines it; the assignment and
# ADC topology are identical), broadcast everywhere; code assignment is
# one broadcast join + partial-agg argmin (min(struct), shuffle-free
# below the per-vector agg); the ADC scoring join touches codes ×
# queries, never corpus × corpus. Determinism: every dot/distance is the
# decimal fold ladder (_DEC_TERM/_DEC_ACC) so Spark and DuckDB produce
# bit-identical doubles; argmin ties break on codeword id.
#
# ADC alone cannot rank WITHIN a codeword cell: when the codebook has one
# codeword per natural cluster, every member of a cluster gets the same
# ADC score (measured recall@10 0.1 on the clustered fixture). The
# production recipe (IVF-PQ / DiskANN alike) is therefore SHORTLIST +
# EXACT RERANK: ADC ranks a _PQ_SHORTLIST of candidates from codes only,
# then exact cosines are computed for just those shortlist rows — the
# only point where raw vectors are read, shortlist-sized, never
# corpus-sized. Measured recall@10 after rerank: see
# tests/test_properties.py floors.

_PQ_M = 8
_PQ_DSUB = 8
_PQ_K = 64
_PQ_SHORTLIST = 100

PQ_SQL = f"""
WITH {_NORMS_CTE},
sdims AS (
  SELECT d.vec_id, dim // {_PQ_DSUB} AS m, dim % {_PQ_DSUB} AS dd,
         d.v / n.nrm AS v
  FROM dims d JOIN norms n ON n.vec_id = d.vec_id
),
cent AS (SELECT vec_id AS cid, m, dd, v AS wv FROM sdims WHERE vec_id < {_PQ_K}),
dist AS (
  SELECT s.vec_id, s.m, c.cid,
         CAST(sum(CAST((s.v - c.wv) * (s.v - c.wv) AS DECIMAL(38,12))) AS DOUBLE) AS dist
  FROM sdims s JOIN cent c ON c.m = s.m AND c.dd = s.dd
  GROUP BY s.vec_id, s.m, c.cid
),
codes AS (
  SELECT vec_id, m, cid FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) = 1
),
lut AS (
  SELECT s.vec_id AS q_id, s.m, c.cid,
         CAST(sum(CAST(s.v * c.wv AS DECIMAL(38,12))) AS DOUBLE) AS ipd
  FROM sdims s JOIN cent c ON c.m = s.m AND c.dd = s.dd
  WHERE s.vec_id < {_N_QUERIES}
  GROUP BY s.vec_id, s.m, c.cid
),
adc AS (
  SELECT l.q_id, co.vec_id,
         CAST(sum(CAST(l.ipd AS DECIMAL(38,12))) AS DOUBLE) AS approx_cos
  FROM codes co JOIN lut l ON l.m = co.m AND l.cid = co.cid
  WHERE l.q_id <> co.vec_id
  GROUP BY l.q_id, co.vec_id
),
short AS (
  SELECT q_id, vec_id, approx_cos FROM adc
  QUALIFY row_number() OVER (
    PARTITION BY q_id ORDER BY approx_cos DESC, vec_id
  ) <= {_PQ_SHORTLIST}
),
ndims AS (
  SELECT d.vec_id, d.dim, d.v / n.nrm AS v
  FROM dims d JOIN norms n ON n.vec_id = d.vec_id
),
rerank AS (
  SELECT s.q_id, s.vec_id, s.approx_cos,
         CAST(sum(CAST(qd.v * cd.v AS DECIMAL(38,12))) AS DOUBLE) AS cosine
  FROM short s
  JOIN ndims qd ON qd.vec_id = s.q_id
  JOIN ndims cd ON cd.vec_id = s.vec_id AND cd.dim = qd.dim
  GROUP BY s.q_id, s.vec_id, s.approx_cos
)
SELECT q_id, vec_id, approx_cos, cosine FROM rerank
QUALIFY row_number() OVER (
  PARTITION BY q_id ORDER BY cosine DESC, vec_id
) <= {_TOP_K}
"""


def _pq_subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, sv: array<double>[_PQ_DSUB]) — wide L2-NORMALIZED
    subvector form. Normalizing before quantization makes ADC inner
    products equal cosines, so PQ ranking targets the same metric as the
    brute-force truth (the standard cosine-metric PQ recipe)."""
    base = _wide_cached(spark, sf_dir)
    vn = F.transform("v", lambda x: x / F.col("nrm"))
    return base.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m"),
        vn.alias("v"),
    ).select(
        "vec_id",
        "m",
        F.expr(f"slice(v, m * {_PQ_DSUB} + 1, {_PQ_DSUB})").alias("sv"),
    )


def _wide_sqdist(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: ((x - y) * (x - y)).cast(_DEC_TERM)),
        F.lit(0).cast(_DEC_ACC),
        lambda acc, x: (acc + x).cast(_DEC_ACC),
    ).cast("double")


# Session-level materialized PQ index: (codebook, WIDE code table —
# one row per vector with the 8 subquantizer codes as columns). Like
# the IVF index above, PQ codes are BUILT ONCE and served to every
# query batch — the code table IS the compressed corpus representation
# a production deployment persists (8 code bytes/vector); rebuilding
# the assignment per query would re-quantize the corpus per lookup.
# Wide form is what makes query-time ADC map-side: a long (vec_id, m,
# cid) table needs a join on (m, cid) plus a (q_id, vec_id) re-agg —
# n·M·|queries| rows through an exchange per batch — while the wide row
# meets the broadcast per-query LUT once and sums 8 array lookups in
# place.
def _pq_index(spark: SparkSession, sf_dir: str):
    return _staged(spark, sf_dir, "_pq_index", lambda: _build_pq_index(spark, sf_dir))


def _build_pq_index(spark: SparkSession, sf_dir: str):
    sub = _pq_subvectors(spark, sf_dir)
    cb = sub.filter(F.col("vec_id") < _PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("wv")
    )
    # One aggregation straight to the wide row: min(struct(dist, cid))
    # per subquantizer column == the oracle's row_number()=1 ordering by
    # (dist, cid).
    codes_w = (
        sub.join(F.broadcast(cb), "m")
        .select("vec_id", "m", _wide_sqdist("sv", "wv").alias("dist"), "cid")
        .groupBy("vec_id")
        .agg(
            *[
                F.min(F.when(F.col("m") == k, F.struct("dist", "cid"))).alias(
                    f"mn{k}"
                )
                for k in range(_PQ_M)
            ]
        )
        .select(
            "vec_id",
            *[F.col(f"mn{k}.cid").alias(f"c{k}") for k in range(_PQ_M)],
        )
    )
    return cb.localCheckpoint(), codes_w.localCheckpoint()


# Map-side ADC sum: 8 LUT array lookups, decimal-exact accumulation
# (addition order is irrelevant for DECIMAL — same doubles as the old
# shuffled sum). Terms are DECIMAL(20,12), NOT (38,12): chained adds
# grow precision by one per term, and overflowing 38 makes Spark shed
# scale (12 → 6 after seven adds — a measured 1e-6-level hash break);
# (20,12) leaves 18 digits of headroom. One expr string: the
# Column-tree equivalent costs py4j round-trips per plan build.
_ADC_EXPR = (
    "CAST("
    + " + ".join(
        f"CAST(element_at(lut{k}, CAST(c{k} + 1 AS INT)) AS DECIMAL(20,12))"
        for k in range(_PQ_M)
    )
    + " AS DOUBLE) AS approx_cos"
)


def _pq_qlut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query ADC lookup table, one row per q_id: lut{k}[cid + 1] =
    the inner product of query subvector k with centroid cid. |queries| ×
    M × K doubles — broadcast-size by construction."""
    cb, _ = _pq_index(spark, sf_dir)
    sub = _pq_subvectors(spark, sf_dir)
    lut = (
        sub.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), "m", "sv")
        .join(F.broadcast(cb), "m")
        .select("q_id", "m", "cid", _wide_dot("sv", "wv").alias("ipd"))
    )
    return lut.groupBy("q_id").agg(
        *[
            F.expr(
                f"transform(array_sort(collect_list(CASE WHEN m = {k} THEN "
                f"named_struct('cid', cid, 'ipd', ipd) END)), s -> s.ipd)"
            ).alias(f"lut{k}")
            for k in range(_PQ_M)
        ]
    )


def _pq_rerank(spark: SparkSession, sf_dir: str, short: DataFrame) -> DataFrame:
    """Exact top-k rerank of an ADC shortlist: the ONLY stage that reads
    raw vectors. The SHORTLIST side is broadcast (|queries| × shortlist
    rows by construction), so the scan of the staged vector table is
    filtered map-side — no corpus-sized exchange — and normalization (the
    per-element divide) runs on surviving rows only."""
    base = _wide_cached(spark, sf_dir)
    rer = (
        base.join(F.broadcast(short), "vec_id")
        .select(
            "q_id",
            "vec_id",
            "approx_cos",
            F.transform("v", lambda x: x / F.col("nrm")).alias("nv"),
        )
    )
    qvec = base.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.transform("v", lambda x: x / F.col("nrm")).alias("qv"),
    )
    rer = rer.join(F.broadcast(qvec), "q_id").select(
        "q_id", "vec_id", "approx_cos", _wide_dot("qv", "nv").alias("cosine")
    )
    return grouped_topk(
        rer, "q_id", "cosine", "vec_id", _TOP_K, carry_cols=("approx_cos",)
    ).select("q_id", "vec_id", "approx_cos", "cosine")


@register("ann_pq_adc", sql=PQ_SQL, survey=["J14", "J15", "A1"])
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, codes_w = _pq_index(spark, sf_dir)
    qlut = _pq_qlut(spark, sf_dir)
    # The scoring stage: wide codes meet the broadcast LUT row set once
    # (|queries|× map-side fan-out, the deliberate BNLJ of every ANN
    # batch), ADC is summed in place — NO exchange until the shortlist
    # top-k itself.
    scored = (
        codes_w.join(F.broadcast(qlut), F.col("q_id") != F.col("vec_id"))
        .selectExpr("q_id", "vec_id", _ADC_EXPR)
    )
    short = grouped_topk(
        scored, "q_id", "approx_cos", "vec_id", _PQ_SHORTLIST
    )
    return _pq_rerank(spark, sf_dir, short)


# --- IVF-PQ: the composed FAISS-style scale path (coarse IVF cell
# pruning × PQ-compressed ADC scoring × exact rerank). IVF alone scans
# raw vectors inside probed cells; PQ alone ADC-scans the WHOLE corpus'
# codes per batch. Composed, query-time work is (probed cells only) ×
# (8 code bytes/vector): at 100 TB the index is a persisted
# cell-partitioned code table ~1/32 the corpus bytes, the probe set
# prunes ~(nprobe/ncells) of it per query, and the only raw-vector
# reads are the broadcast-filtered rerank shortlist.
#
# Plan shape: the cell-augmented wide code table is built ONCE (one
# build-time join of the two session indexes, localCheckpoint-pinned);
# per batch, probes ⋈ per-query LUT rows broadcast, meet the code table
# in a broadcast-hash equi-join ON CELL (map-side pruning — not the PQ
# BNLJ), ADC sums in place, and nothing corpus-sized reaches an
# exchange until the shortlist top-k's bounded aggregation.
# Reference parity: composes the same J14/J15 neighbor-search semantics
# as ann_ivf_cosine/ann_pq_adc (SURVEY §2.11); reference has no ANN —
# this is the beyond-reference LLM-pipeline family.

IVFPQ_SQL = f"""
WITH {_NORMS_CTE},
{_IVF_CTE},
sdims AS (
  SELECT d.vec_id, dim // {_PQ_DSUB} AS m, dim % {_PQ_DSUB} AS dd,
         d.v / n.nrm AS v
  FROM dims d JOIN norms n ON n.vec_id = d.vec_id
),
cent AS (SELECT vec_id AS cid, m, dd, v AS wv FROM sdims WHERE vec_id < {_PQ_K}),
dist AS (
  SELECT s.vec_id, s.m, c.cid,
         CAST(sum(CAST((s.v - c.wv) * (s.v - c.wv) AS DECIMAL(38,12))) AS DOUBLE) AS dist
  FROM sdims s JOIN cent c ON c.m = s.m AND c.dd = s.dd
  GROUP BY s.vec_id, s.m, c.cid
),
codes AS (
  SELECT vec_id, m, cid FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) = 1
),
lut AS (
  SELECT s.vec_id AS q_id, s.m, c.cid,
         CAST(sum(CAST(s.v * c.wv AS DECIMAL(38,12))) AS DOUBLE) AS ipd
  FROM sdims s JOIN cent c ON c.m = s.m AND c.dd = s.dd
  WHERE s.vec_id < {_N_QUERIES}
  GROUP BY s.vec_id, s.m, c.cid
),
cand AS (
  SELECT p.q_id, c.vec_id
  FROM probes p JOIN cells c ON c.cell = p.cell
  WHERE c.vec_id <> p.q_id
),
adc AS (
  SELECT ca.q_id, ca.vec_id,
         CAST(sum(CAST(l.ipd AS DECIMAL(38,12))) AS DOUBLE) AS approx_cos
  FROM cand ca
  JOIN codes co ON co.vec_id = ca.vec_id
  JOIN lut l ON l.q_id = ca.q_id AND l.m = co.m AND l.cid = co.cid
  GROUP BY ca.q_id, ca.vec_id
),
short AS (
  SELECT q_id, vec_id, approx_cos FROM adc
  QUALIFY row_number() OVER (
    PARTITION BY q_id ORDER BY approx_cos DESC, vec_id
  ) <= {_PQ_SHORTLIST}
),
ndims AS (
  SELECT d.vec_id, d.dim, d.v / n.nrm AS v
  FROM dims d JOIN norms n ON n.vec_id = d.vec_id
),
rerank AS (
  SELECT s.q_id, s.vec_id, s.approx_cos,
         CAST(sum(CAST(qd.v * cd.v AS DECIMAL(38,12))) AS DOUBLE) AS cosine
  FROM short s
  JOIN ndims qd ON qd.vec_id = s.q_id
  JOIN ndims cd ON cd.vec_id = s.vec_id AND cd.dim = qd.dim
  GROUP BY s.q_id, s.vec_id, s.approx_cos
)
SELECT q_id, vec_id, approx_cos, cosine FROM rerank
QUALIFY row_number() OVER (
  PARTITION BY q_id ORDER BY cosine DESC, vec_id
) <= {_TOP_K}
"""

# Session-level cell-augmented code table: the IVFPQ index proper. One
# build-time equi-join of the two session indexes (cell assignment ⋈
# wide PQ codes); at cluster scale this is the table a deployment
# PARTITIONS BY cell on disk, so a probe reads only its cells' files.
def _ivfpq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        ranked, _ = _ivf_index(spark, sf_dir)
        _, codes_w = _pq_index(spark, sf_dir)
        cells = ranked.filter(F.col("rn") == 1).select(
            "vec_id", F.col("c_id").alias("cell")
        )
        return codes_w.join(cells, "vec_id").localCheckpoint()

    return _staged(spark, sf_dir, "_ivfpq_codes", build)


@register("ann_ivf_pq", sql=IVFPQ_SQL, survey=["J14", "J15", "A1"])
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked, _ = _ivf_index(spark, sf_dir)
    codes_cell = _ivfpq_codes(spark, sf_dir)
    probes = (
        ranked.filter((F.col("vec_id") < _N_QUERIES) & (F.col("rn") <= _N_PROBE))
        .select(F.col("vec_id").alias("q_id"), F.col("c_id").alias("cell"))
    )
    # One broadcast relation carries both the probe set and each query's
    # LUT row; the code table meets it in an equi-join on cell, so ADC
    # runs map-side on probed cells only.
    qp = probes.join(_pq_qlut(spark, sf_dir), "q_id")
    scored = (
        codes_cell.join(F.broadcast(qp), "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .selectExpr("q_id", "vec_id", _ADC_EXPR)
    )
    short = grouped_topk(scored, "q_id", "approx_cos", "vec_id", _PQ_SHORTLIST)
    return _pq_rerank(spark, sf_dir, short)


# --- Distributed PCA power-iteration step: one iteration of the power
# method for the dominant principal component of the (mean-centered)
# embedding matrix, computed WITHOUT materializing the covariance — two
# matvec passes (y = X_c v0, z = X_cᵗ y), which is the only PCA shape
# that scales: covariance is dim², fine at 64 but not at transformer
# widths, while the matvec pass is one map-side product + one
# map-side-combinable agg each. The deterministic start vector reuses
# the md5-hex-digit convention of the LSH planes; mean-centering is an
# aggregated 64-row table broadcast back. Every sum is the
# DECIMAL(38,12)-term exact reduction, so both engines produce the same
# doubles and the normalized component hashes exactly.

PCA_SQL = f"""
WITH {_NORMS_CTE},
mu AS (
  SELECT dim, CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m
  FROM dims GROUP BY dim
),
v0 AS (
  SELECT g.i AS dim,
         CAST(strpos('0123456789abcdef',
                     substr(md5('pca_' || g.i), 1, 1)) - 8.5 AS DOUBLE) AS w
  FROM UNNEST(generate_series(0, 63)) AS g(i)
),
y AS (
  SELECT d.vec_id,
         CAST(sum(CAST((d.v - mu.m) * v0.w AS DECIMAL(38,12))) AS DOUBLE) AS y
  FROM dims d JOIN mu ON mu.dim = d.dim JOIN v0 ON v0.dim = d.dim
  GROUP BY d.vec_id
),
z AS (
  SELECT d.dim,
         CAST(sum(CAST(y.y * (d.v - mu.m) AS DECIMAL(38,12))) AS DOUBLE) AS z
  FROM dims d JOIN mu ON mu.dim = d.dim JOIN y ON y.vec_id = d.vec_id
  GROUP BY d.dim
),
zn AS (
  SELECT sqrt(CAST(sum(CAST(z * z AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM z
)
SELECT z.dim,
       floor(z.z / zn.nrm * 1000000.0 + 0.5) / 1000000.0 AS pc1
FROM z CROSS JOIN zn
"""


@register("embedding_pca_power_iter", sql=PCA_SQL, survey=["A2", "F9", "J1"])
def embedding_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    dims = _dims(spark, sf_dir)
    mu = dims.groupBy("dim").agg(
        (F.sum(F.col("v").cast("decimal(38,12)")).cast("double") / F.count(F.lit(1)))
        .alias("m")
    )
    v0 = spark.range(64).select(
        F.col("id").cast("int").alias("dim"),
        (
            F.expr(
                "CAST(instr('0123456789abcdef', "
                "substring(md5(CAST(concat('pca_', id) AS BINARY)), 1, 1)) AS DOUBLE)"
            )
            - F.lit(8.5)
        ).alias("w0"),
    )
    centered = dims.join(F.broadcast(mu), "dim").select(
        "vec_id", "dim", (F.col("v") - F.col("m")).alias("c")
    )
    y = (
        centered.join(F.broadcast(v0), "dim")
        .groupBy("vec_id")
        .agg(
            F.sum((F.col("c") * F.col("w0")).cast("decimal(38,12)"))
            .cast("double")
            .alias("y")
        )
    )
    z = (
        centered.join(y, "vec_id")
        .groupBy("dim")
        .agg(
            F.sum((F.col("y") * F.col("c")).cast("decimal(38,12)"))
            .cast("double")
            .alias("z")
        )
    )
    zn = z.agg(
        F.sqrt(
            F.sum((F.col("z") * F.col("z")).cast("decimal(38,12)")).cast("double")
        ).alias("nrm")
    )
    return z.crossJoin(F.broadcast(zn)).select(
        "dim", pround(F.col("z") / F.col("nrm"), 6).alias("pc1")
    )


# --- Symmetric int8 embedding quantization: per-vector scale =
# max|x|/127, q = clamp(round(x/scale)), reconstruction error stats per
# vector — the other storage-compression path beside PQ (4x over fp32,
# reconstruction stays per-dimension instead of per-subspace). Rounding
# is the portable half-up floor(x+0.5) (plain round() differs between
# engines); the +0.0 on the clamp canonicalizes IEEE -0.0, which DuckDB's
# GREATEST can produce and which breaks %.9g value hashes.
#
# Plan shape at 100 TB: entirely map-side per-vector expressions plus
# one per-vector aggregation over the long form — shuffle ∝ vectors,
# no cross-vector state at all.

QUANT8_SQL = f"""
WITH {_NORMS_CTE},
sc AS (
  SELECT vec_id, max(abs(v)) / 127.0 AS scale FROM dims GROUP BY vec_id
),
q AS (
  SELECT d.vec_id, d.dim, d.v, sc.scale,
         CASE WHEN sc.scale > 0
              THEN GREATEST(-127.0, LEAST(127.0, floor(d.v / sc.scale + 0.5))) + 0.0
              ELSE 0.0 END AS qv
  FROM dims d JOIN sc ON sc.vec_id = d.vec_id
),
err AS (
  SELECT vec_id,
         CAST(sum(CAST((v - qv * scale) * (v - qv * scale) AS DECIMAL(38,12)))
              AS DOUBLE) AS sse,
         max(abs(v - qv * scale)) AS maxe
  FROM q GROUP BY vec_id
)
SELECT e.vec_id,
       floor(sc.scale * 1000000000.0 + 0.5) / 1000000000.0 AS scale,
       floor(e.sse / 64.0 * 1000000000.0 + 0.5) / 1000000000.0 AS mse,
       floor(e.maxe * 1000000000.0 + 0.5) / 1000000000.0 AS max_abs_err
FROM err e JOIN sc ON sc.vec_id = e.vec_id
"""


@register("embedding_quantize_int8", sql=QUANT8_SQL, survey=["F9", "A2", "P10"])
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    dims = _dims(spark, sf_dir)
    sc = dims.groupBy("vec_id").agg((F.max(F.abs("v")) / 127.0).alias("scale"))
    qv = F.when(
        F.col("scale") > 0,
        F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(F.col("v") / F.col("scale") + 0.5)),
        )
        + 0.0,
    ).otherwise(0.0)
    q = dims.join(sc, "vec_id").select(
        "vec_id", "v", "scale", qv.alias("qv")
    )
    e = F.col("v") - F.col("qv") * F.col("scale")
    err = q.select("vec_id", "scale", e.alias("e")).groupBy("vec_id", "scale").agg(
        F.sum((F.col("e") * F.col("e")).cast("decimal(38,12)"))
        .cast("double")
        .alias("sse"),
        F.max(F.abs("e")).alias("maxe"),
    )
    return err.select(
        "vec_id",
        pround(F.col("scale"), 9).alias("scale"),
        pround(F.col("sse") / F.lit(64.0), 9).alias("mse"),
        pround(F.col("maxe"), 9).alias("max_abs_err"),
    )
