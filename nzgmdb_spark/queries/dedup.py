"""Deduplication operators over the documents table (BASELINE.json north
star): exact hash dedup, n-gram Jaccard near-dup, MinHash+LSH banding, and
SimHash — each with a full DuckDB oracle.

Scale design: every variant is a shingle-explode → equi-join → aggregate
plan. Nothing is quadratic in the corpus: the Jaccard join is blocked on
shared shingles, LSH restricts intersection computation to band-bucket
candidates, and SimHash reduces each doc to one 32-bit integer before any
pairing. All hashing is md5 (bit-identical across engines); all arithmetic
on integer counts → results are exact, no float tolerance needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nzgmdb_spark.operators.partitioning import spread
from nzgmdb_spark.queries.registry import register
from nzgmdb_spark.session import memo
from nzgmdb_spark.tables import tbl

# --- Exact dedup: md5-hash groupBy (keep-first policy).

EXACT_SQL = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@register("dedup_exact_hash", sql=EXACT_SQL, survey=["A5", "A6"])
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    return d.groupBy(h.alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --- Shared shingle machinery (word 3-grams, distinct per doc).

SHINGLES_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
)
"""


def _tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w: array<string>) with ≥3 tokens — token array MATERIALIZED.

    ``split(text)`` runs exactly once per doc BELOW a repartition
    Exchange; the shuffle materializes ``w`` as a physical column, so
    every downstream gram expression indexes a stored array.

    Why this matters: Spark's subexpression elimination skips any
    expression under a lambda (it may reference the lambda variable), so
    a gram ``transform`` whose lambda body contains ``split(text)``
    re-splits the text for every ``element_at`` — ~150× per doc — and
    the projection Catalyst places ABOVE the shingle Generate (for
    per-doc counts) multiplies that by the ~50 exploded rows per doc.
    Measured at sf0.1: 15.5 s → 2.1 s for the Jaccard query just by
    materializing ``w``. The unconditional repartition doubles as the
    materialization barrier (CollapseProject cannot substitute ``split``
    back into the lambdas across an Exchange); its shuffle volume is one
    pass over the tokenized corpus, repaid ~50× in shingling CPU. At
    cluster scale the same role is played by a tokenized staging table.

    Materialized via localCheckpoint and kept in the session memo
    (``session.memo``) while ``documents.parquet`` is unchanged: every
    dedup family member consumes this staging table, so at cluster scale
    it is written once per corpus drop and each dedup pass reads the
    materialized rows instead of re-tokenizing the corpus.
    """
    return memo(
        spark,
        ("_tokenized_docs", sf_dir),
        [f"{sf_dir}/documents.parquet"],
        lambda: _tokenize(spark, tbl(spark, sf_dir, "documents")).localCheckpoint(),
    )


def _tokenize(spark: SparkSession, docs: DataFrame) -> DataFrame:
    w = F.split(F.col("text"), " ")
    # guard: Spark's sequence(0, n) runs DESCENDING for n<0, so docs with
    # <3 tokens must be dropped (DuckDB's generate_series is empty there).
    toks = docs.filter(F.size(w) >= 3).select("doc_id", w.alias("w"))
    # Width derived from the corpus footprint (floored at core count) —
    # see operators/partitioning.spread; never a hard-coded constant.
    # growth=32 sizes the partitions for what happens DOWNSTREAM of this
    # staging table, not its own bytes: the shingle explode and the
    # posting-list pair expansion multiply per-task state ~30x (the
    # pair-grouping aggregate holds every distinct (a, b) pair its task
    # sees — at 500k docs on input-sized partitions that map was the OOM
    # at the default local heap). Locally the core-count floor still
    # wins; at sf10+ (and on a real corpus) the width tracks expansion.
    return spread(toks, growth=32.0)


def _grams() -> Column:
    """Distinct word-3-gram array over the materialized token column ``w``.

    array_distinct dedups WITHIN the doc, which is the only duplication
    possible for (doc_id, s) — no cross-row distinct needed ever.
    """
    w = F.col("w")
    idx = F.sequence(F.lit(0), F.size(w) - 3)
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                F.element_at(w, i + 1),
                F.element_at(w, i + 2),
                F.element_at(w, i + 3),
            ),
        )
    )


def _grams_hashed() -> Column:
    """Distinct word-3-gram keys as xxhash64 BIGINTs, hashed map-side
    INSIDE the shingle lambda so the raw gram text never reaches an
    exchange (the duplicate-spans trick, queries/corpus_stats.py:95) —
    one 8-byte key per shingle instead of ~25 bytes of text through the
    posting-list shuffle, which was the repo's widest sf10 memory peak.
    Grouping by hash equals grouping by text up to 64-bit collisions
    (pinned hashed == text in tests/test_corpus_stats.py). Consumers
    whose OUTPUT never contains the shingle (Jaccard/containment pair
    counts, the capped twin, decontamination overlap counts) use this
    form; the minhash staging keeps raw grams — its md5(s) must match
    the oracle's md5 of the TEXT key."""
    w = F.col("w")
    idx = F.sequence(F.lit(0), F.size(w) - 3)
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.xxhash64(
                F.concat_ws(
                    " ",
                    F.element_at(w, i + 1),
                    F.element_at(w, i + 2),
                    F.element_at(w, i + 3),
                )
            ),
        )
    )


# --- n-gram Jaccard near-dup pairs: block on shared shingles (equi-join),
# never on the cross product.

JACCARD_SQL = f"""
WITH {SHINGLES_CTE},
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.n_common,
       CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) AS jaccard
FROM pairs p
JOIN counts ca ON ca.doc_id = p.doc_a
JOIN counts cb ON cb.doc_id = p.doc_b
WHERE CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) > 0.5
"""


@register("dedup_ngram_jaccard", sql=JACCARD_SQL, survey=["J13", "A2"], headline=True)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pair generation is blocked on shared shingles, never the cross
    # product: group the long form by shingle, expand ordered doc pairs
    # from the (sorted) posting list, and count rows per pair — each
    # shared shingle contributes exactly one pair row, so the count IS
    # |A ∩ B|. The per-doc set sizes ride along in the posting-list
    # structs, so the whole query is TWO shuffles (groupBy shingle,
    # groupBy pair) and zero joins — the self-join formulation costs
    # four shuffles plus two count-side scans. Pair expansion is two
    # CHAINED Generates (posexplode, then explode of the tail slice):
    # Generate is whole-stage-codegen'd, whereas the equivalent nested
    # transform()/flatten() higher-order expression runs interpreted
    # (~6 µs per emitted struct — measured 7× slower end-to-end). At
    # 100 TB the posting-list grouping is also where a frequent-shingle
    # cap would slot in to bound skew.
    return _jaccard_pairs(_tokenized_docs(spark, sf_dir))


def _jaccard_pairs(toks: DataFrame, threshold: float = 0.5) -> DataFrame:
    pairs = _pair_counts(toks)
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") > threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def _pair_counts(toks: DataFrame, hashed: bool = True) -> DataFrame:
    """(doc_a < doc_b, na, nb, n_common) over shared word-3-grams — the
    posting-list pair expansion shared by the Jaccard and containment
    operators (two shuffles, zero joins; see dedup_ngram_jaccard notes).
    The default ships xxhash64 shingle keys through the posting-list
    exchange (_grams_hashed); hashed=False is the text-keyed twin the
    equivalence test compares against."""
    grams = _grams_hashed() if hashed else _grams()
    # Carry the per-doc set size THROUGH the explode by zipping it next to
    # each shingle inside one generator expression: `size(grams)` in a
    # select next to `explode(grams)` would land in a Project ABOVE the
    # Generate and re-evaluate the gram array once per exploded row
    # (measured 2× slower at sf0.1).
    zipped = F.arrays_zip(grams, F.array_repeat(F.size(grams), F.size(grams)))
    sh = toks.select("doc_id", F.explode(zipped).alias("p")).select(
        "doc_id", F.col("p.0").alias("s"), F.col("p.1").alias("n")
    )
    posting = sh.groupBy("s").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ids")
    )
    expanded = (
        posting.filter(F.size("ids") > 1)
        .select(F.posexplode("ids").alias("i", "a"), F.col("ids"))
        .select(
            "a", F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("b")
        )
    )
    return (
        expanded.groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


# --- Asymmetric n-gram containment (doc-in-doc detection): C(src→dst) =
# |grams(src) ∩ grams(dst)| / |grams(src)| — the quote/inclusion signal
# Jaccard misses (a short doc fully embedded in a long one has high
# containment but low Jaccard because the union is dominated by the long
# doc). Directed pairs at C >= 0.8. Same two-shuffle posting-list plan as
# Jaccard (each undirected pair row fans out to its two directions
# map-side), so everything scale-relevant is shared with
# dedup_ngram_jaccard — blocked on shared shingles, never all-pairs.

_CONTAIN_TAU = 0.8

CONTAINMENT_SQL = f"""
WITH {{SHINGLES}},
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_src, b.doc_id AS doc_dst, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_src, p.doc_dst, p.n_common,
       floor(CAST(p.n_common AS DOUBLE) / ca.n * 1000000.0 + 0.5)
         / 1000000.0 AS containment
FROM pairs p JOIN counts ca ON ca.doc_id = p.doc_src
WHERE CAST(p.n_common AS DOUBLE) / ca.n >= {_CONTAIN_TAU}
"""


@register(
    "dedup_ngram_containment",
    sql=CONTAINMENT_SQL.replace("{SHINGLES}", SHINGLES_CTE),
    survey=["J13", "A2", "P7"],
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _containment_pairs(_pair_counts(_tokenized_docs(spark, sf_dir)))


def _containment_pairs(pairs: DataFrame) -> DataFrame:
    """Directed containment filter over a _pair_counts relation — the
    testable core (the planted doc-in-doc property test builds its own
    corpus)."""
    from nzgmdb_spark.functions import pround

    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_src"),
                    F.col("doc_b").alias("doc_dst"),
                    F.col("na").alias("n_src"),
                    F.col("n_common").alias("n_common"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_src"),
                    F.col("doc_a").alias("doc_dst"),
                    F.col("nb").alias("n_src"),
                    F.col("n_common").alias("n_common"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    c = F.col("n_common").cast("double") / F.col("n_src")
    return (
        directed.filter(c >= _CONTAIN_TAU)
        .select(
            "doc_src",
            "doc_dst",
            "n_common",
            pround(c, 6).alias("containment"),
        )
    )


# --- Near-dup clustering: connected components over the verified Jaccard
# pair graph — the step that turns pairwise near-dup hits into duplicate
# CLUSTERS so a pipeline can keep exactly one representative per cluster
# (cluster_id = min doc_id in the component). Spark side is distributed
# min-label propagation: each round every vertex takes the min label among
# itself and its neighbours (one shuffle join + one aggregation per round),
# with localCheckpoint truncating lineage between rounds — without it the
# plan doubles per iteration. Convergence is detected from sum(cluster_id),
# which strictly decreases until fixpoint (labels only ever decrease), so
# the only driver-side data movement is one scalar per round. Rounds needed
# = graph diameter; near-dup components are near-cliques (diameter ≈ 2).
# At 100 TB: localCheckpoint → reliable checkpoint dir, and the
# alternating large-star/small-star contraction replaces plain propagation
# if diameters grow (O(log n) rounds). The DuckDB oracle is a recursive
# CTE computing the same transitive closure — full value-hash check, not
# rows-only, despite the iterative implementation.

_CC_MAX_ROUNDS = 15

_CC_CTES = f"""{SHINGLES_CTE},
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jp AS (
  SELECT p.doc_a, p.doc_b
  FROM p
  JOIN counts ca ON ca.doc_id = p.doc_a
  JOIN counts cb ON cb.doc_id = p.doc_b
  WHERE CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) > 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION
  SELECT doc_b, doc_a FROM jp
),
reach AS (
  SELECT src AS doc_id, src AS lbl FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst
)"""

CC_SQL = f"""
WITH RECURSIVE {_CC_CTES}
SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id
"""


@register("dedup_cluster_cc", sql=CC_SQL, survey=["J13", "A6", "W5"])
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # Materialize the pair graph once — every propagation round's lineage
    # would otherwise re-run the full Jaccard DAG.
    edges = (
        pairs.union(pairs.select("doc_b", "doc_a"))
        .toDF("src", "dst")
        .localCheckpoint()
    )
    return propagate_min_labels(edges, max_rounds=_CC_MAX_ROUNDS)


def propagate_min_labels(
    edges: DataFrame,
    max_rounds: int = _CC_MAX_ROUNDS,
) -> DataFrame:
    """Min-label propagation over a symmetric (src, dst) edge list →
    (doc_id, cluster_id). Propagation needs one round per unit of
    component diameter; past ``max_rounds`` it escapes to the
    diameter-independent large/small-star contraction
    (``star_contract_labels``) rather than returning silently-wrong
    labels."""
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = None
    for _ in range(max_rounds):
        nbr = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr, labels["doc_id"] == nbr["src"], "left")
            .select(
                labels["doc_id"],
                F.least(
                    labels["cluster_id"],
                    F.coalesce(F.col("nbr_min"), labels["cluster_id"]),
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # A component with diameter > max_rounds would return
        # silently-wrong labels. Escape to the star contraction, whose
        # round count is logarithmic in component size, not linear in
        # diameter — the long-chain case a 100 TB near-dup graph can hit.
        return star_contract_labels(edges)
    return labels


def star_contract_labels(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond") over a symmetric (src, dst) edge list → (doc_id,
    cluster_id = component-min doc_id).

    Unlike min-label propagation — one round per unit of DIAMETER — the
    alternation converges in O(log^2 n) rounds on any graph, so a single
    million-node chain component finishes in ~tens of rounds instead of a
    million. Each round is two grouped aggregations plus two equi-joins
    on node id (all key-partitioned shuffles, nothing corpus-quadratic),
    with lineage truncated per round via localCheckpoint exactly like the
    propagation loop.

    * large-star: for each node x with m = min(x, min Γ(x)), connect every
      LARGER neighbor y > x directly to m. Each undirected edge is seen
      from its smaller endpoint only, so the output edge count never
      exceeds the input's.
    * small-star: orient edges u→v with u > v; for each u with
      m = min Γ⁻(u), connect every smaller neighbor and u itself to m.

    At the fixpoint the edge set is a star forest: every non-root points
    straight at its component minimum.
    """
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    all_nodes = edges.select(F.col("src").alias("doc_id")).distinct().localCheckpoint()
    prev = None
    for _ in range(max_rounds):
        # large-star over the symmetric view: (y, m(x)) for y > x.
        sym = e.select("u", "v").union(e.select("v", "u")).toDF("x", "y")
        mins = (
            sym.groupBy("x")
            .agg(F.min("y").alias("mn"))
            .select("x", F.least("x", "mn").alias("m"))
        )
        large = (
            sym.join(mins, "x")
            .filter(F.col("y") > F.col("x"))
            # y > x >= m, so (y, m) is already in u>v canonical form
            .select(F.col("y").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on the u>v orientation: (v, m(u)) for each smaller
        # neighbor plus (u, m(u)); m <= every v < u, canonical form holds.
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", "m"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # bit_xor digest: order-insensitive set fingerprint with no ANSI
        # overflow (summing 64-bit hashes would throw under ANSI mode).
        cur = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        cur = (cur["n"], cur["h"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_rounds} rounds"
        )
    # Converged edge set is a star forest (u → component min). Nodes that
    # never appear as a larger endpoint are their component's root.
    stars = e.groupBy(F.col("u").alias("doc_id")).agg(
        F.min("v").alias("root")
    )
    return all_nodes.join(stars, "doc_id", "left").select(
        "doc_id", F.coalesce("root", "doc_id").alias("cluster_id")
    )


# --- MinHash + LSH: 8 hash functions (min over md5(k:shingle)), 4 bands of
# 2 rows; candidate pairs share ≥1 band; candidates verified with exact
# Jaccard. At 100 TB the band join is the only shuffle that touches all
# docs, and it is an equi-join on the band hash.

_N_HASH = 8
_BANDS = 4  # rows per band = 2

# One md5 per shingle, then 8 affine universal hashes derived from it
# arithmetically — 8× less hashing than md5-per-(k, shingle), and integer
# min-aggregates instead of 32-char string mins. h0 uses 13 hex chars
# (< 2^52), multipliers < 300, so a*h + b < 2^61: no bigint overflow on
# either engine (Spark runs ANSI mode — overflow would throw, not wrap).
_MOD = 2305843009213693951  # 2^61 - 1
_A = [37 * k + 11 for k in range(_N_HASH)]
_B = [1000003 * k + 12345 for k in range(_N_HASH)]



def _affine_min_sql() -> list[str]:
    """The 8 per-hash minima as SQL expression strings (for selectExpr).

    a*h + b stays < 2^61 (h < 2^52 from 13 hex chars, a < 300), so no
    bigint overflow under ANSI mode on either engine.
    """
    return [
        f"array_min(transform(hs, h -> pmod({_A[k]}L * h + {_B[k]}L, {_MOD}L)))"
        f" AS h{k}"
        for k in range(_N_HASH)
    ]


def _band_inline_sql() -> str:
    """inline() the (band_idx, h_even, h_odd) band rows in one expression."""
    structs = ", ".join(
        f"named_struct('band_idx', {j}, 'h_even', h{2 * j}, 'h_odd', h{2 * j + 1})"
        for j in range(_BANDS)
    )
    return f"inline(array({structs}))"


def _md5_base(s):
    return F.conv(
        F.substring(F.md5(s.cast("binary")), 1, 13), 16, 10
    ).cast("bigint")


def _minhash_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized (doc_id, n, g, hs) signature staging table.

    One md5 pass per shingle per corpus drop, materialized via
    localCheckpoint — the persisted signature staging table both minhash
    queries (full and incremental) read at cluster scale. The checkpoint
    doubles as the materialization barrier that keeps CollapseProject
    from substituting the md5 transform into the 8 per-hash min lambdas
    (lambda-scoped subtrees are excluded from subexpression elimination).
    """

    def build() -> DataFrame:
        toks = _tokenized_docs(spark, sf_dir)
        return toks.select(
            "doc_id", _grams().alias("g")
        ).select(
            "doc_id",
            F.size("g").alias("n"),
            "g",
            F.transform("g", _md5_base).alias("hs"),
        ).localCheckpoint()

    return memo(
        spark, ("_minhash_stage", sf_dir), [f"{sf_dir}/documents.parquet"], build
    )


def _minhash_cols_sql() -> str:
    base = "CAST(('0x' || substr(md5(s), 1, 13)) AS BIGINT)"
    return ",\n         ".join(
        f"min(({_A[k]} * {base} + {_B[k]}) % {_MOD}) AS h{k}"
        for k in range(_N_HASH)
    )


def _band_cols_sql() -> str:
    return ",\n         ".join(
        f"CAST(h{2 * j} AS VARCHAR) || '_' || CAST(h{2 * j + 1} AS VARCHAR)"
        f" AS band{j}"
        for j in range(_BANDS)
    )


MINHASH_SQL = f"""
WITH {SHINGLES_CTE},
sigs AS (
  SELECT doc_id,
         {_minhash_cols_sql()}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
         {_band_cols_sql()}
  FROM sigs
),
band_rows AS (
  {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_idx, band{j} AS band_hash FROM bands" for j in range(_BANDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band_rows a
  JOIN band_rows b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) AS jaccard
FROM inter i
JOIN counts ca ON ca.doc_id = i.doc_a
JOIN counts cb ON cb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) > 0.5
"""


@register("dedup_minhash_lsh", sql=MINHASH_SQL, survey=["J13", "A1"], headline=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shuffle-minimal formulation. Signatures are NARROW: per doc,
    # md5-hash the shingle array once (``transform``), then fold ONE
    # ``aggregate`` pass over those hashes that carries all 8 running
    # minima in a struct accumulator — no explode, no groupBy, and the
    # md5 array expression appears exactly once in the plan (8 separate
    # array_min(transform(hs, ...)) expressions would each re-evaluate
    # ``hs``: lambda-scoped subtrees are excluded from subexpression
    # elimination). The ONLY all-docs shuffle is the band-bucket
    # self-join (that is the point of LSH); candidate verification joins
    # the two shingle arrays back and takes ``size(array_intersect)``
    # instead of re-exploding the corpus into a double equi-join.
    # At 100 TB: band join = plain equi-join on (band_idx, band_hash);
    # verify = two equi-joins on doc id against the array-packed corpus
    # (shuffle-hash; candidates ≪ corpus), everything else map-side.
    # The staging table carries g (for candidate verify) and hs (for the
    # 8 per-hash minima) — 8 small array_min(transform(...)) expressions
    # over the stored hash column analyze and codegen ~10× faster than a
    # single struct-of-8 fold, whose one giant nested lambda tree cost
    # ~4 s of driver-side analysis and ~5 s of first-run codegen per
    # fresh plan.
    hashed = _minhash_stage(spark, sf_dir)
    docs_g = hashed.select("doc_id", "g")
    # Band key = the raw (band_idx, h_even, h_odd) bigint triple. The
    # oracle SQL string-concats the two minima into one varchar key;
    # grouping on the numeric columns directly is the same partition of
    # rows (concat with a separator is injective on the pair) without
    # materializing a ~40-char string per band row — at sf0.1 the string
    # keys cost ~0.1 s of the candidate stage, at 100 TB they double the
    # shuffle-key bytes of the one corpus-wide exchange for nothing.
    # Everything is selectExpr SQL strings, not Column-lambda trees: the
    # 8 transform() lambdas built via py4j cost ~0.3 s of driver wall
    # PER PLAN BUILD; the SQL text parses JVM-side in one round-trip.
    sigs = hashed.selectExpr("doc_id", "n", *_affine_min_sql())
    band_rows = sigs.selectExpr("doc_id", _band_inline_sql())
    # Hot-bucket-capped candidate join (operators/lsh.py): identical to
    # the plain band-key self-join on non-degenerate data, but a
    # duplicate flood that concentrates one bucket emits a linear
    # star instead of a quadratic clique — the oracle hash is unchanged
    # because the test corpora never reach the cap.
    from nzgmdb_spark.operators.lsh import capped_band_candidates

    cand = capped_band_candidates(
        band_rows,
        "doc_id",
        ["band_idx", "h_even", "h_odd"],
        a_name="doc_a",
        b_name="doc_b",
    )
    # Re-deriving docs_g is cheap post-materialization (grams over the
    # stored token array); at 100 TB the signature/gram table would be a
    # persisted staging table instead of a recompute.
    ga = docs_g.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    gb = docs_g.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    verified = (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ga", "gb")).alias("n_common"),
            F.size("ga").alias("na"),
            F.size("gb").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") > 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- SimHash (32-bit): per-token md5 → per-bit ±1 votes → majority sign →
# packed integer signature. Integer-only arithmetic, exact across engines.

_HEX = "0123456789abcdef"


SIMHASH_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
),
th AS (SELECT doc_id, substr(md5(tok), 1, 8) AS h8 FROM toks),
bits AS (
  SELECT doc_id, g.b AS bit_idx,
         CASE WHEN (
           (strpos('{_HEX}', substr(h8, (g.b // 4) + 1, 1)) - 1)
           >> (3 - (g.b % 4))
         ) & 1 = 1 THEN 1 ELSE -1 END AS vote
  FROM th, UNNEST(generate_series(0, 31)) AS g(b)
),
votes AS (
  SELECT doc_id, bit_idx, CAST(sum(vote) AS BIGINT) AS v
  FROM bits GROUP BY doc_id, bit_idx
)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << bit_idx ELSE 0 END)
            AS BIGINT) AS simhash32
FROM votes
GROUP BY doc_id
"""


@register("dedup_simhash", sql=SIMHASH_SQL, survey=["A8", "F9"])
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the raw docs before the tokenize/md5 CPU stages — a
    # single-file corpus reads as 1-2 partitions (growth 4: the token
    # explode widens the data before the partial agg shrinks it)
    d = spread(tbl(spark, sf_dir, "documents"), growth=4.0)
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    th = toks.select(
        "doc_id", F.substring(F.md5(F.col("tok").cast("binary")), 1, 8).alias("h8")
    )
    # All 32 bit votes are computed as COLUMNS of the token rows and
    # summed in ONE map-side partial aggregation: the old shape exploded
    # every token x 32 bit indexes and shuffled (doc, bit) vote rows —
    # 240M rows at sf1, measured 10.6 s; this shuffles one 34-column row
    # per doc (50k rows), ~5x faster, and is the shape that holds at
    # 100 TB (shuffle ∝ docs, not docs x tokens x bits). Nibbles are
    # decoded once per token into 8 columns shared by their 4 bits;
    # conv(hex,16,10) matches the DuckDB oracle's strpos decode.
    nib = th.select(
        "doc_id",
        *[
            F.expr(f"CAST(conv(substring(h8, {k + 1}, 1), 16, 10) AS INT)").alias(
                f"n{k}"
            )
            for k in range(8)
        ],
    )
    votes = nib.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(
                    f"CASE WHEN (shiftright(n{i // 4}, {3 - i % 4}) & 1) = 1 "
                    "THEN 1 ELSE -1 END"
                )
            ).alias(f"v{i}")
            for i in range(32)
        ]
    )
    packed = None
    for i in range(32):
        term = F.expr(
            f"CASE WHEN v{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
            "ELSE CAST(0 AS BIGINT) END"
        )
        packed = term if packed is None else packed + term
    return votes.select("doc_id", packed.cast("bigint").alias("simhash32"))


# --- Embedding-cosine near-dup: flag vector pairs whose cosine similarity
# crosses a threshold. This is the semantic-dedup step of a training-data
# pipeline (the text variants above catch lexical copies; this catches
# paraphrases via their embeddings). The registered operator is the scale
# path end-to-end: deterministic hyperplane-LSH band buckets (b bands of r
# sign bits, md5-derived plane weights — same seeding convention as
# ann_lsh_hyperplane, SURVEY §7.3-4) generate candidate pairs via a plain
# band+bucket EQUI-join, and only candidates are scored by the exact
# DECIMAL(38,12) verify. Nothing is O(n²): indexing is linear explode →
# broadcast-join → two aggregations, and the pair join is blocked on
# bucket collisions, exactly like the shingle-blocked text variants above.
# Recall is the banded OR-construction 1-(1-p^r)^b with p = 1 - θ/π: at
# real near-dup thresholds (cosine ≥ 0.9) it is ≈ 1; at the demo
# threshold 0.4 (chosen because the synthetic embeddings have no planted
# duplicates — max pairwise cosine ≈ 0.6) it keeps a deterministic subset
# of the 59 qualifying sf0.01 pairs. The oracle runs the IDENTICAL
# candidate pipeline in SQL, so the result is value-hash-exact, not
# approximately compared. The recall property at dup thresholds is pinned
# by tests/test_properties.py::test_cosine_neardup_lsh_recall on planted
# near-duplicates.

_COS_THRESHOLD = 0.4
_COS_N_PLANES = 64  # b=8 bands × r=8 bits
_COS_BAND_BITS = 8

COSINE_NEARDUP_SQL = f"""
WITH dims AS (
  SELECT vec_id, g.i AS dim, CAST(embedding[g.i + 1] AS DOUBLE) AS v
  FROM embeddings, UNNEST(generate_series(0, len(embedding) - 1)) AS g(i)
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
  FROM dims GROUP BY vec_id
),
planes AS (
  SELECT p.j AS plane, g.i AS dim,
         CAST(strpos('0123456789abcdef',
                     substr(md5(p.j || '_' || g.i), 1, 1)) - 8.5 AS DOUBLE) AS w
  FROM UNNEST(generate_series(0, {_COS_N_PLANES - 1})) AS p(j),
       UNNEST(generate_series(0, 63)) AS g(i)
),
projs AS (
  SELECT d.vec_id, pl.plane // {_COS_BAND_BITS} AS band, pl.plane,
         CAST(sum(CAST(d.v * pl.w AS DECIMAL(38,12))) AS DOUBLE) AS proj
  FROM dims d JOIN planes pl ON d.dim = pl.dim
  GROUP BY d.vec_id, pl.plane
),
buckets AS (
  SELECT vec_id, band,
         string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, ''
                    ORDER BY plane) AS bucket
  FROM projs GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
dots AS (
  SELECT c.id_a, c.id_b,
         CAST(sum(CAST(da.v * db.v AS DECIMAL(38,12))) AS DOUBLE) AS dot
  FROM cand c
  JOIN dims da ON da.vec_id = c.id_a
  JOIN dims db ON db.vec_id = c.id_b AND db.dim = da.dim
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cosine
FROM dots
JOIN norms na ON na.vec_id = id_a
JOIN norms nb ON nb.vec_id = id_b
WHERE dot / (na.nrm * nb.nrm) >= {_COS_THRESHOLD}
"""

# Decimal ladder (see similarity.py): terms at (20,12), accumulator at
# (32,12) so every fold-step addition stays inside precision 38 — at
# (38,12)+(38,12) Spark drops to scale 11 and rounds each step (~1e-10
# drift over 64 adds vs the oracle's exact scale-12 sum).
_DEC_TERM = "decimal(20,12)"
_DEC_ACC = "decimal(32,12)"


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float = _COS_THRESHOLD,
    n_planes: int = _COS_N_PLANES,
    band_bits: int = _COS_BAND_BITS,
    n_dims: int = 64,
) -> DataFrame:
    """LSH-banded cosine near-dup over (vec_id, embedding array<float>).

    Plan shape (the 100 TB shape — no stage is quadratic in the corpus):
      1. posexplode → broadcast-join the (n_planes × n_dims) md5-derived
         plane table → partial-agg DECIMAL projections per (vec, plane);
      2. one agg per vec builds the sign signature; a map-side transform
         slices it into b = n_planes/band_bits band buckets;
      3. candidates = self-EQUI-join on (band, bucket) + distinct — cost
         ∝ bucket-collision pairs, never all pairs;
      4. exact verify: fetch the two vectors per candidate and fold the
         dot product in DECIMAL (order-independent, oracle-bit-identical);
         the final threshold test uses only the exact value.
    Skewed mega-buckets (many identical vectors) are split by AQE's
    skew-join handling on the candidate equi-join.
    """
    spark = emb.sparkSession
    n_bands = n_planes // band_bits
    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "fv")
    ).select("vec_id", "dim", F.col("fv").cast("double").alias("v"))
    # One flat range, plane/dim by div/mod — a range×range crossJoin would
    # plan as a (harmless but audit-noisy) nested-loop join.
    planes = spark.range(n_planes * n_dims).select(
        (F.col("id") / n_dims).cast("int").alias("plane"),
        (F.col("id") % n_dims).cast("int").alias("dim"),
    ).select(
        "plane",
        "dim",
        F.expr(
            "CAST(conv(substring(md5(CAST(concat(plane, '_', dim) AS BINARY)), 1, 1), 16, 10) AS DOUBLE) - 7.5"
        ).alias("w"),
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
    sig = projs.groupBy("vec_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("plane", "proj"))),
                lambda s: F.when(s.proj >= 0, "1").otherwise("0"),
            ),
        ).alias("sig")
    )
    bands = sig.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), b -> "
                f"named_struct('band', b, 'bucket', substring(sig, b * {band_bits} + 1, {band_bits})))"
            )
        ).alias("bb"),
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # Hot-bucket-capped candidate join (operators/lsh.py): clique below
    # the cap (bit-identical to the plain self-join), linear star around
    # the bucket representative above it — bounds a duplicate flood's
    # candidate volume while keeping every member reachable for dedup.
    from nzgmdb_spark.operators.lsh import capped_band_candidates

    cand = capped_band_candidates(bands, "vec_id", ["band", "bucket"])
    # Ship the vectors through the two verify-join exchanges in their
    # STORED float32 width and widen to double only inside the folds
    # (§2.3 narrower types): float→double is exact, so every product and
    # sum below sees bit-identical operands to the old
    # cast-the-whole-array-first plan while the per-candidate exchange
    # payload is halved (the candidate side of the second join carries a
    # vector per row — the dominant shuffle bytes of this query).
    _d = lambda x: x.cast("double")  # noqa: E731
    wide = emb.select("vec_id", F.col("embedding").alias("v")).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("v"), lambda x: (_d(x) * _d(x)).cast(_DEC_TERM)),
                F.lit(0).cast(_DEC_ACC),
                lambda acc, x: (acc + x).cast(_DEC_ACC),
            ).cast("double")
        ),
    )
    dot_exact = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: (_d(x) * _d(y)).cast(_DEC_TERM)),
        F.lit(0).cast(_DEC_ACC),
        lambda acc, x: (acc + x).cast(_DEC_ACC),
    ).cast("double")
    # Two-stage verify. The DECIMAL fold exists for oracle bit-identity,
    # but paying ~64 decimal ops for EVERY bucket-collision candidate is
    # the dominant cost at scale (8/256 of all pairs collide on random
    # data — ~6M candidates at 20k vectors, measured 28 s). A plain
    # double fold first screens candidates with a 1e-6 guard band: the
    # double and decimal cosines of 64-term sums differ by < ~1e-12, so
    # any pair with double-cosine < threshold - 1e-6 is provably below
    # threshold in decimal too and is dropped without a decimal fold.
    # Survivors (output pairs + the near-threshold sliver) get the exact
    # decimal cosine, and the FINAL threshold decision and output value
    # use only the decimal result — the emitted set is bit-identical to
    # the all-decimal plan.
    dot_fast = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: _d(x) * _d(y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(
            wide.select(
                F.col("vec_id").alias("id_a"),
                F.col("v").alias("va"),
                F.col("nrm").alias("na"),
            ),
            "id_a",
        )
        .join(
            wide.select(
                F.col("vec_id").alias("id_b"),
                F.col("v").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "id_b",
        )
        .filter(dot_fast / (F.col("na") * F.col("nb")) >= threshold - 1e-6)
        .withColumn("cosine", dot_exact / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


@register(
    "dedup_cosine_neardup",
    sql=COSINE_NEARDUP_SQL,
    survey=["J13", "F11"],
)
def dedup_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "embeddings")
    # Single-file parquet = one partition; spread rows so the explode /
    # verify stages use every core (cheap one-pass shuffle of the
    # vectors); width tracks the input footprint, not a core constant.
    e = spread(e)
    return cosine_neardup_pairs(e)


# --- Strict-threshold near-dup (VERDICT r4 ask #3): the REGISTERED
# scaling query at a realistic dup threshold (0.9), so the scaling table
# reads on the operator, not a demo parameterization. The synthetic
# embeddings are isotropic — zero genuine pairs at 0.9 (a vacuous 0-row
# PASS) — so the query PLANTS its own near-duplicates inline: every 10th
# vector gets a twin (id + 1e9) whose dims are scaled by a deterministic
# per-dimension factor 1 + 0.04·((dim mod 7) − 3) → cosine ≈ 0.9968 to
# its original, far above any chaff pair (≤ ~0.5). Output is therefore
# EXACTLY the planted pair per twin — linear in the corpus — while the
# operator still runs the full banded-LSH candidate + decimal-verify
# machinery over the 1.1×n augmented corpus. Both engines derive twins
# from the same double arithmetic, so the oracle is value-hash-exact.

_STRICT_THRESHOLD = 0.9
_TWIN_OFFSET = 1_000_000_000

COSINE_NEARDUP_STRICT_SQL = f"""
WITH dims_base AS (
  SELECT vec_id, g.i AS dim, CAST(embedding[g.i + 1] AS DOUBLE) AS v
  FROM embeddings, UNNEST(generate_series(0, len(embedding) - 1)) AS g(i)
),
dims AS (
  SELECT * FROM dims_base
  UNION ALL
  SELECT vec_id + {_TWIN_OFFSET} AS vec_id, dim,
         v * (CAST(1.0 AS DOUBLE)
              + CAST(0.04 AS DOUBLE) * (dim % 7 - 3)) AS v
  FROM dims_base WHERE vec_id % 10 = 0
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
  FROM dims GROUP BY vec_id
),
planes AS (
  SELECT p.j AS plane, g.i AS dim,
         CAST(strpos('0123456789abcdef',
                     substr(md5(p.j || '_' || g.i), 1, 1)) - 8.5 AS DOUBLE) AS w
  FROM UNNEST(generate_series(0, {_COS_N_PLANES - 1})) AS p(j),
       UNNEST(generate_series(0, 63)) AS g(i)
),
projs AS (
  SELECT d.vec_id, pl.plane // {_COS_BAND_BITS} AS band, pl.plane,
         CAST(sum(CAST(d.v * pl.w AS DECIMAL(38,12))) AS DOUBLE) AS proj
  FROM dims d JOIN planes pl ON d.dim = pl.dim
  GROUP BY d.vec_id, pl.plane
),
buckets AS (
  SELECT vec_id, band,
         string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, ''
                    ORDER BY plane) AS bucket
  FROM projs GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
dots AS (
  SELECT c.id_a, c.id_b,
         CAST(sum(CAST(da.v * db.v AS DECIMAL(38,12))) AS DOUBLE) AS dot
  FROM cand c
  JOIN dims da ON da.vec_id = c.id_a
  JOIN dims db ON db.vec_id = c.id_b AND db.dim = da.dim
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cosine
FROM dots
JOIN norms na ON na.vec_id = id_a
JOIN norms nb ON nb.vec_id = id_b
WHERE dot / (na.nrm * nb.nrm) >= {_STRICT_THRESHOLD}
"""


@register(
    "dedup_cosine_neardup_strict",
    sql=COSINE_NEARDUP_STRICT_SQL,
    survey=["J13", "F11"],
)
def dedup_cosine_neardup_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(tbl(spark, sf_dir, "embeddings"))
    base = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    twins = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(_TWIN_OFFSET)).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CAST(x AS DOUBLE) * "
            "(CAST(1.0 AS DOUBLE) + CAST(0.04 AS DOUBLE) * CAST(i % 7 - 3 AS DOUBLE)))"
        ).alias("embedding"),
    )
    return cosine_neardup_pairs(
        base.unionByName(twins), threshold=_STRICT_THRESHOLD
    )


# --- End-to-end corpus curation DAG: the canonical training-data prep
# pipeline composed from the engine's own stages — quality gate → exact
# dedup → n-gram near-dup drop → deterministic hash split — as ONE
# declarative plan, fully value-hash-checked against a DuckDB CTE chain.
# Drop policy for near-dups is "doc_b of any verified pair" (the higher
# doc_id): deterministic and join-free; the cluster-representative variant
# is dedup_cluster_cc. Plan shape at 100 TB: every stage is a filter,
# window, or the two-shuffle posting-list pair generator over the
# *surviving* (shrinking) corpus; the drop list and split assignment are
# map-side (broadcast anti join + md5 arithmetic).

CURATION_SQL = """
WITH q AS (
  SELECT doc_id, text
  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 20
    AND CAST(len(list_distinct(t)) AS DOUBLE) / len(t) > 0.3
),
uniq AS (
  SELECT doc_id, text FROM q
  QUALIFY row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) = 1
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM uniq),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
dup_b AS (
  SELECT DISTINCT p.doc_b AS doc_id
  FROM pairs p
  JOIN counts ca ON ca.doc_id = p.doc_a
  JOIN counts cb ON cb.doc_id = p.doc_b
  WHERE CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) > 0.5
),
kept AS (
  SELECT doc_id FROM uniq WHERE doc_id NOT IN (SELECT doc_id FROM dup_b)
),
b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
           % 100 AS bucket
  FROM kept
)
SELECT doc_id,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


@register(
    "pipeline_text_curation",
    sql=CURATION_SQL,
    survey=["P7", "A5", "A6", "J13", "P8", "F9", "W4"],
)
def pipeline_text_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = tbl(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    ttr = F.size(F.array_distinct(t)).cast("double") / F.size(t)
    q = d.filter((F.size(t) >= 20) & (ttr > 0.3)).select("doc_id", "text")
    fp = F.md5(F.lower(F.col("text")).cast("binary"))
    uniq = (
        q.withColumn(
            "rn", F.row_number().over(Window.partitionBy(fp).orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    pairs = _jaccard_pairs(_tokenize(spark, uniq), threshold=0.5)
    drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    kept = uniq.join(F.broadcast(drops), "doc_id", "left_anti")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return kept.select(
        "doc_id",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )


# --- Incremental minhash dedup: a NEW batch of documents deduped against
# the EXISTING corpus (the production shape: signatures of the corpus are
# a persisted index table; each scrape batch hashes only itself, band-joins
# against the index, and never re-touches corpus text except for the
# candidate verify). New batch = doc_id % 5 == 0 (a fifth of the corpus),
# existing = the rest; candidates are new×existing only — new×new pairs
# are the NEXT batch's intra-batch dedup, not this query's.

INCR_MINHASH_SQL = f"""
WITH {SHINGLES_CTE},
sigs AS (
  SELECT doc_id,
         {_minhash_cols_sql()}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
         {_band_cols_sql()}
  FROM sigs
),
band_rows AS (
  {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_idx, band{j} AS band_hash FROM bands" for j in range(_BANDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS corpus_doc
  FROM band_rows a
  JOIN band_rows b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.new_doc, c.corpus_doc, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.new_doc
  JOIN sh sb ON sb.doc_id = c.corpus_doc AND sb.s = sa.s
  GROUP BY 1, 2
)
SELECT i.new_doc, i.corpus_doc,
       CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) AS jaccard
FROM inter i
JOIN counts ca ON ca.doc_id = i.new_doc
JOIN counts cb ON cb.doc_id = i.corpus_doc
WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) > 0.5
"""


@register("dedup_incremental_minhash", sql=INCR_MINHASH_SQL, survey=["J13", "A1"])
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-corpus minhash dedup — the incremental-ingest shape.

    At 100 TB: the corpus band table is a PERSISTED index (built once,
    appended per batch); the new batch's band rows are a small relation
    that broadcast- or shuffle-hash-joins against it, so per-batch cost
    scales with the batch, not the corpus. Candidate verify re-reads
    shingles only for matched pairs. This registered query derives both
    sides from the documents table to stay self-contained; the index-side
    plan is identical.
    """
    hashed = _minhash_stage(spark, sf_dir)
    docs_g = hashed.select("doc_id", "g")

    # Numeric (band_idx, h_even, h_odd) band key, built as SQL text —
    # same injective partition of rows as the oracle's string concat,
    # without paying a per-band-row varchar on the index-probe join key
    # (see dedup_minhash_lsh for the full rationale).
    sigs = hashed.selectExpr("doc_id", *_affine_min_sql())
    band_rows = sigs.selectExpr("doc_id", _band_inline_sql())
    new_bands = band_rows.filter(F.col("doc_id") % 5 == 0)
    corpus_bands = band_rows.filter(F.col("doc_id") % 5 != 0)
    cand = (
        new_bands.alias("a")
        .join(
            corpus_bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.h_even") == F.col("b.h_even"))
            & (F.col("a.h_odd") == F.col("b.h_odd")),
        )
        .select(
            F.col("a.doc_id").alias("new_doc"),
            F.col("b.doc_id").alias("corpus_doc"),
        )
        .distinct()
    )
    ga = docs_g.select(F.col("doc_id").alias("new_doc"), F.col("g").alias("ga"))
    gb = docs_g.select(
        F.col("doc_id").alias("corpus_doc"), F.col("g").alias("gb")
    )
    verified = (
        cand.join(ga, "new_doc")
        .join(gb, "corpus_doc")
        .select(
            "new_doc",
            "corpus_doc",
            F.size(F.array_intersect("ga", "gb")).alias("n_common"),
            F.size("ga").alias("na"),
            F.size("gb").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") > 0.5)
        .select("new_doc", "corpus_doc", "jaccard")
    )


# --- Capped-Jaccard near-dup: the skew bound for web-scale corpora.
# A boilerplate shingle ("all rights reserved …") appearing in millions of
# documents makes its posting list — and the pair expansion over it —
# quadratic in that list. The cap drops shingles whose document frequency
# exceeds _SHINGLE_CAP from BOTH the intersection and the per-doc set
# sizes (classic stop-shingle removal), so no posting list, and therefore
# no single task, can exceed cap² pair rows — the per-key work bound that
# lets the plan survive any skew. The oracle applies the identical cap,
# so the semantics are pinned, not approximated.

_SHINGLE_CAP = 4

JACCARD_CAPPED_SQL = f"""
WITH {SHINGLES_CTE},
freq AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
kept AS (
  SELECT sh.doc_id, sh.s
  FROM sh JOIN freq ON freq.s = sh.s
  WHERE freq.c <= {_SHINGLE_CAP}
),
counts AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.n_common,
       CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) AS jaccard
FROM pairs p
JOIN counts ca ON ca.doc_id = p.doc_a
JOIN counts cb ON cb.doc_id = p.doc_b
WHERE CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) > 0.5
"""


@register(
    "dedup_ngram_jaccard_capped", sql=JACCARD_CAPPED_SQL, survey=["J13", "A2"]
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup with the frequent-shingle cap applied.

    Plan: same posting-list shape as dedup_ngram_jaccard, but the posting
    build happens FIRST, oversized lists are filtered by size (one
    comparison per shingle — the skew guard is free), per-doc set sizes
    are recomputed from surviving postings, and pair expansion runs only
    over lists of 2..cap docs. Work per shingle is bounded by cap²
    regardless of corpus-wide shingle frequency.
    """
    toks = _tokenized_docs(spark, sf_dir)
    sh = toks.select(
        "doc_id", F.explode(_grams_hashed()).alias("s")
    )
    posting = (
        sh.groupBy("s")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= _SHINGLE_CAP)
    )
    counts = (
        posting.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expanded = (
        posting.filter(F.size("ids") > 1)
        .select(F.posexplode("ids").alias("i", "a"), F.col("ids"))
        .select(
            "a",
            F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("b"),
        )
    )
    pairs = expanded.groupBy(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
    ).agg(F.count(F.lit(1)).alias("n_common"))
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") > 0.5)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


# --- SimHash Hamming-neighbor search (Manku, Jarmin & Sarma 2007,
# "Detecting Near-Duplicates for Web Crawling" — the production simhash
# dedup recipe): a 48-bit TF-WEIGHTED simhash per doc (the unweighted
# 32-bit signature of dedup_simhash saturates on a small vocabulary:
# 870 hamming-0 pairs on this corpus; weighting votes by term frequency
# and widening to 48 bits brings hamming<=3 down to ~40 pairs vs 25 true
# Jaccard>0.5 near-dups), then the pigeonhole block trick: split the
# signature into 4 blocks of 12 bits — any pair within Hamming distance
# 3 differs in at most 3 blocks, so it MUST agree exactly on at least
# one. Candidates = block equi-join (the banded-LSH shape, never
# all-pairs; EXACT, not probabilistic, for the <=3 radius); verify =
# map-side popcount(xor).
#
# Plan shape at 100 TB: signature build is one tf aggregation plus one
# 48-column map-side vote aggregation (shuffle ∝ docs, not docs×bits);
# candidate generation shuffles 4 block rows per doc; a hot block bucket
# (mega-cluster of identical signatures) is the same skew the
# operators/lsh.py cap bounds — at production scale the signature is
# 64-bit with 5-6 blocks, which shrinks buckets exponentially.

_SH_BITS = 48
_SH_NIBBLES = _SH_BITS // 4
_SH_BLOCKS = 4
_SH_BLOCK_BITS = _SH_BITS // _SH_BLOCKS
_SH_RADIUS = 3

SIMHASH_HAMMING_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
th AS (SELECT doc_id, c, substr(md5(tok), 1, {_SH_NIBBLES}) AS hx FROM tf),
bits AS (
  SELECT doc_id, g.b AS bit_idx,
         CASE WHEN (
           (strpos('{_HEX}', substr(hx, (g.b // 4) + 1, 1)) - 1)
           >> (3 - (g.b % 4))
         ) & 1 = 1 THEN c ELSE -c END AS vote
  FROM th, UNNEST(generate_series(0, {_SH_BITS - 1})) AS g(b)
),
votes AS (
  SELECT doc_id, bit_idx, CAST(sum(vote) AS BIGINT) AS v
  FROM bits GROUP BY doc_id, bit_idx
),
sigs AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << bit_idx ELSE 0 END)
              AS BIGINT) AS sh
  FROM votes GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, sh, g.b AS blk,
         (sh >> ({_SH_BLOCK_BITS} * g.b)) & {(1 << _SH_BLOCK_BITS) - 1} AS bv
  FROM sigs, UNNEST(generate_series(0, {_SH_BLOCKS - 1})) AS g(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sh AS sa, b.sh AS sb
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sa, sb)) <= {_SH_RADIUS}
"""


@register(
    "dedup_simhash_hamming", sql=SIMHASH_HAMMING_SQL, survey=["A8", "J13", "W4"]
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_hamming_pairs(
        spread(tbl(spark, sf_dir, "documents"), growth=4.0)
    )


def simhash_blocks(d: DataFrame) -> DataFrame:
    """48-bit TF-weighted simhash signatures exploded into the 4 Manku
    pigeonhole blocks — the candidate-generation input of
    simhash_hamming_pairs."""
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    th = tf.select(
        "doc_id",
        "c",
        F.substring(F.md5(F.col("tok").cast("binary")), 1, _SH_NIBBLES).alias("hx"),
    )
    # same column-wise vote shape as dedup_simhash: decode the hex
    # nibbles once, emit all 48 signed-count votes as columns of the
    # token rows, sum them in ONE map-side partial aggregation.
    nib = th.select(
        "doc_id",
        "c",
        *[
            F.expr(f"CAST(conv(substring(hx, {k + 1}, 1), 16, 10) AS INT)").alias(
                f"n{k}"
            )
            for k in range(_SH_NIBBLES)
        ],
    )
    votes = nib.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    (F.col(f"n{b // 4}").bitwiseAND(1 << (3 - (b % 4)))) != 0,
                    F.col("c"),
                ).otherwise(-F.col("c"))
            ).alias(f"v{b}")
            for b in range(_SH_BITS)
        ]
    )
    sig = votes.select(
        "doc_id",
        sum(
            (F.col(f"v{b}") > 0).cast("bigint") * F.lit(1 << b)
            for b in range(_SH_BITS)
        ).alias("sh"),
    )
    mask = (1 << _SH_BLOCK_BITS) - 1
    return sig.select(
        "doc_id",
        "sh",
        F.explode(F.sequence(F.lit(0), F.lit(_SH_BLOCKS - 1))).alias("blk"),
    ).select(
        "doc_id",
        "sh",
        "blk",
        F.expr(f"(sh >> ({_SH_BLOCK_BITS} * blk)) & {mask}").alias("bv"),
    )


def simhash_hamming_pairs(d: DataFrame) -> DataFrame:
    """Manku 4-block pigeonhole Hamming-neighbor pairs over (doc_id, text)."""
    blocks = simhash_blocks(d)
    # Hot-bucket-capped candidate generation (operators/lsh.py): a flood
    # of exact duplicates collides in ALL 4 blocks, so the naive
    # (blk, bv) self-join would emit ~2·B² pairs before distinct; the
    # capped star bounds that to 4·(B−1) while keeping every flood
    # member paired with the bucket representative (Hamming 0 for exact
    # dups → still flagged). Signatures ride through as payload, so the
    # Hamming verify needs no corpus re-join.
    from nzgmdb_spark.operators.lsh import capped_band_candidates

    cand = capped_band_candidates(
        blocks,
        "doc_id",
        ["blk", "bv"],
        a_name="doc_a",
        b_name="doc_b",
        payload_cols=["sh"],
    ).withColumnsRenamed({"sh_a": "sa", "sh_b": "sb"})
    ham = F.bit_count(F.expr("sa ^ sb"))
    return cand.filter(ham <= _SH_RADIUS).select(
        "doc_a", "doc_b", ham.cast("bigint").alias("hamming")
    )


# --- Cluster representative selection ("keep best", not "keep first"):
# production dedup keeps the HIGHEST-QUALITY member of each near-dup
# cluster, not the lowest doc_id — the composition step between
# dedup_cluster_cc and the quality gates. Quality here is the
# type-token ratio (an integer-count ratio, so the score is a
# bit-identical double on both engines); ties break on doc_id.
#
# Plan shape at 100 TB: the cluster labels come from the CC fixpoint
# (one shuffle join + agg per round, see propagate_min_labels); rep
# selection is one window over clusters whose partition size is the
# cluster multiplicity — bounded by the same argument as every keep-x
# window in this module.

KEEP_BEST_SQL = f"""
WITH RECURSIVE {_CC_CTES},
cl AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id),
q AS (
  SELECT doc_id,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ttr
  FROM documents
),
ranked AS (
  SELECT cl.cluster_id, cl.doc_id, q.ttr,
         row_number() OVER (
           PARTITION BY cl.cluster_id ORDER BY q.ttr DESC, cl.doc_id
         ) AS rn,
         count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
  FROM cl JOIN q ON q.doc_id = cl.doc_id
)
SELECT cluster_id, doc_id AS rep_doc_id,
       CAST(n_members AS BIGINT) AS n_members,
       floor(ttr * 1000000.0 + 0.5) / 1000000.0 AS rep_ttr
FROM ranked WHERE rn = 1
"""


@register("dedup_cluster_keep_best", sql=KEEP_BEST_SQL, survey=["A1", "A6", "J1"])
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from nzgmdb_spark.functions import pround

    labels = dedup_cluster_cc(spark, sf_dir)
    d = tbl(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    q = d.select(
        "doc_id",
        (F.size(F.array_distinct(t)).cast("double") / F.size(t)).alias("ttr"),
    )
    joined = labels.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("ttr").desc(), F.col("doc_id"))
    wc = Window.partitionBy("cluster_id")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc).cast("bigint"))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            "n_members",
            pround(F.col("ttr"), 6).alias("rep_ttr"),
        )
    )
