"""Corpus-level statistics and sub-document dedup for LLM training data.

Four operators that round out the curation surface (beyond the
reference's own scope — these are the large-corpus pipeline ops the
task brief asks for as first-class components):

- ``text_duplicate_spans``  — exact substring-duplication detection in
  the style of Lee et al. 2021 ("Deduplicating Training Data Makes
  Language Models Better", arXiv:2107.06499): every 8-token window,
  stride 1, flagged when the identical window occurs >1 time anywhere
  in the corpus.
- ``dedup_segment_rewrite`` — sub-document (segment-level) dedup with
  document reassembly, the RefinedWeb/CCNet-style "drop repeated
  paragraphs, keep the rest of the doc" shape (here a segment is a
  16-token chunk; the corpus is single-space delimited so there are no
  natural paragraph breaks).
- ``text_bigram_perplexity`` — CCNet-style LM quality filter (Wenzek
  et al. 2020, arXiv:1911.00359): an interpolated bigram language model
  trained on the corpus itself scores every document; low-perplexity
  docs pass.
- ``text_pmi_collocations`` — corpus collocation statistics: top-100
  token pairs by pointwise mutual information within a ±2 token window
  (the classic word-association statistic, Church & Hanks 1990).

All four are pure Spark SQL expression plans (zero Python UDFs) over
the session-cached tokenized staging table (`dedup._tokenized_docs`),
so tokenization cost is shared with the whole dedup family and every
downstream expression stays inside whole-stage codegen.

Determinism contract (drives the DuckDB value-hash oracles): counts are
integers; every float is produced by the identical IEEE-double
expression sequence on both engines; per-token log terms are cast to
DECIMAL(38,12) before summation so reduction order is irrelevant; and
displayed floats go through ``pround`` (portable half-up rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nzgmdb_spark.functions import pround
from nzgmdb_spark.queries.registry import register

# --- Exact duplicate spans (Lee et al. 2021). Every 8-token window at
# stride 1; a window is duplicated when the identical text occurs >1
# time corpus-wide (planted near-dups share long exact runs, so this
# catches cross-document template reuse that document-hash dedup
# misses).
#
# Plan shape at 100 TB: one explode (~L windows/doc), ONE span-keyed
# shuffle — there is no join back to the span stream. A span whose
# corpus-wide count is 1 has exactly one owning document, so per-doc
# duplicated spans are a complement: n_dup_spans = n_spans −
# #singleton-spans-owned. The span aggregation therefore emits only
# (owner, 1) rows for singleton spans; everything else (total spans per
# doc, owned-singleton counts) is a doc-cardinality aggregate with full
# map-side combine. The previous shape re-shuffled the whole span
# stream to equi-join its counts and held the repo's second-widest sf10
# memory peak (10.9 GiB) in that join's sorts. No all-pairs anywhere; a
# mega-frequent boilerplate span is a single hot count key absorbed by
# partial aggregation. The registered path xxhash64-es the window
# string to 8 bytes BEFORE the shuffle (~10x fewer shuffle bytes;
# grouping by hash equals grouping by text up to 64-bit collisions, the
# standard Lee-et-al trade); the text path is kept as an internal twin
# that the exact DuckDB oracle mirrors, and a property test pins
# hashed == text output on the test corpus.

_SPAN_K = 8

DUP_SPANS_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sp AS (
  SELECT doc_id, array_to_string(t[i:i+{_SPAN_K - 1}], ' ') AS s
  FROM toks, UNNEST(generate_series(1, len(t) - {_SPAN_K - 1})) AS g(i)
),
c AS (SELECT s, count(*) AS n_occ FROM sp GROUP BY s)
SELECT sp.doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       floor(CAST(sum(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1000000.0 + 0.5) / 1000000.0 AS dup_fraction
FROM sp JOIN c USING (s)
GROUP BY sp.doc_id
HAVING sum(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) > 0
"""


@register("text_duplicate_spans", sql=DUP_SPANS_SQL, survey=["A2", "J7", "P7"])
def text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _duplicate_spans(spark, sf_dir, hashed=True)


def _span_stream(toks: DataFrame, hashed: bool) -> DataFrame:
    """The (doc_id, s) span stream of :func:`_duplicate_spans`: every
    _SPAN_K-token window at stride 1. The span key: hashed = xxhash64 of
    the window string (the registered query), computed map-side inside the
    explode lambda so the raw text never reaches an exchange; text = the
    window string itself (the oracle's shape, which the tests compare the
    hashed key against). sequence() descends for stop <
    start — guard short docs explicitly (DuckDB's generate_series is
    simply empty there)."""
    span = f"array_join(slice(w, i, {_SPAN_K}), ' ')"
    if hashed:
        span = f"xxhash64({span})"
    return toks.filter(F.size("w") >= _SPAN_K).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {_SPAN_K - 1}), "
                f"i -> {span})"
            )
        ).alias("s"),
    )


def _duplicate_spans(
    spark: SparkSession, sf_dir: str, hashed: bool
) -> DataFrame:
    from nzgmdb_spark.queries.dedup import _tokenized_docs

    spans = _span_stream(_tokenized_docs(spark, sf_dir), hashed)
    # Complement identity — no join back to the span stream: a span with
    # corpus-wide count 1 is owned by exactly one doc (min == its only
    # occurrence), so n_dup_spans = n_spans − #owned-singletons. The one
    # span-keyed shuffle feeds BOTH doc-sized aggregates; a within-doc
    # repeat (n_occ > 1, one owner) is correctly a duplicated span.
    singles = (
        spans.groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("n_occ") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_single"))
    )
    per_doc = spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    n_dup = (F.col("n_spans") - F.coalesce(F.col("n_single"), F.lit(0))).cast(
        "bigint"
    )
    return (
        per_doc.join(singles, "doc_id", "left")
        .select("doc_id", "n_spans", n_dup.alias("n_dup_spans"))
        .filter(F.col("n_dup_spans") > 0)
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            pround(
                F.col("n_dup_spans").cast("double") / F.col("n_spans"), 6
            ).alias("dup_fraction"),
        )
    )


# --- Segment-level dedup with reassembly. Segments are 16-token chunks;
# the global keep-first rule is "the occurrence with the smallest
# (doc_id, seg_idx) wins"; every document is then reassembled from its
# surviving segments in order (md5 of the rewritten text is emitted so
# the oracle hash pins the full reconstruction, not just the counts).
#
# Plan shape at 100 TB: one explode, one hash-partitioned window over
# the segment text (row_number — partition size = multiplicity of one
# segment, bounded), one per-doc agg whose collect_list holds at most
# the segments of a single document. No global sort, no driver state.

_SEG_LEN = 16

SEGMENT_REWRITE_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
seg AS (
  SELECT doc_id, CAST((i - 1) // {_SEG_LEN} AS BIGINT) AS seg_idx,
         array_to_string(t[i:i+{_SEG_LEN - 1}], ' ') AS s
  FROM toks, UNNEST(generate_series(1, len(t), {_SEG_LEN})) AS g(i)
),
ranked AS (
  SELECT doc_id, seg_idx, s,
         row_number() OVER (PARTITION BY s ORDER BY doc_id, seg_idx) AS rn
  FROM seg
)
SELECT doc_id,
       count(*) AS n_segs,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN s END, ' '
                               ORDER BY seg_idx), '')) AS rewrite_md5
FROM ranked
GROUP BY doc_id
"""


@register("dedup_segment_rewrite", sql=SEGMENT_REWRITE_SQL, survey=["A6", "W4", "F2"])
def dedup_segment_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nzgmdb_spark.queries.dedup import _tokenized_docs

    toks = _tokenized_docs(spark, sf_dir)
    seg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w), {_SEG_LEN}), "
                f"i -> struct(CAST((i - 1) DIV {_SEG_LEN} AS BIGINT) AS seg_idx, "
                f"array_join(slice(w, i, {_SEG_LEN}), ' ') AS s))"
            )
        ).alias("g"),
    ).select("doc_id", "g.seg_idx", "g.s")
    rn = F.row_number().over(Window.partitionBy("s").orderBy("doc_id", "seg_idx"))
    ranked = seg.withColumn("rn", rn)
    kept = F.when(F.col("rn") == 1, F.struct("seg_idx", "s"))  # nulls skipped
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum((F.col("rn") == 1).cast("bigint")).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept)), lambda x: x["s"]),
                " ",
            )
        ).alias("rewrite_md5"),
    )


# --- CCNet-style bigram LM quality filter. The model is trained on the
# corpus itself (the production recipe trains on a clean target corpus;
# the join topology is identical): interpolated
# p(w2|w1) = 0.7·c(w1,w2)/c(w1) + 0.3·c(w2)/N. Per-doc average negative
# log-likelihood; docs below the fixed threshold pass (corpus NLL spans
# ~3.31–3.67, so 3.4 ≈ the median splits it meaningfully).
#
# Plan shape at 100 TB: unigram/bigram counts are map-side-combinable
# aggs; the unigram table (vocab) broadcasts; the score lookup is the
# one corpus-sized shuffle, and its stream side carries only
# (doc_id, xxhash64(w1, w2)) — 16-byte rows, strings stay map-side
# (skew absorbed by partial agg + AQE); scoring is then map-side;
# per-doc agg closes. The
# DECIMAL(38,12) cast on each log term makes the per-doc sum
# reduction-order-proof, so the value hash is stable across engines and
# partitionings.

_LM_THRESH = 3.4

BIGRAM_NLL_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
uni AS (SELECT UNNEST(t) AS w FROM toks),
uc AS (SELECT w, count(*) AS cu FROM uni GROUP BY w),
nu AS (SELECT count(*) AS n FROM uni),
bi AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
),
bc AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2),
scored AS (
  SELECT bi.doc_id,
         CAST(ln(0.7 * (CAST(bc.cb AS DOUBLE) / u1.cu)
               + 0.3 * (CAST(u2.cu AS DOUBLE) / nu.n)) AS DECIMAL(38,12)) AS lp
  FROM bi
  JOIN bc ON bc.w1 = bi.w1 AND bc.w2 = bi.w2
  JOIN uc u1 ON u1.w = bi.w1
  JOIN uc u2 ON u2.w = bi.w2
  CROSS JOIN nu
)
SELECT doc_id,
       count(*) AS n_bigrams,
       floor(-(CAST(sum(lp) AS DOUBLE)) / count(*) * 1000000.0 + 0.5)
         / 1000000.0 AS avg_nll,
       CASE WHEN -(CAST(sum(lp) AS DOUBLE)) / count(*) < {_LM_THRESH}
            THEN 1 ELSE 0 END AS lm_pass
FROM scored
GROUP BY doc_id
"""


@register("text_bigram_perplexity", sql=BIGRAM_NLL_SQL, survey=["A2", "F9", "J1"])
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bigram_nll(spark, sf_dir, hashed=True)


def _bigram_nll(spark: SparkSession, sf_dir: str, hashed: bool) -> DataFrame:
    from nzgmdb_spark.queries.dedup import _tokenized_docs

    toks = _tokenized_docs(spark, sf_dir)
    bi = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    uni = toks.select(F.explode("w").alias("wd"))
    uc = uni.groupBy("wd").agg(F.count(F.lit(1)).alias("cu"))
    nu = uni.agg(F.count(F.lit(1)).alias("n"))
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    # Per-DISTINCT-bigram score: the vocab joins broadcast against the
    # (partial-agg-shrunk) bigram-count table, so the corpus-sized bigram
    # stream never carries strings into the scoring join.
    lp = (
        F.log(
            F.lit(0.7) * (F.col("cb").cast("double") / F.col("cu1"))
            + F.lit(0.3) * (F.col("cu2").cast("double") / F.col("n"))
        )
        .cast("decimal(38,12)")
        .alias("lp")
    )
    bcl = (
        bc.join(
            F.broadcast(uc.select(F.col("wd").alias("w1"), F.col("cu").alias("cu1"))),
            "w1",
        )
        .join(
            F.broadcast(uc.select(F.col("wd").alias("w2"), F.col("cu").alias("cu2"))),
            "w2",
        )
        .crossJoin(F.broadcast(nu))
    )
    if hashed:
        # The corpus-sized exchange ships (doc_id, xxhash64(w1, w2)) —
        # 16-byte rows, computed inside the explode lambda so the bigram
        # strings never leave the map side of the stream. Keying the
        # score lookup by hash equals keying by (w1, w2) up to 64-bit
        # collisions (the same Lee-et-al trade as text_duplicate_spans);
        # the string-keyed twin below mirrors the exact DuckDB oracle and
        # a property test pins hashed == text output frame-for-frame.
        bih = toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> xxhash64(element_at(w, i), element_at(w, i + 1)))"
                )
            ).alias("h"),
        )
        scored = bih.join(
            bcl.select(F.xxhash64("w1", "w2").alias("h"), lp), "h"
        ).select("doc_id", "lp")
    else:
        scored = bi.join(bcl.select("w1", "w2", lp), ["w1", "w2"]).select(
            "doc_id", "lp"
        )
    nll = -(F.sum("lp").cast("double")) / F.count(F.lit(1))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        pround(nll, 6).alias("avg_nll"),
        F.when(nll < _LM_THRESH, 1).otherwise(0).alias("lm_pass"),
    )


# --- PMI collocations: top-100 unordered token pairs co-occurring
# within a ±2 window, min pair count 5, by pointwise mutual information
# ln(p(a,b)/(p(a)p(b))). Ranked on the ROUNDED pmi with (w1, w2)
# tiebreak so the cutoff is deterministic across engines.
#
# Plan shape at 100 TB: pair generation is two shifted map-side
# projections (union), the pair count is one map-side-combinable agg,
# the vocab joins broadcast, and top-100 is TakeOrderedAndProject (a
# per-partition heap + driver merge), never a global sort.

_PMI_MIN_COUNT = 5
_PMI_TOP_K = 100

PMI_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
uni AS (SELECT UNNEST(t) AS w FROM toks),
uc AS (SELECT w, count(*) AS cu FROM uni GROUP BY w),
nu AS (SELECT count(*) AS n FROM uni),
pr AS (
  SELECT least(t[i], t[i+d]) AS w1, greatest(t[i], t[i+d]) AS w2
  FROM toks,
       UNNEST(generate_series(1, len(t) - 1)) AS g(i),
       (SELECT UNNEST([1, 2]) AS d) dd
  WHERE i + d <= len(t)
),
pc AS (SELECT w1, w2, count(*) AS n_pair FROM pr GROUP BY w1, w2),
np AS (SELECT count(*) AS n FROM pr)
SELECT w1, w2, n_pair,
       floor((ln(CAST(n_pair AS DOUBLE) / np.n)
              - ln(CAST(u1.cu AS DOUBLE) / nu.n)
              - ln(CAST(u2.cu AS DOUBLE) / nu.n)) * 1000000.0 + 0.5)
         / 1000000.0 AS pmi
FROM pc JOIN uc u1 ON u1.w = pc.w1 JOIN uc u2 ON u2.w = pc.w2
CROSS JOIN np CROSS JOIN nu
WHERE n_pair >= {_PMI_MIN_COUNT}
QUALIFY row_number() OVER (ORDER BY pmi DESC, w1, w2) <= {_PMI_TOP_K}
"""


def _shifted_pairs(toks: DataFrame, d: int) -> DataFrame:
    return toks.select(
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {d}), "
                f"i -> struct(least(element_at(w, i), element_at(w, i + {d})) AS w1, "
                f"greatest(element_at(w, i), element_at(w, i + {d})) AS w2))"
            )
        ).alias("g")
    ).select("g.w1", "g.w2")


@register("text_pmi_collocations", sql=PMI_SQL, survey=["A2", "O2", "O3"])
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nzgmdb_spark.queries.dedup import _tokenized_docs

    toks = _tokenized_docs(spark, sf_dir)
    pr = _shifted_pairs(toks, 1).unionByName(_shifted_pairs(toks, 2))
    uni = toks.select(F.explode("w").alias("wd"))
    uc = uni.groupBy("wd").agg(F.count(F.lit(1)).alias("cu"))
    nu = uni.agg(F.count(F.lit(1)).alias("n_u"))
    pc = pr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    np_ = pr.agg(F.count(F.lit(1)).alias("n_p"))
    pmi = (
        F.log(F.col("n_pair").cast("double") / F.col("n_p"))
        - F.log(F.col("cu1").cast("double") / F.col("n_u"))
        - F.log(F.col("cu2").cast("double") / F.col("n_u"))
    )
    return (
        pc.filter(F.col("n_pair") >= _PMI_MIN_COUNT)
        .join(
            F.broadcast(uc.select(F.col("wd").alias("w1"), F.col("cu").alias("cu1"))),
            "w1",
        )
        .join(
            F.broadcast(uc.select(F.col("wd").alias("w2"), F.col("cu").alias("cu2"))),
            "w2",
        )
        .crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(nu))
        .select("w1", "w2", "n_pair", pround(pmi, 6).alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_PMI_TOP_K)
    )


# --- Temperature-scaled mixture sampling (the multilingual-corpus
# balancing recipe of mT5 / XLM-R, arXiv:2010.11934 §3.1): language l
# is sampled proportionally to p_l^alpha rather than p_l, boosting
# low-resource languages. alpha = 0.5 here, i.e. weights = sqrt(n_l) —
# sqrt is IEEE-correctly-rounded on both engines, so quotas are exactly
# deterministic (a pow(x, 0.3) would be libm-dependent in the last
# ulp). The budget is half the corpus; per-language quotas are filled
# by an md5-keyed uniform ranking (the portable-pseudo-randomness
# convention), capped at the language's own size.
#
# Plan shape at 100 TB: the language histogram is one map-side
# combinable agg producing a languages-sized relation (broadcast); the
# selection is one window per language (hash-partitioned on lang, the
# natural shard key) + a broadcast join against the quota table.

TEMP_SAMPLE_SQL = """
WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
tot AS (
  SELECT CAST(sum(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE) AS sw,
         CAST(sum(n) AS BIGINT) // 2 AS budget
  FROM counts
),
quotas AS (
  SELECT c.lang, c.n,
         CAST(floor(t.budget * (sqrt(CAST(c.n AS DOUBLE)) / t.sw) + 0.5)
              AS BIGINT) AS quota
  FROM counts c CROSS JOIN tot t
),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST(('0x' || substr(md5('temp_' || CAST(doc_id AS VARCHAR)),
                                         1, 8)) AS BIGINT), doc_id
         ) AS samp_rank
  FROM documents
)
SELECT r.doc_id, r.lang, r.samp_rank
FROM ranked r JOIN quotas q ON q.lang = r.lang
WHERE r.samp_rank <= LEAST(q.quota, q.n)
"""


@register("sample_temperature_mixture", sql=TEMP_SAMPLE_SQL, survey=["A2", "P7", "W3"])
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nzgmdb_spark.tables import tbl

    d = tbl(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum(F.sqrt(F.col("n").cast("double")).cast("decimal(38,12)"))
        .cast("double")
        .alias("sw"),
        F.expr("CAST(sum(n) DIV 2 AS BIGINT)").alias("budget"),
    )
    quotas = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        F.floor(
            F.col("budget") * (F.sqrt(F.col("n").cast("double")) / F.col("sw"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("quota"),
    )
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("temp_"), F.col("doc_id").cast("string")).cast("binary")),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    ranked = d.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(bucket, F.col("doc_id")))
        .alias("samp_rank"),
    )
    return (
        ranked.join(F.broadcast(quotas), "lang")
        .filter(F.col("samp_rank") <= F.least("quota", "n"))
        .select("doc_id", "lang", "samp_rank")
    )


# --- Content-defined chunking (the FastCDC/rsync family of
# rolling-hash chunkers, applied at token granularity): a chunk
# boundary falls AFTER any token whose md5-derived hash is 0 mod
# _CDC_MOD, so chunk boundaries are a function of CONTENT, not
# position — an insertion near the head of a document shifts every
# fixed-stride segment but leaves all downstream CDC chunks (and
# therefore their dedup hashes) intact. That shift-robustness is why
# storage dedup uses CDC; here it complements the fixed 16-token
# segments of dedup_segment_rewrite. Output: per-doc chunk count,
# max chunk length, and how many of the doc's chunks also occur
# elsewhere in the corpus (shift-robust duplication signal).
#
# Plan shape at 100 TB: boundary flags and chunk ids are per-doc
# window cumulative sums (partition = one document), chunk assembly is
# a per-(doc, chunk) agg, and the dup check is the same
# count-per-text + join-back shape as text_duplicate_spans — all
# map-side combinable, no all-pairs.

_CDC_MOD = 8

CDC_SQL = f"""
WITH toks AS (
  SELECT doc_id, i AS pos, t[i] AS tok,
         CASE WHEN CAST(('0x' || substr(md5('cdc_' || t[i]), 1, 8)) AS BIGINT)
                   % {_CDC_MOD} = 0 THEN 1 ELSE 0 END AS bnd
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       UNNEST(generate_series(1, len(t))) AS g(i)
),
chunked AS (
  SELECT doc_id, pos, tok,
         CAST(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) - bnd AS BIGINT) AS chunk_idx
  FROM toks
),
chunks AS (
  SELECT doc_id, chunk_idx,
         string_agg(tok, ' ' ORDER BY pos) AS s,
         count(*) AS n_tok
  FROM chunked GROUP BY doc_id, chunk_idx
),
occ AS (SELECT s, count(*) AS n_occ FROM chunks GROUP BY s)
SELECT c.doc_id,
       count(*) AS n_chunks,
       CAST(max(c.n_tok) AS BIGINT) AS max_chunk_tokens,
       CAST(sum(CASE WHEN o.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
FROM chunks c JOIN occ o ON o.s = c.s
GROUP BY c.doc_id
"""


def _cdc_chunk_array(toks_raw: DataFrame) -> DataFrame:
    """MAP-SIDE content-defined chunking: adds a ``chunks`` column
    (array<struct<chunk_idx, s, n_tok>>) to a (doc_id, w: array<string>)
    relation. CDC chunking is doc-LOCAL — a boundary token (md5 hash ≡ 0
    mod _CDC_MOD) closes its chunk, so the chunk list is a pure function
    of the row's own token array. The boundary positions come from one
    ``filter`` over the positions, each chunk is a ``slice`` between
    consecutive boundaries (with the tail closed at the last token), and
    chunk_idx = k − 1 reproduces the running-boundary-count id of the
    windowed form exactly. The previous shape exploded to token rows and
    paid a corpus-wide window sort plus a collect_list regroup — three
    corpus-sized exchanges and the repo's largest sf10 memory peak
    (12.5 GiB) for arithmetic that never needed a token to leave its
    row. Rows with empty/null token arrays are dropped, matching the
    old posexplode behavior."""
    # The boundary array must become a real ATTRIBUTE before any lambda
    # indexes it: a withColumn alias gets INLINED by projection collapse,
    # and an alias referenced inside a per-element lambda re-evaluates
    # its whole tree (boundary filter + per-token md5) once per CHUNK —
    # measured as 74 md5 copies in the optimized plan and an
    # O(chunks × tokens) blow-up (sf10 wall 7.7 s → 264 s). The
    # explode-of-a-one-element-array generator is the barrier: exactly
    # one output row per input row, _ends evaluated once, and the chunk
    # transform's element_at(_ends, k) is then O(1) attribute indexing.
    # Boundary positions are confined to [1, n − 1] with position n
    # always appended — identical to "a boundary token closes its chunk"
    # because the last token closes the final chunk whether or not it
    # hashes to a boundary.
    bnd_i = (
        "cast(conv(substring(md5(cast(concat('cdc_', element_at(w, i)) "
        f"as binary)), 1, 8), 16, 10) as bigint) % {_CDC_MOD} = 0"
    )
    ends = (
        "concat(if(size(w) < 2, array(), "
        f"filter(sequence(1, size(w) - 1), i -> {bnd_i})), array(size(w)))"
    )
    start_k = "if(k = 0, 1, element_at(_ends, k) + 1)"
    return (
        toks_raw.filter(F.size("w") >= 1)
        .select("*", F.explode(F.array(F.expr(ends))).alias("_ends"))
        .withColumn(
            "chunks",
            F.expr(
                "transform(_ends, (e, k) -> struct("
                "cast(k as bigint) as chunk_idx, "
                f"array_join(slice(w, {start_k}, e - {start_k} + 1), ' ') as s, "
                f"cast(e - {start_k} + 1 as bigint) as n_tok))"
            ),
        )
        .drop("_ends")
    )


def _cdc_chunk_rows(toks_raw: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, s, n_tok) content-defined chunks over a
    (doc_id, w: array<string>) relation — the testable core of
    text_cdc_chunks (the shift-robustness property test constructs its
    own corpus). One row per chunk, exploded from the map-side chunk
    array."""
    return (
        _cdc_chunk_array(toks_raw)
        .select("doc_id", F.explode("chunks").alias("c"))
        .select("doc_id", "c.chunk_idx", "c.s", "c.n_tok")
    )


@register("text_cdc_chunks", sql=CDC_SQL, survey=["W1", "A4", "A2"])
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nzgmdb_spark.queries.dedup import _tokenized_docs

    chunks = _cdc_chunk_rows(_tokenized_docs(spark, sf_dir))
    # Complement identity (the duplicate-spans trick): a chunk key with
    # corpus-wide count 1 has exactly one owning doc, so n_dup_chunks =
    # n_chunks − #owned-singletons. Both aggregates read the EXPLODED
    # chunk rows — not size()/array_max() over the chunks column, which
    # projection collapse would inline into fresh evaluations of the
    # whole fold — so the map-side chunk build runs once per branch and
    # the chunk-keyed singleton count is the only corpus-sized exchange
    # (the per-doc branch is map-side combined to one row per doc).
    singles = (
        chunks.groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("n_occ") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_single"))
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.max("n_tok").cast("bigint").alias("max_chunk_tokens"),
    )
    return per_doc.join(singles, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        "max_chunk_tokens",
        (F.col("n_chunks") - F.coalesce(F.col("n_single"), F.lit(0)))
        .cast("bigint")
        .alias("n_dup_chunks"),
    )


# --- Token-distribution entropy: Shannon entropy of each document's
# unigram distribution plus its normalized form H/ln(|vocab_doc|) — a
# standard curation signal (low entropy = repetitive/boilerplate text;
# the Gopher rules' repetition fractions measure specific patterns,
# entropy measures the whole distribution). H = -Σ (c/n)·ln(c/n) with
# each term cast to DECIMAL(38,12) before the sum, so the reduction is
# order-proof and the value hash exact.
#
# Plan shape at 100 TB: MAP-ONLY. The entropy of a document's own token
# distribution never needs a token to leave its row: sort the token
# array in place and reduce it with one higher-order fold that closes
# each equal-run by adding that token's DECIMAL(38,12)-cast term —
# decimal addition is exact and order-proof, so the fold's sum is
# bit-identical to the oracle's GROUP-BY-then-SUM over the same cast
# terms (the previous shape paid six exchanges and two joins for this
# row-local arithmetic; the unchanged value hash pins the equivalence).

ENTROPY_SQL = """
WITH tf AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok
),
n AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS u
  FROM tf GROUP BY doc_id
),
h AS (
  SELECT tf.doc_id,
         CAST(sum(CAST((CAST(tf.c AS DOUBLE) / n.n)
                       * ln(CAST(tf.c AS DOUBLE) / n.n)
                  AS DECIMAL(38,12))) AS DOUBLE) AS sh
  FROM tf JOIN n ON n.doc_id = tf.doc_id
  GROUP BY tf.doc_id
)
SELECT n.doc_id, n.n AS n_tokens, CAST(n.u AS BIGINT) AS n_unique,
       floor(-sh * 1000000.0 + 0.5) / 1000000.0 AS entropy,
       CASE WHEN n.u > 1
            THEN floor(-sh / ln(CAST(n.u AS DOUBLE)) * 1000000.0 + 0.5)
                   / 1000000.0
            ELSE 0.0 END AS norm_entropy
FROM h JOIN n ON n.doc_id = h.doc_id
"""


@register("text_entropy_score", sql=ENTROPY_SQL, survey=["A2", "F9", "P7"])
def text_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nzgmdb_spark.tables import tbl

    d = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    n_tok = F.size("t").cast("bigint")
    # Accumulate at DECIMAL(28,12): scale 12 matches the oracle's
    # per-term cast (same rounded term values — precision only caps
    # magnitude, and |sh| < 40), while precision 28 leaves the add's
    # +1-digit widening room below Spark's 38 cap, so re-casting the
    # (29,12) sum back to (28,12) never touches the scale — every step
    # is exact, keeping the fold bit-identical to the oracle's SUM.
    zero_dec = F.lit(0).cast("decimal(28,12)")

    def term(run):
        p = run.cast("double") / n_tok.cast("double")
        return (p * F.log(p)).cast("decimal(28,12)")

    same = lambda acc, x: (x == acc["prev"]) & (acc["run"] > 0)  # noqa: E731
    close = lambda acc: (  # noqa: E731
        F.when(acc["run"] > 0, acc["sh"] + term(acc["run"]))
        .otherwise(acc["sh"])
        .cast("decimal(28,12)")
    )
    stats = F.aggregate(
        F.array_sort(F.col("t")),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("u"),
            zero_dec.alias("sh"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(same(acc, x), acc["run"] + 1).otherwise(1).alias("run"),
            F.when(same(acc, x), acc["u"]).otherwise(acc["u"] + 1).alias("u"),
            F.when(same(acc, x), acc["sh"]).otherwise(close(acc)).alias("sh"),
        ),
        lambda acc: F.struct(
            acc["u"].alias("u"), close(acc).cast("double").alias("sh")
        ),
    )
    base = d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        stats["u"].cast("bigint").alias("n_unique"),
        stats["sh"].alias("sh"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "n_unique",
        pround(-F.col("sh"), 6).alias("entropy"),
        F.when(
            F.col("n_unique") > 1,
            pround(
                -F.col("sh") / F.log(F.col("n_unique").cast("double")), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("norm_entropy"),
    )
