"""Property-based tests: the composable relational operators must agree
with their pandas reference idioms on arbitrary inputs, not just the
fixtures (the reference repo has no property tests at all — SURVEY §5).

Hypothesis drives small random tables through the Spark operator and the
exact pandas construction the reference uses; results compare as sorted
row-sets. Examples are capped small (Spark job latency dominates) but the
generators hit the interesting regimes: duplicate keys, all-null override
columns, empty updates, single-element groups, ties.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nzgmdb_spark.operators.relational import (
    coalesce_override_join,
    upsert_by_key,
)
from nzgmdb_spark.operators.windows import rolling_mean_centered

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=5)
vals = st.one_of(st.none(), st.integers(min_value=-100, max_value=100))


def _rows(df) -> set:
    return {
        tuple(None if pd.isna(v) else v for v in r)
        for r in df.toPandas().itertuples(index=False, name=None)
    }


@given(
    base=st.lists(st.tuples(keys, vals, vals), min_size=0, max_size=12),
    updates=st.lists(st.tuples(keys, vals, vals), min_size=0, max_size=12),
)
@_settings
def test_upsert_by_key_matches_pandas(spark, base, updates):
    # pandas model: concat → drop_duplicates(subset=key, keep="last") with
    # updates appended last (merge_flatfiles.py:696-787). Keys must be
    # unique per side for the operator's row_number to be deterministic.
    base = list({k: (k, a, b) for k, a, b in base}.values())
    updates = list({k: (k, a, b) for k, a, b in updates}.values())
    cols = ["k", "a", "b"]
    schema = "k long, a long, b long"
    b_df = spark.createDataFrame(base, schema=schema)
    u_df = spark.createDataFrame(updates, schema=schema)
    got = _rows(upsert_by_key(b_df, u_df, "k").select(*cols))

    model = pd.concat(
        [
            pd.DataFrame(base, columns=cols, dtype="object"),
            pd.DataFrame(updates, columns=cols, dtype="object"),
        ]
    ).drop_duplicates(subset=["k"], keep="last")
    want = {
        tuple(None if pd.isna(v) else v for v in r)
        for r in model.itertuples(index=False, name=None)
    }
    assert got == want


@given(
    base=st.lists(st.tuples(keys, vals, vals), min_size=0, max_size=12),
    override=st.lists(st.tuples(keys, vals), min_size=0, max_size=8),
)
@_settings
def test_coalesce_override_join_matches_pandas(spark, base, override):
    # pandas model: indexed combine_first on the override column
    # (gen_phase_arrival_table.py:173-189) — null override values never
    # clobber base values, missing keys keep base rows intact.
    override = list({k: (k, v) for k, v in override}.values())
    b_df = spark.createDataFrame(
        [(i, k, a, b) for i, (k, a, b) in enumerate(base)],
        schema="rid long, k long, a long, b long",
    )
    o_df = spark.createDataFrame(override, schema="k long, a long")
    got = _rows(
        coalesce_override_join(b_df, o_df, "k", ["a"]).select("rid", "k", "a", "b")
    )

    ov = {k: v for k, v in override}
    want = set()
    for i, (k, a, b) in enumerate(base):
        a_new = ov[k] if k in ov and ov[k] is not None else a
        want.add((i, k, a_new, b))
    assert got == want


@given(
    series=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=1,
        max_size=25,
    )
)
@_settings
def test_rolling_mean_matches_pandas(spark, series):
    # pandas model: rolling(window=5, center=True, min_periods=1).mean()
    # (reference SNR smoothing, fmax.py:163-167) — Spark's shrinking
    # rowsBetween(-2, 2) frame must agree at both edges.
    df = spark.createDataFrame(
        [(0, i, v) for i, v in enumerate(series)], schema="g long, i long, v double"
    )
    out = rolling_mean_centered(
        df, part=["g"], order=[F.col("i")], col="v", out="sm", window=5
    )
    got = {r.i: r.sm for r in out.select("i", "sm").collect()}
    want = (
        pd.Series(series).rolling(window=5, center=True, min_periods=1).mean()
    )
    for i, w in enumerate(want):
        assert got[i] == pytest.approx(w, rel=1e-12), f"idx {i}"


def test_cosine_neardup_lsh_recall(spark):
    # VERDICT r1 #1: the registered near-dup operator generates candidates
    # with banded hyperplane LSH instead of all-pairs. At real dup
    # thresholds (cosine >= 0.9) the banded OR-construction must recover
    # every planted near-duplicate: 10 base vectors each get a twin with
    # tiny noise (cosine ~0.999); 80 unrelated vectors are chaff. All 10
    # planted pairs must come back, every returned pair must clear the
    # exact-verified threshold, and no chaff-chaff pair qualifies.
    import numpy as np

    from nzgmdb_spark.queries.dedup import cosine_neardup_pairs

    rng = np.random.default_rng(1234)
    rows = []
    planted = set()
    vid = 0
    for _ in range(10):
        base = rng.normal(size=64)
        twin = base + rng.normal(scale=0.01, size=64)
        rows.append((vid, [float(x) for x in base]))
        rows.append((vid + 1, [float(x) for x in twin]))
        planted.add((vid, vid + 1))
        vid += 2
    for _ in range(80):
        rows.append((vid, [float(x) for x in rng.normal(size=64)]))
        vid += 1
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_neardup_pairs(df, threshold=0.9).collect()
    }
    assert planted <= set(got), f"missed planted pairs: {planted - set(got)}"
    assert all(c >= 0.9 for c in got.values())
    assert set(got) == planted  # chaff gaussians never reach cosine 0.9


def test_cc_propagation_converges_on_deep_chain(spark):
    # A 20-node path needs 19 propagation rounds for label 0 to reach the
    # far end; with enough rounds pure propagation collapses it to one
    # cluster (past the cap, test_cc_star_contraction_escape_hatch).
    from nzgmdb_spark.queries.dedup import propagate_min_labels

    pairs = [(i, i + 1) for i in range(19)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], schema="src long, dst long"
    )
    out = propagate_min_labels(edges, max_rounds=25)
    assert {r.cluster_id for r in out.collect()} == {0}


def test_cc_star_contraction_escape_hatch(spark):
    """VERDICT r8 ask #5: a component with diameter > max_rounds must
    CONVERGE via the large/small-star escape hatch, with labels equal to
    what unbounded propagation would produce. A 60-node chain (diameter
    59) through max_rounds=5 exercises exactly the fallback path — star
    contraction's rounds are logarithmic in component size, not linear in
    diameter."""
    from nzgmdb_spark.queries.dedup import propagate_min_labels

    pairs = [(i, i + 1) for i in range(59)] + [(100, 101), (200, 201), (201, 202)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], schema="src long, dst long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in propagate_min_labels(edges, max_rounds=5).collect()
    }
    want = {i: 0 for i in range(60)}
    want.update({100: 100, 101: 100, 200: 200, 201: 200, 202: 200})
    assert got == want


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=8, deadline=None)
def test_cc_star_equals_propagation_on_random_graphs(spark, pairs):
    """star_contract_labels must agree with the min-label fixpoint on
    arbitrary graphs — same (doc_id -> component-min) labeling."""
    from nzgmdb_spark.queries.dedup import propagate_min_labels, star_contract_labels

    sym = [(a, b) for a, b in pairs if a != b]
    sym = sym + [(b, a) for a, b in sym]
    if not sym:
        return
    edges = spark.createDataFrame(sym, schema="src long, dst long").localCheckpoint()
    fix = {
        r.doc_id: r.cluster_id
        for r in propagate_min_labels(edges, max_rounds=90).collect()
    }
    star = {
        r.doc_id: r.cluster_id for r in star_contract_labels(edges).collect()
    }
    assert star == fix


@given(
    left=st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 700)),
        min_size=0,
        max_size=60,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 700)),
        min_size=0,
        max_size=60,
    ),
    width=st.sampled_from([64, 256, 1000]),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_interval_overlap_join_matches_naive(spark, left, right, width):
    # The bucketed equi-join must emit exactly the naive theta-join pair
    # set — each overlapping pair once, regardless of how many buckets the
    # pair shares (intervals up to 11× the smallest bucket width force
    # multi-bucket coverage).
    from nzgmdb_spark.operators.relational import interval_overlap_join

    lrows = [(i, s, s + d) for i, (s, d) in enumerate(left)]
    rrows = [(i, s, s + d) for i, (s, d) in enumerate(right)]
    expected = {
        (li, ri)
        for li, ls, le in lrows
        for ri, rs, re_ in rrows
        if ls <= re_ and rs <= le
    }
    ldf = spark.createDataFrame(lrows or [(0, 1, 0)], "id int, start long, end long")
    rdf = spark.createDataFrame(rrows or [(0, 1, 0)], "id int, start long, end long")
    if not lrows:
        ldf = ldf.filter(F.lit(False))
    if not rrows:
        rdf = rdf.filter(F.lit(False))
    got = {
        (r.id_l, r.id_r)
        for r in interval_overlap_join(ldf, rdf, bucket_width=width)
        .select("id_l", "id_r")
        .collect()
    }
    assert got == expected


@given(
    tokens=st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=4),
        min_size=1,
        max_size=300,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cms_never_underestimates(spark, tokens):
    # The Count-Min guarantee on arbitrary corpora: for every token, the
    # sketch estimate (min over d row counters) >= the exact count.
    from collections import Counter

    from nzgmdb_spark.queries.scale_ops import _CMS_D, _CMS_W, _bucket_spark

    exact = Counter(tokens)
    df = spark.createDataFrame([(t,) for t in tokens], "tok string")
    rows = F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("r")
    bucket = None
    for i in range(_CMS_D):
        b = _bucket_spark(i)
        bucket = (
            F.when(F.col("r") == i, b)
            if bucket is None
            else bucket.when(F.col("r") == i, b)
        )
    counters = {
        (r.r, r.bucket): r.c
        for r in df.select("tok", rows)
        .select("r", bucket.alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    probes = (
        spark.createDataFrame([(t,) for t in exact], "tok string")
        .select("tok", rows)
        .select("tok", "r", bucket.alias("bucket"))
        .collect()
    )
    est: dict = {}
    for p in probes:
        c = counters[(p.r, p.bucket)]
        est[p.tok] = min(est.get(p.tok, c), c)
    for tok, n in exact.items():
        assert est[tok] >= n, f"CMS underestimated {tok!r}: {est[tok]} < {n}"


@pytest.mark.parametrize("k", [1, 3, 5, 8])
def test_mmr_kernel_equals_unrolled_plan(spark, k):
    """The single-stage applyInPandas MMR kernel must select the SAME items
    with the SAME scores as the retired unrolled-plan formulation at every
    k — including ties (broken by vec_id) and the DECIMAL(38,12) pairwise
    dot-product semantics, which the kernel reproduces exactly."""
    from nzgmdb_spark.functions import pround
    from nzgmdb_spark.operators.mmr import mmr_rerank
    from nzgmdb_spark.queries.similarity import (
        _MMR_LAMBDA,
        _mmr_candidates,
        mmr_unrolled_plan,
    )
    from tests.conftest import SF_SMALL

    kernel = (
        mmr_rerank(_mmr_candidates(spark, SF_SMALL), k=k, lam=_MMR_LAMBDA)
        .select("rank", "vec_id", pround(F.col("score"), 6).alias("score"))
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    unrolled = (
        mmr_unrolled_plan(spark, SF_SMALL, k=k)
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    assert kernel.equals(unrolled.astype(kernel.dtypes.to_dict()))


def test_sequence_packing_conserves_tokens(spark):
    """Packing invariants beyond the oracle hash: every shard's packed
    token total equals its corpus token total (nothing dropped or double-
    counted), window ids are non-negative, and each (shard, window) is
    unique."""
    from nzgmdb_spark.queries import load_registry
    from nzgmdb_spark.tables import tbl
    from tests.conftest import SF_SMALL

    out = load_registry()["text_sequence_packing"].fn(spark, SF_SMALL).toPandas()
    d = tbl(spark, SF_SMALL, "documents").select(
        (F.col("doc_id") % 32).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    ).groupBy("shard").agg(F.sum("n_tok").alias("total")).toPandas()
    got = out.groupby("shard")["packed_tokens"].sum().to_dict()
    want = dict(zip(d["shard"], d["total"]))
    assert got == want
    assert (out["window_id"] >= 0).all()
    assert not out.duplicated(["shard", "window_id"]).any()


def _topk_sets(df):
    out = {}
    for r in df.select("q_id", "vec_id").collect():
        out.setdefault(r.q_id, set()).add(r.vec_id)
    return out


def test_ann_recall_floors_vs_bruteforce(spark):
    """Approximate is an engineering contract, not a shrug (round-3 review
    ask #6): recall@10 of both ANN operators against the exact brute-force
    top-10 on the sf0.01 embeddings, with pinned floors. The corpus is
    ISOTROPIC (top-10 cosines ~0.25-0.4 sit inside the random-pair tail),
    which is the hostile case for sublinear search — measured means are
    0.42 (IVF, nprobe=4/16) and 0.38 (banded LSH, 4 bands x 4 planes);
    floors sit below at 0.30/0.25. Single-signature LSH measured 0.00
    here, which is what motivated the banded OR-construction."""
    import statistics

    from nzgmdb_spark.queries import load_registry
    from tests.conftest import SF_SMALL

    reg = load_registry()
    truth = _topk_sets(reg["knn_cosine_bruteforce"].fn(spark, SF_SMALL))
    for name, floor in [("ann_ivf_cosine", 0.30), ("ann_lsh_hyperplane", 0.25)]:
        got = _topk_sets(reg[name].fn(spark, SF_SMALL))
        recalls = [
            len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
        ]
        mean = statistics.mean(recalls)
        print(f"\n{name}: recall@10 mean {mean:.3f} min {min(recalls):.3f}")
        assert mean >= floor, f"{name} recall@10 {mean:.3f} below floor {floor}"


def test_ivf_exhaustive_probe_equals_bruteforce(spark):
    """The IVF dial's endpoint is exactness: probing every cell
    (nprobe = ncentroids) must reproduce the brute-force top-10
    bit-for-bit — same candidates, same decimal-fold cosines, same
    tie-break — because IVF only ever PARTITIONS the corpus, never
    approximates the scoring."""
    from nzgmdb_spark.queries import load_registry
    from nzgmdb_spark.queries.similarity import _N_CENTROIDS, ivf_topk
    from tests.conftest import SF_SMALL

    reg = load_registry()
    brute = {
        (r.q_id, r.vec_id): r.cosine
        for r in reg["knn_cosine_bruteforce"].fn(spark, SF_SMALL).collect()
    }
    full = {
        (r.q_id, r.vec_id): r.cosine
        for r in ivf_topk(spark, SF_SMALL, nprobe=_N_CENTROIDS).collect()
    }
    assert full == brute


def test_dsum_term_domain_guard(spark):
    """dsum's decimal(18,6) terms hold 12 integer digits: a term at
    |v| >= 1e12 overflows the cast to NULL under non-ANSI mode and would
    silently vanish from the 'exact' sum. This guard pins the documented
    domain bound (functions.DSUM_MAX_ABS_TERM): inside the domain the sum
    is exact; one ulp-ish past it the row count of non-null casts drops —
    if Spark's behavior ever changes (e.g. ANSI default flips to error),
    this test fails loudly and the contract note must be revisited."""
    from pyspark.sql import functions as F

    from nzgmdb_spark.functions import DSUM_MAX_ABS_TERM, dsum

    inside = spark.createDataFrame(
        [(DSUM_MAX_ABS_TERM - 1.0,), (1.5,), (-2.25,)], "v double"
    )
    got = inside.agg(dsum("v", "s")).collect()[0].s
    assert got == (DSUM_MAX_ABS_TERM - 1.0) + 1.5 - 2.25
    outside = spark.createDataFrame(
        [(DSUM_MAX_ABS_TERM,), (1.0,)], "v double"
    )
    probe = outside.select(
        F.sum(F.col("v").cast("decimal(18,6)").isNull().cast("int")).alias("n")
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled", "true") == "true"
    if ansi:
        # Spark 4 default: ANSI mode makes the overflow LOUD (cast
        # raises) — the safe behavior the contract note relies on.
        import pytest

        with pytest.raises(Exception):
            probe.collect()
    else:
        # legacy non-ANSI: exactly the out-of-domain term overflows to
        # NULL — the silent-drop failure mode the domain bound documents
        assert probe.collect()[0].n == 1


def test_ann_recall_floors_clustered(spark):
    """Honest ANN recall on realistic (clustered) embeddings — VERDICT r4
    ask #2. The isotropic floors above document the adversarial case; real
    corpora cluster, and on the planted-cluster fixture
    (tools/gen_clustered_embeddings.py: 16 clusters, in-cluster cosine
    ~0.95, cross-cluster ~0.1, IVF seed centroids spread over all 16
    clusters) both ANN operators must be near-exact: measured recall@10
    is 1.00 (IVF, nprobe=4/16) and 0.98 mean / 0.90 min (banded LSH)."""
    import os
    import statistics

    from nzgmdb_spark.queries import load_registry

    d = os.path.join(os.path.dirname(__file__), "goldens", "clustered")
    reg = load_registry()
    truth = _topk_sets(reg["knn_cosine_bruteforce"].fn(spark, d))
    # Floors sit ~0.05-0.10 under the measured values (VERDICT r5 ask #4:
    # the old 0.90/0.80 and 0.80/0.50 floors would have passed a halving
    # of LSH min-recall) — tight enough that a real recall regression
    # trips, loose enough to absorb fixture-level jitter.
    for name, mean_floor, min_floor in [
        ("ann_ivf_cosine", 0.95, 0.90),
        ("ann_lsh_hyperplane", 0.90, 0.80),
        # PQ-ADC + exact rerank: measured 0.92 mean / 0.80 min clustered
        # (and 0.90 on the isotropic sf0.01 testdata). Floors ~0.05-0.10
        # under measurement, same calibration rule as above.
        ("ann_pq_adc", 0.85, 0.75),
        # IVF×PQ composition: on clustered data the coarse cell pruning
        # loses nothing (probed cells contain the true neighbors), so
        # recall equals the PQ path exactly — measured 0.92 mean /
        # 0.80 min, same floors. (On isotropic data it is bounded by the
        # IVF cell pruning instead — 0.42/0.20, matching ann_ivf_cosine —
        # the documented adversarial case, not a regression.)
        ("ann_ivf_pq", 0.85, 0.75),
    ]:
        got = _topk_sets(reg[name].fn(spark, d))
        recalls = [
            len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
        ]
        mean = statistics.mean(recalls)
        print(f"\n{name} clustered: recall@10 mean {mean:.3f} min {min(recalls):.3f}")
        assert mean >= mean_floor, f"{name} mean recall {mean:.3f} < {mean_floor}"
        assert min(recalls) >= min_floor, (
            f"{name} min recall {min(recalls):.3f} < {min_floor}"
        )


def test_capped_band_candidates_invisible_below_cap(spark):
    """The hot-bucket cap must be INVISIBLE on non-degenerate data: for a
    relation whose largest bucket is below the cap, the capped candidate
    generator must emit exactly the plain band-bucket self-join's pair
    set (operators/lsh.py contract)."""
    import random

    from nzgmdb_spark.operators.lsh import capped_band_candidates

    rng = random.Random(99)
    rows = [
        (i, b, str(rng.randrange(40)))
        for i in range(300)
        for b in range(3)
    ]
    bands = spark.createDataFrame(rows, "id long, band int, bucket string")
    capped = {
        (r.id_a, r.id_b)
        for r in capped_band_candidates(bands, "id", ["band", "bucket"], cap=64)
        .collect()
    }
    a, b = bands.alias("a"), bands.alias("b")
    from pyspark.sql import functions as F

    plain = {
        (r.id_a, r.id_b)
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .collect()
    }
    assert capped == plain and len(plain) > 0


def test_capped_band_candidates_bounds_flood(spark):
    """A 10k-duplicate flood concentrated in ONE bucket must emit a linear
    star (9,999 pairs), not a ~50M-pair clique, and every flood member
    must remain reachable from the bucket representative — the documented
    no-document-escapes-dedup guarantee."""
    from nzgmdb_spark.operators.lsh import capped_band_candidates

    n = 10_000
    bands = spark.range(n).select(
        F.col("id"), F.lit(0).alias("band"), F.lit("hot").alias("bucket")
    )
    out = capped_band_candidates(bands, "id", ["band", "bucket"]).collect()
    assert len(out) == n - 1
    assert all(r.id_a == 0 for r in out)
    assert {r.id_b for r in out} == set(range(1, n))


def test_cosine_neardup_flood_wall_bounded(spark):
    """End-to-end skew hardening: a 5k-identical-vector flood plus chaff
    through the registered cosine near-dup machinery must finish in
    bounded time with linear candidate volume — every flood member is
    flagged as a duplicate (connected to the flood representative), and
    the output is the star, not the 12.5M-pair clique."""
    import time

    import numpy as np

    from nzgmdb_spark.queries.dedup import cosine_neardup_pairs

    rng = np.random.default_rng(7)
    flood_vec = [float(x) for x in rng.normal(size=64)]
    rows = [(i, flood_vec) for i in range(5000)]
    rows += [
        (10_000 + i, [float(x) for x in rng.normal(size=64)]) for i in range(500)
    ]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    t0 = time.monotonic()
    pairs = cosine_neardup_pairs(df, threshold=0.9).collect()
    wall = time.monotonic() - t0
    flood_pairs = [p for p in pairs if p.id_a < 5000 and p.id_b < 5000]
    # star around vec_id 0: every flood member is flagged exactly once
    assert len(flood_pairs) == 4999
    assert {p.id_b for p in flood_pairs} == set(range(1, 5000))
    assert all(p.id_a == 0 for p in flood_pairs)
    # generous bound: the uncapped clique (12.5M verifies) takes minutes
    assert wall < 120, f"flood path took {wall:.0f}s — cap not effective?"


def test_simhash_hamming_flood_is_linear(spark):
    """An exact-duplicate flood collides in ALL 4 simhash blocks — the
    worst case for the (blk, bv) candidate join, which uncapped would
    emit ~2·B² rows before distinct. Through the capped star the output
    must stay LINEAR: every flood member paired exactly once with the
    flood representative at Hamming 0 (exact dups still flagged), plus
    bounded time. 10k identical docs + distinct chaff."""
    import time

    from nzgmdb_spark.queries.dedup import simhash_hamming_pairs

    n = 10_000
    flood = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog again").alias("text"),
    )
    chaff = spark.range(50).select(
        (F.col("id") + 100_000).alias("doc_id"),
        F.concat(
            F.lit("chaff token"), F.col("id"),
            F.lit(" unique words"), F.col("id") * 7,
        ).alias("text"),
    )
    t0 = time.monotonic()
    pairs = simhash_hamming_pairs(flood.unionByName(chaff)).collect()
    wall = time.monotonic() - t0
    flood_pairs = [p for p in pairs if p.doc_a < n and p.doc_b < n]
    assert len(flood_pairs) == n - 1, len(flood_pairs)
    assert all(p.doc_a == 0 and p.hamming == 0 for p in flood_pairs)
    assert {p.doc_b for p in flood_pairs} == set(range(1, n))
    assert wall < 120, f"simhash flood took {wall:.0f}s — cap not effective?"


# Measured peak stage-level execution memory at sf0.1 (StageMemoryProbe
# around the honest run_full action, local[32]; identical across repeat
# probes — execution memory is deterministic for a deterministic plan).
# Ceilings are ~2.5× measured, rounded up to a power-of-two-ish size:
# tight enough that a rewrite silently inflating a hash join/aggregate's
# working set (the regression that only shows as an OOM at cluster
# scale) trips here first, loose enough to absorb partitioning jitter.
# dedup_cluster_cc is not a headline query but stays pinned as the
# registry's widest plan. SCALING.md's "Headline memory envelope" table
# records the measured values this envelope is derived from.
# Re-measured round 9 under the HONEST probe (UI on, local[4], 8 shuffle
# partitions — tools/measure_envelopes.py, two consistent runs). Earlier
# annotations came from a probe that silently read zero with the UI off;
# the honest peaks are also quantized by Spark's 64 MiB execution-memory
# page allocation, which is why several sit just above a 64 MiB multiple.
# Ceilings ~2-2.5x measured.
_MEM_CEILINGS_MIB = {
    "ann_ivf_cosine": 32,           # measured 4.0 MiB (honest probe, r9)
    "dedup_cluster_cc": 768,        # measured 384 MiB
    "dedup_minhash_lsh": 192,       # measured 80 MiB
    "dedup_ngram_jaccard": 768,     # measured 320 MiB
    "k13_rupture_distances": 32,    # measured ~0 (zero-shuffle codegen)
    "m1_media_metadata_decode": 32, # measured ~0 (mapInPandas, no joins)
    "q1_pricing_summary": 160,      # measured 65 MiB (one 64 MiB agg page)
    "q3_shipping_priority": 192,    # measured 83 MiB
    "q5_local_supplier_volume": 384,  # measured 165 MiB
    "s14_partitioned_sink_resume": 320,  # measured 129 MiB
    "t_daily_rollup": 160,          # measured 64 MiB
    "text_quality_score": 32,       # measured ~0 (map-only expressions)
    # round-11 pins (VERDICT r10 ask #5): the round-10 reshaped corpus
    # ops and the Hamming search — a regression back to their old shapes
    # (join-based span/chunk streams, windowed entropy/repetition,
    # uncapped block buckets) must trip HERE, not first at an sf10 probe.
    "text_entropy_score": 32,        # measured ~0 (map-only fold, r11)
    "text_repetition_signals": 32,   # measured ~0 (map-only fold, r11)
    "text_cdc_chunks": 640,          # measured 257 MiB (r12 map-side plan)
    "text_duplicate_spans": 640,     # measured 257 MiB (r11)
    "text_bigram_perplexity": 640,   # measured 281 MiB (r11)
    "dedup_simhash_hamming": 640,    # measured 257 MiB (r11)
}

# Shuffle-WRITE ceilings (KiB), ~4× the measured sf0.1 bytes: the bytes a
# query pushes through exchanges are what a real cluster pays network
# for, and the cheapest regressions to miss locally are exactly the ones
# that explode them — a dimension join losing its broadcast (q5 moves
# 558 B today; losing one broadcast makes that ~20 MiB), a map-side
# aggregate degrading to a raw-row shuffle, a candidate generator
# shuffling the corpus instead of candidates. Wall time barely moves at
# sf0.1 when that happens; this envelope trips instead.
_SHUFFLE_CEILINGS_KIB = {
    # ann_ivf_cosine moved from a window rank (1 KiB era) to grouped_topk,
    # whose stage-1 partial top-k exchange carries |keys|x|partitions|x k
    # struct rows BY DESIGN (operators/topk.py) — the intended scale-safe
    # shape. Re-pinned to the measured 42.3 KiB with headroom.
    "ann_ivf_cosine": 128,          # measured 42.3 KiB (grouped_topk r9)
    "dedup_cluster_cc": 131_072,    # measured 23.3 MiB; fixpoint edges/round
    "dedup_minhash_lsh": 3_072,     # measured 473 KiB (band exchange)
    "dedup_ngram_jaccard": 106_496, # measured 23.2 MiB (posting lists)
    "k13_rupture_distances": 4,     # measured ~0.1 KiB (zero-shuffle codegen)
    "m1_media_metadata_decode": 4,  # measured ~0.1 KiB
    "q1_pricing_summary": 8,        # measured 1.2 KiB (partial-agg rows)
    "q3_shipping_priority": 1_536,  # measured 298 KiB
    "q5_local_supplier_volume": 8,  # measured 0.5 KiB — all dims broadcast
    "s14_partitioned_sink_resume": 4,   # measured 0.3 KiB
    "t_daily_rollup": 32,           # measured 5.2 KiB
    "text_quality_score": 4,        # measured 0.1 KiB (map-only)
    # round-11 pins — see the memory-ceiling comment above. The
    # spans/cdc/hamming exchanges carry hashed keys / capped candidates
    # BY DESIGN; a join-based or uncapped regression multiplies them.
    "text_entropy_score": 4,         # measured 0.1 KiB (map-only fold)
    "text_repetition_signals": 4,    # measured 0.1 KiB (map-only fold)
    "text_cdc_chunks": 4_608,        # measured 1.13 MiB (r12: chunk keys only)
    "text_duplicate_spans": 13_312,  # measured 3.3 MiB (hashed span keys)
    "text_bigram_perplexity": 768,   # measured 186 KiB (hashed LM keys)
    "dedup_simhash_hamming": 14_336, # measured 3.4 MiB (capped candidates)
}


@pytest.mark.parametrize("name", sorted(_MEM_CEILINGS_MIB))
def test_memory_envelope_headline(spark, name):
    """Memory regression envelope for EVERY headline query (VERDICT r5
    ask #5, extending r4's two-query floor): peak execution memory at
    sf0.1 must stay inside the pinned ceiling with ZERO spill."""
    from nzgmdb_spark.metrics import StageMemoryProbe, run_full
    from nzgmdb_spark.queries import load_registry

    reg = load_registry()
    # Warm run first: the envelope pins the STEADY-STATE path. Without it
    # the measurement depends on test selection order — e.g. a standalone
    # run of this test charges the one-time IVF/PQ index-build shuffle to
    # the query, while a full-suite run (parity tests first) doesn't.
    run_full(reg[name].fn(spark, "/root/testdata/sf0.1"))
    probe = StageMemoryProbe(spark)
    with probe:
        run_full(reg[name].fn(spark, "/root/testdata/sf0.1"))
    r = probe.result
    if not r:
        pytest.skip("Spark UI REST API unavailable — probe degraded")
    peak = r["peak_exec_mem"]
    spilled = r["mem_spilled"] + r["disk_spilled"]
    ceiling = _MEM_CEILINGS_MIB[name] * 1024 * 1024
    sw = r.get("shuffle_write", 0)
    sw_ceiling = _SHUFFLE_CEILINGS_KIB[name] * 1024
    print(
        f"\n{name}: peak exec mem {peak/2**20:.0f} MiB, spilled {spilled}, "
        f"shuffle write {sw/1024:.1f} KiB"
    )
    assert peak <= ceiling, f"{name} peak {peak} > ceiling {ceiling}"
    assert spilled == 0, f"{name} spilled {spilled} bytes at sf0.1"
    assert sw <= sw_ceiling, (
        f"{name} shuffled {sw} bytes > ceiling {sw_ceiling} — a broadcast "
        f"lost or a map-side stage now shuffling raw rows?"
    )


def test_semdedup_catches_planted_twins(spark):
    """dedup_semantic_semdedup must mark (nearly) every planted twin as a
    duplicate of its original — the SemDeDup recall contract on the
    registered corpus. A twin is missed only when its 4%-per-dim
    perturbation flips the nearest-centroid argmax (inherent to
    cluster-scoped blocking, the paper's own failure mode); measured
    miss rate is ~8% at sf0.01, so the floor is 85%. Caught twins must
    name their original as the representative with cosine ≈ 0.997."""
    from nzgmdb_spark.queries import load_registry
    from nzgmdb_spark.queries.similarity import _SEM_TWIN_OFFSET
    from nzgmdb_spark.tables import tbl

    sf = "/root/testdata/sf0.01"
    reg = load_registry()
    out = {
        r.vec_id: r
        for r in reg["dedup_semantic_semdedup"].fn(spark, sf).collect()
    }
    n_vec = tbl(spark, sf, "embeddings").count()
    planted = [
        i + _SEM_TWIN_OFFSET for i in range(0, n_vec, 10)
    ]
    caught = [t for t in planted if t in out]
    assert len(caught) >= 0.85 * len(planted), (
        f"only {len(caught)}/{len(planted)} planted twins caught"
    )
    for t in caught:
        assert out[t].rep_id == t - _SEM_TWIN_OFFSET
        assert out[t].max_cosine > 0.99
    # no false positives: every reported duplicate IS a planted twin
    assert set(out) <= set(planted)


def test_semdedup_flood_cell_is_linear(spark):
    """A flood cell (every vector identical) must go through the capped
    star: each flood member is marked a duplicate of the cell minimum —
    linear output, no |cell|² pair explosion (operators/lsh.py cap,
    applied to IVF cells by dedup_semantic_semdedup's candidate stage)."""
    from nzgmdb_spark.operators.lsh import capped_band_candidates

    n = 3_000  # > DEFAULT_BUCKET_CAP
    cells = spark.range(n).select(F.col("id").alias("vec_id"), F.lit(7).alias("cell"))
    pairs = capped_band_candidates(
        cells, "vec_id", ["cell"], a_name="vec_a", b_name="vec_b"
    ).collect()
    assert len(pairs) == n - 1
    assert all(p.vec_a == 0 for p in pairs)


def test_dsir_orders_target_slice_first(spark):
    """DSIR semantics: documents from the target slice itself must score
    higher than the corpus at large (their features define p_target) —
    the importance-selection property the operator exists for. Under the
    length-invariant avg_log_ratio ranking, EVERY target-slice doc must
    make the selected set (measured: all 25 land in the top 50 of 500 at
    sf0.01), so the selected fraction is 2.5× the 5% corpus share."""
    from nzgmdb_spark.queries import load_registry
    from nzgmdb_spark.queries.curation import _DSIR_TGT_MOD
    from nzgmdb_spark.tables import tbl

    sf = "/root/testdata/sf0.01"
    reg = load_registry()
    sel = reg["dsir_importance_select"].fn(spark, sf).collect()
    assert len(sel) > 0
    selected_ids = {r.doc_id for r in sel}
    target_ids = {
        r.doc_id
        for r in tbl(spark, sf, "documents").select("doc_id").collect()
        if r.doc_id % _DSIR_TGT_MOD == 0
    }
    missed = target_ids - selected_ids
    assert not missed, f"target docs missing from selection: {sorted(missed)[:5]}"
    frac_target = len(target_ids & selected_ids) / len(sel)
    assert frac_target >= 2 * (1 / _DSIR_TGT_MOD), (
        f"target fraction {frac_target:.2f} not enriched"
    )


def test_grouped_topk_equals_window_ranking(spark):
    """grouped_topk (two-level partition-local top-k) must reproduce the
    row_number window ranking bit-for-bit — including duplicate scores
    (id tie-break) and however the input happens to be partitioned."""
    import random

    from pyspark.sql import Window

    from nzgmdb_spark.operators.topk import grouped_topk

    rng = random.Random(11)
    # few keys, many rows per key, heavy score ties to exercise tie-break
    rows = [
        (k, i, float(rng.randrange(50)) / 7.0)
        for k in range(4)
        for i in range(2_000)
    ]
    rng.shuffle(rows)
    df = spark.createDataFrame(
        rows, "q_id int, vec_id int, score double"
    ).repartition(13)  # partitioning must not affect the result
    got = grouped_topk(df, "q_id", "score", "vec_id", 25).collect()
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    want = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .select("q_id", "score", "vec_id")
        .collect()
    )
    key = lambda r: (r.q_id, -r.score, r.vec_id)
    assert sorted(got, key=key) == sorted(want, key=key)
