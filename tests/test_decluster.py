"""Golden tests for declustering — ports the reference's only unit-test
vectors (nzgmdb tests/test_aftershocks.py:53-146 via FIXTURES.md §15)."""

from __future__ import annotations

import math
from datetime import datetime, timezone

from nzgmdb_spark.operators.decluster import (
    crjb_km,
    decluster_catalog,
    resample_polygon_km,
)

KM_PER_DEG_LAT = 111.19


def _square(lat: float, lon: float, side_km: float = 2.0):
    """Rupture square of side_km centered at (lat, lon)."""
    dlat = side_km / 2 / KM_PER_DEG_LAT
    dlon = side_km / 2 / (KM_PER_DEG_LAT * math.cos(math.radians(lat)))
    return [
        (lat - dlat, lon - dlon),
        (lat - dlat, lon + dlon),
        (lat + dlat, lon + dlon),
        (lat + dlat, lon - dlon),
    ]


def _epoch(s: str) -> float:
    return datetime.fromisoformat(s).replace(tzinfo=timezone.utc).timestamp()


def test_decluster_golden_three_events():
    # FIXTURES.md §15: mainshock M6.6 claims the nearby next-day M4.5; the
    # distant M4.2 eight days later stays unclustered.
    events = [
        {
            "evid": "a",
            "datetime": _epoch("2020-01-01T00:00:00"),
            "mag": 6.6,
            "lat": 34.0,
            "lon": -118.0,
            "corners": _square(34.0, -118.0),
        },
        {
            "evid": "b",
            "datetime": _epoch("2020-01-02T00:00:00"),
            "mag": 4.5,
            "lat": 34.001,
            "lon": -118.001,
            "corners": _square(34.001, -118.001),
        },
        {
            "evid": "c",
            "datetime": _epoch("2020-01-10T00:00:00"),
            "mag": 4.2,
            "lat": 34.2,
            "lon": -118.2,
            "corners": _square(34.2, -118.2),
        },
    ]
    aftershock, cluster = decluster_catalog(events, crjb_cutoff_km=10.0)
    assert aftershock == [0, 1, 0]
    assert cluster == [1, 1, 0]


def _partitions(evids, cluster_labels):
    """Canonical cluster partition: set of frozensets, singletons dropped.

    The sequential algorithm numbers clusters by arrival order and the
    distributed one labels them by claimer evid — only the grouping is
    comparable.
    """
    by_label: dict = {}
    for e, c in zip(evids, cluster_labels):
        if c is None or c == 0:
            continue
        by_label.setdefault(c, set()).add(e)
    return {frozenset(v) for v in by_label.values()}


def _random_catalog(n: int, seed: int) -> list[dict]:
    """Dense synthetic catalog with heavy magnitude ties, interleaved
    clusters, and equal-mag late-claim bait (claimless mainshocks inside a
    bigger equal-mag event's window)."""
    import random

    rng = random.Random(seed)
    t0 = _epoch("2020-01-01T00:00:00")
    events = []
    for i in range(n):
        lat = 34.0 + rng.choice([0.0, 0.01, 0.02, 0.5, 1.0, 2.0]) + rng.random() * 0.005
        lon = -118.0 + rng.choice([0.0, 0.01, 0.5, 1.5]) + rng.random() * 0.005
        mag = rng.choice([4.0, 4.0, 4.5, 4.5, 5.0, 5.5, 6.0, 6.6])  # many ties
        dt_days = rng.random() * 60.0
        events.append(
            {
                "evid": f"e{i:04d}",
                "datetime": t0 + dt_days * 86400.0,
                "mag": mag,
                "lat": lat,
                "lon": lon,
                "corners": _square(lat, lon),
            }
        )
    return events


def test_distributed_matches_sequential(spark):
    from nzgmdb_spark.operators.decluster import decluster_distributed

    for seed, n in ((7, 120), (23, 200)):
        events = _random_catalog(n, seed)
        # sequential tie-break = list index; feed it evid-sorted so it
        # matches the distributed version's (mag desc, evid asc) priority
        events.sort(key=lambda e: e["evid"])
        a_seq, c_seq = decluster_catalog(events, crjb_cutoff_km=10.0)

        df = spark.createDataFrame(
            [
                (e["evid"], e["datetime"], e["mag"], e["lat"], e["lon"])
                for e in events
            ],
            ["evid", "datetime", "mag", "lat", "lon"],
        )
        corners = {e["evid"]: e["corners"] for e in events}
        out = decluster_distributed(df, corners, crjb_cutoff_km=10.0)
        got = {r.evid: r for r in out.collect()}

        evids = [e["evid"] for e in events]
        a_dist = [got[e].aftershock_flag for e in evids]
        assert a_dist == a_seq, f"seed {seed}: aftershock flags diverge"
        assert _partitions(evids, [got[e].cluster_evid for e in evids]) == _partitions(
            evids, c_seq
        ), f"seed {seed}: cluster partitions diverge"


def test_distributed_matches_sequential_high_latitude_mixed_polygons(spark):
    """Stress the round-10 candidate machinery where its geometry is
    hardest: high-latitude centroids (lon degrees shrink to ~cos 70° —
    the disc-touch cell pruning and cell sizing must stay conservative),
    polygon sizes MIXED from tiny (circumradius « cutoff — fires the
    d + r_min auto-accept) to large elongated rectangles whose long
    east-west segments make linearly-interpolated resample steps diverge
    most from spacing_km (the measured max-step cover bound replaced the
    old 1.05 heuristic exactly for this). Distributed flags must equal
    the independent sequential greedy's bit-for-bit."""
    import random

    from nzgmdb_spark.operators.decluster import decluster_distributed

    t0 = _epoch("2020-01-01T00:00:00")
    for seed, n in ((5, 110), (41, 150)):
        rng = random.Random(seed)
        events = []
        for i in range(n):
            lat = -70.0 + rng.choice([0.0, 0.02, 0.05, 0.8, 2.0]) + rng.random() * 0.01
            lon = 160.0 + rng.choice([0.0, 0.03, 1.0, 3.0]) + rng.random() * 0.01
            mag = rng.choice([4.0, 4.0, 4.5, 5.0, 5.5, 6.6])
            # mixed polygon scales: tiny squares (auto-accept path), fat
            # squares, and wide east-west rectangles (long segments)
            h_lat, h_lon = rng.choice(
                [(0.02, 0.02), (0.15, 0.15), (0.05, 0.9), (0.3, 0.1)]
            )
            events.append(
                {
                    "evid": f"h{i:04d}",
                    "datetime": t0 + rng.random() * 60.0 * 86400.0,
                    "mag": mag,
                    "lat": lat,
                    "lon": lon,
                    "corners": [
                        (lat - h_lat, lon - h_lon),
                        (lat - h_lat, lon + h_lon),
                        (lat + h_lat, lon + h_lon),
                        (lat + h_lat, lon - h_lon),
                    ],
                }
            )
        events.sort(key=lambda e: e["evid"])
        a_seq, c_seq = decluster_catalog(events, crjb_cutoff_km=10.0)

        df = spark.createDataFrame(
            [
                (e["evid"], e["datetime"], e["mag"], e["lat"], e["lon"])
                for e in events
            ],
            ["evid", "datetime", "mag", "lat", "lon"],
        )
        corners = {e["evid"]: e["corners"] for e in events}
        out = decluster_distributed(df, corners, crjb_cutoff_km=10.0)
        got = {r.evid: r for r in out.collect()}
        evids = [e["evid"] for e in events]
        assert [got[e].aftershock_flag for e in evids] == a_seq, (
            f"seed {seed}: aftershock flags diverge at high latitude"
        )
        assert _partitions(
            evids, [got[e].cluster_evid for e in evids]
        ) == _partitions(evids, c_seq), f"seed {seed}: partitions diverge"


def test_distributed_cutoff_ring_targets_high_latitude(spark):
    """Adversarial sweep across the eligibility BOUNDARY where the
    round-11 SQL box-distance reject is least forgiving: one mag-6.6
    claimer at lat −70 with a 0.3°-tall rupture square, and a fence of
    small targets due east whose exact CRJB values straddle the 10 km
    cutoff at ~8 m spacing. Any conservatism error in the pair-level
    bounds (e.g. taking the box lat range's MAX cosine instead of its
    MIN in the lower-bound 'a' — a ~1.4% lon-term inflation at this
    latitude and box height, which silently drops just-inside-cutoff
    pairs) flips flags here; the random high-latitude test cannot land
    targets inside that ~100 m sliver reliably. Distributed flags must
    equal the independent sequential greedy's bit-for-bit."""
    from nzgmdb_spark.operators.decluster import decluster_distributed

    t0 = _epoch("2020-01-01T00:00:00")
    lat0, lon0 = -70.0, 160.0
    h = 0.15  # box half-extent in degrees, both axes
    deg_per_km_lon = 1.0 / (111.195 * math.cos(math.radians(lat0)))
    events = [
        {
            "evid": "main",
            "datetime": t0,
            "mag": 6.6,
            "lat": lat0,
            "lon": lon0,
            "corners": [
                (lat0 - h, lon0 - h),
                (lat0 - h, lon0 + h),
                (lat0 + h, lon0 + h),
                (lat0 + h, lon0 - h),
            ],
        }
    ]
    # 80 targets due east of the box's east edge, nominal boundary
    # distances 9.7 .. 10.3 km (true discrete-boundary CRJB lands within
    # a few meters of nominal here) — ~40 on each side of the cutoff.
    # Magnitudes increase strictly WITH TIME so no target can claim
    # another (claim windows are forward-only and only ≤-mag events are
    # claimable): every flag is decided solely by the main-box pair,
    # which is the pair the bounds must classify correctly — an 8 m
    # fence of equal magnitudes would chain-claim itself and mask a
    # dropped main pair.
    for i in range(80):
        d_km = 9.7 + 0.6 * i / 79.0
        lon = lon0 + h + d_km * deg_per_km_lon
        events.append(
            {
                "evid": f"t{i:03d}",
                "datetime": t0 + (i + 1) * 3600.0,
                "mag": 4.0 + 0.005 * i,
                "lat": lat0,
                "lon": lon,
                "corners": _square(lat0, lon, side_km=1.0),
            }
        )
    a_seq, c_seq = decluster_catalog(events, crjb_cutoff_km=10.0)
    # the fence must actually straddle the boundary, or this test is
    # vacuous — both flag values must occur among the targets
    assert 10 < sum(a_seq) < 75, f"fence degenerate: {sum(a_seq)} claimed"

    df = spark.createDataFrame(
        [
            (e["evid"], e["datetime"], e["mag"], e["lat"], e["lon"])
            for e in events
        ],
        ["evid", "datetime", "mag", "lat", "lon"],
    )
    corners = {e["evid"]: e["corners"] for e in events}
    out = decluster_distributed(df, corners, crjb_cutoff_km=10.0)
    got = {r.evid: r for r in out.collect()}
    evids = [e["evid"] for e in events]
    assert [got[e].aftershock_flag for e in evids] == a_seq, (
        "cutoff-ring flags diverge — a pair-level bound is over-rejecting "
        "or over-accepting at the eligibility boundary"
    )
    assert _partitions(evids, [got[e].cluster_evid for e in evids]) == _partitions(
        evids, c_seq
    )


def test_distributed_bowtie_polygon_not_rectangle_accepted(spark):
    """The round-11 rectangle-interior accept must NOT fire for a BOWTIE
    ring — a self-intersecting 4-corner polygon whose corners are exactly
    the AABB's corners (so the extremes-only and distinctness checks both
    pass) but whose edge order is non-axis-aligned. Ray casting classifies
    the bowtie's triangle-gap regions as OUTSIDE, so a guard that flags it
    as a rectangle would blanket-accept AABB-interior targets that the
    sequential greedy leaves unclaimed (the AABB here is ~130 km wide vs
    a 10 km cutoff — gap centers are far from every boundary point). A
    target grid across the AABB makes any such divergence a flag flip."""
    from nzgmdb_spark.operators.decluster import decluster_distributed

    t0 = _epoch("2020-01-01T00:00:00")
    lat0, lon0, h = -42.0, 172.0, 0.6
    bowtie = [
        (lat0 - h, lon0 - h),
        (lat0 + h, lon0 + h),
        (lat0 - h, lon0 + h),
        (lat0 + h, lon0 - h),
    ]
    events = [
        {
            "evid": "main",
            "datetime": t0,
            "mag": 6.6,
            "lat": lat0,
            "lon": lon0,
            "corners": bowtie,
        }
    ]
    k = 0
    for iy in range(9):
        for ix in range(9):
            lat = lat0 - h + (iy + 0.5) * (2 * h) / 9
            lon = lon0 - h + (ix + 0.5) * (2 * h) / 9
            events.append(
                {
                    "evid": f"g{k:03d}",
                    "datetime": t0 + (k + 1) * 600.0,
                    # strictly increasing with time: targets cannot claim
                    # each other (see the cutoff-ring fence test)
                    "mag": 4.0 + 0.005 * k,
                    "lat": lat,
                    "lon": lon,
                    "corners": _square(lat, lon, side_km=1.0),
                }
            )
            k += 1
    a_seq, c_seq = decluster_catalog(events, crjb_cutoff_km=10.0)
    n_claimed = sum(a_seq)
    # non-vacuous: the grid must contain both claimed (inside/near the
    # bowtie) and unclaimed (triangle-gap / far-corner) targets
    assert 5 < n_claimed < 76, f"grid degenerate: {n_claimed} claimed"

    df = spark.createDataFrame(
        [
            (e["evid"], e["datetime"], e["mag"], e["lat"], e["lon"])
            for e in events
        ],
        ["evid", "datetime", "mag", "lat", "lon"],
    )
    corners = {e["evid"]: e["corners"] for e in events}
    out = decluster_distributed(df, corners, crjb_cutoff_km=10.0)
    got = {r.evid: r for r in out.collect()}
    evids = [e["evid"] for e in events]
    assert [got[e].aftershock_flag for e in evids] == a_seq, (
        "bowtie flags diverge — the rectangle guard accepted a "
        "self-intersecting ring's AABB interior"
    )
    assert _partitions(evids, [got[e].cluster_evid for e in evids]) == _partitions(
        evids, c_seq
    )


def test_distributed_all_singleton_catalog(spark):
    # ADVICE r1: a catalog where no event claims another (sparse region /
    # small cutoff) used to crash building the has_claims frame from an
    # all-None row. Must return all-zero flags, null cluster labels.
    from nzgmdb_spark.operators.decluster import decluster_distributed

    events = [
        {
            "evid": f"s{i}",
            "datetime": _epoch("2020-01-01T00:00:00") + i * 86400.0 * 90,
            "mag": 4.0,
            "lat": 34.0 + i * 3.0,
            "lon": -118.0,
        }
        for i in range(4)
    ]
    df = spark.createDataFrame(
        [(e["evid"], e["datetime"], e["mag"], e["lat"], e["lon"]) for e in events],
        ["evid", "datetime", "mag", "lat", "lon"],
    )
    corners = {e["evid"]: _square(e["lat"], e["lon"]) for e in events}
    out = {r.evid: r for r in decluster_distributed(df, corners).collect()}
    assert len(out) == 4
    assert all(r.aftershock_flag == 0 for r in out.values())
    assert all(r.cluster_evid is None for r in out.values())


def test_distributed_missing_corners_raises(spark):
    # ADVICE r1: the two W5 paths must fail identically on partial polygon
    # inputs — sequential raises KeyError, distributed used to silently
    # drop the event as a claimer via the inner centers join.
    import pytest

    from nzgmdb_spark.operators.decluster import decluster_distributed

    events = _random_catalog(6, 3)
    df = spark.createDataFrame(
        [(e["evid"], e["datetime"], e["mag"], e["lat"], e["lon"]) for e in events],
        ["evid", "datetime", "mag", "lat", "lon"],
    )
    corners = {e["evid"]: e["corners"] for e in events[:-1]}  # drop one
    with pytest.raises(KeyError, match=events[-1]["evid"]):
        decluster_distributed(df, corners)


def test_registry_decluster_paths_agree(spark):
    # the two registered W5 queries — driver-side sequential and iterative
    # distributed — must produce identical flags and cluster partitions on
    # the driver's own catalog fixture
    from nzgmdb_spark.queries import load_registry
    from tests.conftest import SF_SMALL

    reg = load_registry()
    seq = {r.evid: r for r in reg["w5_decluster_catalog"].fn(spark, SF_SMALL).collect()}
    dist = {
        r.evid: r for r in reg["w5_decluster_distributed"].fn(spark, SF_SMALL).collect()
    }
    assert set(seq) == set(dist)
    evids = sorted(seq)
    assert [dist[e].aftershock_flag for e in evids] == [
        seq[e].aftershock_flag for e in evids
    ]
    assert _partitions(evids, [dist[e].cluster_evid for e in evids]) == _partitions(
        evids, [seq[e].cluster_flag for e in evids]
    )


def test_crjb_inside_polygon_is_zero():
    sq = _square(34.0, -118.0)
    assert crjb_km(34.0, -118.0, sq) == 0.0


def test_crjb_exterior_distance():
    # Point ~157 km due north of the square center: CRJB ≈ 157 − 1 (to the
    # nearer boundary edge), tolerance ±1.5 km (FIXTURES.md §15 ±1 km case).
    sq = _square(34.0, -118.0)
    d = crjb_km(34.0 + 157.0 / KM_PER_DEG_LAT, -118.0, sq)
    assert abs(d - 156.0) < 1.5


def test_resample_polygon_spacing():
    sq = _square(34.0, -118.0)  # 2 km sides → ≥ 2 points per side at 1 km
    pts = resample_polygon_km(sq, spacing_km=1.0)
    assert len(pts) >= 8


def test_decimal_year_vectors(spark):
    # {2020-01-01→2020.0, leap-year midpoint (Jan 1 + 183 d = Jul 2
    # 00:00)→2020.5, 2020-12-31T23:59:59→2020.999999}
    from pyspark.sql import functions as F

    from nzgmdb_spark.functions import decimal_year

    df = spark.createDataFrame(
        [("2020-01-01 00:00:00",), ("2020-07-02 00:00:00",), ("2020-12-31 23:59:59",)],
        ["s"],
    ).select(decimal_year(F.to_timestamp("s")).alias("dy"))
    got = [r.dy for r in df.collect()]
    assert abs(got[0] - 2020.0) < 1e-9
    assert abs(got[1] - 2020.5) < 1e-9
    assert abs(got[2] - 2020.999999) < 1e-5


def test_distributed_bucketed_join_crosses_buckets(spark):
    # The eligibility join buckets time by the max Gardner-Knopoff window.
    # A low-magnitude catalog spread over many buckets forces claims that
    # cross bucket boundaries — the exploded (own, next) bucket pair must
    # still find every eligible target, i.e. stay exactly equivalent to
    # the sequential algorithm.
    import random

    from nzgmdb_spark.operators.decluster import (
        decluster_catalog,
        decluster_distributed,
    )

    rng = random.Random(99)
    t0 = _epoch("2020-01-01T00:00:00")
    events = []
    for i in range(150):
        lat = 34.0 + rng.choice([0.0, 0.01, 0.02]) + rng.random() * 0.004
        lon = -118.0 + rng.choice([0.0, 0.01]) + rng.random() * 0.004
        mag = rng.choice([4.0, 4.2, 4.5])  # W(4.5) ~ 77 days
        dt_days = rng.random() * 400.0  # ~6 buckets
        events.append(
            {
                "evid": f"b{i:04d}",
                "datetime": t0 + dt_days * 86400.0,
                "mag": mag,
                "lat": lat,
                "lon": lon,
                "corners": _square(lat, lon),
            }
        )
    events.sort(key=lambda e: e["evid"])
    a_seq, c_seq = decluster_catalog(events, crjb_cutoff_km=10.0)
    assert sum(a_seq) > 10  # the fixture must actually cluster

    df = spark.createDataFrame(
        [(e["evid"], e["datetime"], e["mag"], e["lat"], e["lon"]) for e in events],
        ["evid", "datetime", "mag", "lat", "lon"],
    )
    corners = {e["evid"]: e["corners"] for e in events}
    got = {r.evid: r for r in decluster_distributed(df, corners).collect()}
    evids = [e["evid"] for e in events]
    assert [got[e].aftershock_flag for e in evids] == a_seq
    assert _partitions(evids, [got[e].cluster_evid for e in evids]) == _partitions(
        evids, c_seq
    )


def test_b2_equal_magnitude_chain_distributed_matches_sequential(spark):
    """Round-3: the B2 equal-magnitude resolution is a distributed
    dependency-ordered fixpoint (no pair data through the driver). Build a
    catalog that is ALL B2: equal magnitudes, co-located, times strictly
    decreasing with evid, so phase A claims nothing and late claims chain
    (B claims A; C blocked on both; D claims C) — 3 fixpoint rounds. The
    distributed resolution must match the sequential reference exactly."""
    from nzgmdb_spark.operators.decluster import decluster_distributed

    events = []
    for i, evid in enumerate(["evA", "evB", "evC", "evD"]):
        events.append(
            {
                "evid": evid,
                "datetime": 1.6e9 + (3 - i) * 3600.0,  # descending in time
                "mag": 6.0,
                "lat": -41.0,
                "lon": 174.0,
                "corners": _square(-41.0, 174.0),
            }
        )
    a_seq, c_seq = decluster_catalog(
        sorted(events, key=lambda e: e["evid"]), crjb_cutoff_km=10.0
    )
    df = spark.createDataFrame(
        [(e["evid"], e["datetime"], e["mag"], e["lat"], e["lon"]) for e in events],
        ["evid", "datetime", "mag", "lat", "lon"],
    )
    corners = {e["evid"]: e["corners"] for e in events}
    evids = sorted(e["evid"] for e in events)
    stats: dict = {}
    out = decluster_distributed(df, corners, crjb_cutoff_km=10.0, stats=stats)
    got = {r.evid: r for r in out.collect()}
    assert [got[e].aftershock_flag for e in evids] == a_seq
    assert _partitions(evids, [got[e].cluster_evid for e in evids]) == _partitions(
        evids, c_seq
    )
    # the structure really is the intended chain: B claims A, D claims C
    assert a_seq == [1, 0, 1, 0]
    assert stats["rounds_b2"] == 3


def test_distributed_100k_catalog_bounded_rounds(spark):
    """Scale evidence for the fixpoint's core claim — rounds = claim-chain
    depth, NOT catalog size (round-3 review ask #5): a 100k-event catalog
    (sf0.1 events, 10x the registered query's base) must converge well
    inside the default 64-round cap, with the round count staying in the
    same regime as the 10k catalog. Wall time is printed for SCALING.md."""
    import time

    from pyspark.sql import functions as F

    from nzgmdb_spark.operators.decluster import (
        decluster_distributed,
        square_corners_col,
    )
    from nzgmdb_spark.queries.geo import _LAT, _LON
    from nzgmdb_spark.queries.kernels_catalog import _MAG
    from nzgmdb_spark.tables import tbl

    ev = (
        tbl(spark, "/root/testdata/sf0.1", "events")
        .select(
            "event_id",
            F.expr(_LAT).alias("lat"),
            F.expr(_LON).alias("lon"),
            F.col("ts").alias("datetime"),
        )
        .withColumn("mag", F.expr(_MAG))
        .select(
            F.col("event_id").cast("string").alias("evid"),
            "datetime", "mag", "lat", "lon",
        )
        .withColumn("corners", square_corners_col())
    )
    stats: dict = {}
    t0 = time.monotonic()
    out = decluster_distributed(ev, crjb_cutoff_km=10.0, stats=stats)
    n = out.count()
    wall = time.monotonic() - t0
    n_after = out.filter(F.col("aftershock_flag") == 1).count()
    print(
        f"\ndecluster 100k: {n} events, {n_after} aftershocks, "
        f"rounds_a={stats['rounds_a']} rounds_b2={stats.get('rounds_b2', 0)} "
        f"wall {wall:.1f}s"
    )
    assert n == 100_000
    assert 0 < n_after < n
    # the claim-chain depth bound: must converge far inside the 64 cap
    assert stats["rounds_a"] <= 32


def test_distributed_edge_compaction_fires_and_matches_sequential(spark):
    """The Phase-A edge-set compaction (round-12) must fire on a catalog
    whose undecided set halves, shrink the live edge set monotonically,
    and leave every decision identical to the sequential algorithm.

    The catalog is a 16-event spatial CHAIN (9 km spacing, 2 km rupture
    squares, descending magnitudes, ascending times): each event's only
    eligible claimer is its predecessor (CRJB ≈ 8 km to the neighbor,
    ≈ 17 km to anything further), so decisions cascade one event per
    round — the deep-tail round structure where compaction matters."""
    from nzgmdb_spark.operators.decluster import decluster_distributed

    t0 = _epoch("2020-01-01T00:00:00")
    events = [
        {
            "evid": f"c{i:02d}",
            "datetime": t0 + i * 3600.0,
            "mag": 6.0 - 0.1 * i,
            "lat": 34.0 + i * (9.0 / KM_PER_DEG_LAT),
            "lon": -118.0,
            "corners": _square(34.0 + i * (9.0 / KM_PER_DEG_LAT), -118.0),
        }
        for i in range(16)
    ]
    a_seq, c_seq = decluster_catalog(events, crjb_cutoff_km=10.0)
    df = spark.createDataFrame(
        [(e["evid"], e["datetime"], e["mag"], e["lat"], e["lon"]) for e in events],
        ["evid", "datetime", "mag", "lat", "lon"],
    )
    corners = {e["evid"]: e["corners"] for e in events}
    stats: dict = {}
    out = decluster_distributed(df, corners, crjb_cutoff_km=10.0, stats=stats)
    got = {r.evid: r for r in out.collect()}
    evids = [e["evid"] for e in events]
    assert [got[e].aftershock_flag for e in evids] == a_seq
    assert _partitions(evids, [got[e].cluster_evid for e in evids]) == _partitions(
        evids, c_seq
    )
    comps = stats.get("edge_compactions")
    assert comps, "compaction never fired on a 400-event clustered catalog"
    # halving rule: compaction rounds strictly increase, live edge counts
    # are non-increasing, and the compacted set is a strict subset of the
    # eligible earlier-priority edge population
    rounds = [c["round"] for c in comps]
    lives = [c["live_edges"] for c in comps]
    assert rounds == sorted(set(rounds))
    assert all(a >= b for a, b in zip(lives, lives[1:]))
    assert lives[0] < stats["pairs_eligible"]


def test_distributed_seed41_catalog_matches_sequential(spark):
    from nzgmdb_spark.operators.decluster import decluster_distributed

    events = _random_catalog(150, seed=41)
    events.sort(key=lambda e: e["evid"])
    a_seq, c_seq = decluster_catalog(events, crjb_cutoff_km=10.0)
    df = spark.createDataFrame(
        [(e["evid"], e["datetime"], e["mag"], e["lat"], e["lon"]) for e in events],
        ["evid", "datetime", "mag", "lat", "lon"],
    )
    corners = {e["evid"]: e["corners"] for e in events}
    out = decluster_distributed(df, corners, crjb_cutoff_km=10.0)
    got = {r.evid: r for r in out.collect()}
    evids = [e["evid"] for e in events]
    assert [got[e].aftershock_flag for e in evids] == a_seq
    assert _partitions(evids, [got[e].cluster_evid for e in evids]) == _partitions(
        evids, c_seq
    )


def test_mag_bands_window_upper_bound():
    # Every band's window must dominate the exact Gardner-Knopoff window of
    # every magnitude inside the band (including across the 6.5 branch
    # step), and the raw->merged mapping must cover every raw band exactly
    # once with a width no smaller than the raw band's own bound.
    from nzgmdb_spark.operators.decluster import (
        _mag_bands,
        gardner_knopoff_window_days,
    )

    rows = _mag_bands(2.7, 9.3, 0.5)
    by_raw = {raw: (tb, w) for raw, tb, w in rows}
    for raw, (tb, wsec) in by_raw.items():
        lo = raw * 0.5
        for frac in range(50):
            m = lo + 0.5 * frac / 50
            if not (2.7 <= m <= 9.3):
                continue
            assert gardner_knopoff_window_days(m) * 86400.0 <= wsec + 1e-6, (
                raw,
                m,
            )
    # span-aware merging: with a tiny span every band merges into one,
    # with an infinite span nothing merges
    merged = _mag_bands(2.7, 9.3, 0.5, t_span_s=1.0)
    assert len({tb for _, tb, _ in merged}) == 1
    unmerged = _mag_bands(2.7, 9.3, 0.5, t_span_s=1e18)
    assert all(raw == tb for raw, tb, _ in unmerged)
    # merged width dominates each member's raw width
    raw_w = {raw: w for raw, _, w in _mag_bands(2.7, 9.3, 0.5)}
    for raw, tb, w in merged:
        assert w + 1e-9 >= raw_w[raw]


def test_mag_bands_factor_merge():
    # Factor-merging (the target-replication cut decluster_distributed
    # uses) must keep every raw band exactly once, keep group widths a
    # TRUE upper bound of each member's raw window, bound the bucket-slop
    # growth by the factor, and only ever group CONSECUTIVE bands.
    from nzgmdb_spark.operators.decluster import _mag_bands

    plain = _mag_bands(2.7, 9.3, 0.5)
    rows = _mag_bands(2.7, 9.3, 0.5, merge_factor=2.0)
    assert [b for b, _, _ in rows] == [b for b, _, _ in plain]
    raw_w = {b: w for b, _, w in plain}
    groups: dict[int, list[int]] = {}
    first_w: dict[int, float] = {}
    for b, tb, w in rows:
        assert w + 1e-9 >= raw_w[b]  # upper bound preserved
        groups.setdefault(tb, []).append(b)
        first_w.setdefault(tb, raw_w[tb])
        assert w <= first_w[tb] * 2.0 + 1e-6  # slop bounded by factor
    for tb, members in groups.items():
        assert members == list(range(min(members), max(members) + 1))
        assert tb == min(members)  # group labeled by its first band
    # it actually merges: a GR-style band ladder (ratio 1.86 < 2) pairs up
    assert len(groups) < len(plain)
    # composes with span merging without losing coverage
    both = _mag_bands(2.7, 9.3, 0.5, t_span_s=200.0 * 86400.0, merge_factor=2.0)
    assert sorted(b for b, _, _ in both) == sorted(b for b, _, _ in plain)
    for b, _, w in both:
        assert w + 1e-9 >= raw_w[b]


def test_auto_accept_fires_and_stays_exact(spark):
    """The d + r_min ≤ cutoff auto-accept (null-corners kernel skip) must
    actually FIRE on a small-polygon clustered catalog — a silent
    deactivation would quietly put every near-field pair back through
    the exact kernel — while flags stay identical to the sequential
    greedy (which test_distributed_matches_sequential pins on the same
    catalog shape)."""
    from nzgmdb_spark.operators.decluster import decluster_distributed

    events = _random_catalog(150, seed=41)
    events.sort(key=lambda e: e["evid"])
    a_seq, _ = decluster_catalog(events, crjb_cutoff_km=10.0)
    df = spark.createDataFrame(
        [(e["evid"], e["datetime"], e["mag"], e["lat"], e["lon"]) for e in events],
        ["evid", "datetime", "mag", "lat", "lon"],
    )
    corners = {e["evid"]: e["corners"] for e in events}
    stats: dict = {}
    out = decluster_distributed(df, corners, crjb_cutoff_km=10.0, stats=stats)
    got = {r.evid: r.aftershock_flag for r in out.collect()}
    assert [got[e["evid"]] for e in events] == a_seq
    assert stats["pairs_auto_accepted"] > 0, (
        "auto-accept bound never fired on a 2 km-square clustered catalog"
    )
    assert stats["pairs_auto_accepted"] <= stats["pairs_prefilter"]


def test_crjb_eligible_vec_exactly_matches_distance_kernel():
    """crjb_eligible_vec's coarse-to-fine verdicts must equal
    ``crjb_km_vec(...) <= cutoff`` EXACTLY — the accept path is float-exact
    by construction (min over a superset), the reject path carries slack,
    and the gray ring runs the identical full kernel. Randomized polygons
    (squares, rectangles, irregular hexagons incl. a concave one) ×
    point clouds spanning inside / boundary-ring / far regions."""
    import random

    import numpy as np

    from nzgmdb_spark.operators.decluster import crjb_eligible_vec, crjb_km_vec

    rng = random.Random(20260816)
    KM = 111.195

    def _poly(kind, lat0, lon0, scale_km):
        h = scale_km / KM
        if kind == "square":
            return ((lat0 - h, lon0 - h), (lat0 - h, lon0 + h),
                    (lat0 + h, lon0 + h), (lat0 + h, lon0 - h))
        if kind == "rect":
            return ((lat0 - h, lon0 - 3 * h), (lat0 - h, lon0 + 3 * h),
                    (lat0 + h, lon0 + 3 * h), (lat0 + h, lon0 - 3 * h))
        # irregular hexagon with one concave vertex (dent toward centroid)
        pts = []
        for i in range(6):
            ang = 2 * math.pi * i / 6 + 0.2
            r = h * (0.3 if i == 2 else rng.uniform(0.7, 1.3))
            pts.append((lat0 + r * math.sin(ang), lon0 + r * math.cos(ang)))
        return tuple(pts)

    for kind in ("square", "rect", "hex"):
        for scale_km in (2.0, 15.0, 40.0):
            lat0 = rng.uniform(-45.0, 45.0)
            lon0 = rng.uniform(-170.0, 170.0)
            corners = _poly(kind, lat0, lon0, scale_km)
            # point cloud: dense near the cutoff ring, plus inside + far
            n = 400
            lats = np.array(
                [lat0 + rng.uniform(-1.0, 1.0) * (scale_km + 25.0) / KM
                 for _ in range(n)]
            )
            lons = np.array(
                [lon0 + rng.uniform(-1.0, 1.0) * (scale_km + 25.0) / KM
                 for _ in range(n)]
            )
            for cutoff in (5.0, 10.0):
                want = crjb_km_vec(lats, lons, corners) <= cutoff
                got = crjb_eligible_vec(lats, lons, corners, cutoff)
                assert (got == want).all(), (
                    f"{kind} scale={scale_km} cutoff={cutoff}: "
                    f"{int((got != want).sum())}/{n} verdicts differ"
                )


def test_crjb_eligible_grouped_matches_per_polygon_loop():
    """crjb_eligible_grouped (the batched-across-claimers kernel the pair
    stream runs) must return EXACTLY the per-polygon crjb_eligible_vec
    verdicts for every pair — mixed polygon kinds and sizes in one batch,
    including tiny (stride ≤ 2) boundaries that take the scalar path and
    pairs interleaved across polygons like a real shuffled batch."""
    import random

    import numpy as np

    from nzgmdb_spark.operators.decluster import (
        crjb_eligible_grouped,
        crjb_eligible_vec,
    )

    rng = random.Random(20260817)
    KM = 111.195

    def _poly(kind, lat0, lon0, scale_km):
        h = scale_km / KM
        if kind == "square":
            return ((lat0 - h, lon0 - h), (lat0 - h, lon0 + h),
                    (lat0 + h, lon0 + h), (lat0 + h, lon0 - h))
        if kind == "rect":
            return ((lat0 - h, lon0 - 3 * h), (lat0 - h, lon0 + 3 * h),
                    (lat0 + h, lon0 + 3 * h), (lat0 + h, lon0 - 3 * h))
        pts = []
        for i in range(6):
            ang = 2 * math.pi * i / 6 + 0.2
            r = h * (0.3 if i == 2 else rng.uniform(0.7, 1.3))
            pts.append((lat0 + r * math.sin(ang), lon0 + r * math.cos(ang)))
        return tuple(pts)

    polys = []
    pair_lats, pair_lons, pair_codes = [], [], []
    kinds = ("square", "rect", "hex")
    scales = (1.0, 2.0, 15.0, 40.0)  # 1-2 km perimeters hit the tiny path
    for u in range(24):
        lat0 = rng.uniform(-55.0, 55.0)
        lon0 = rng.uniform(-170.0, 170.0)
        scale_km = scales[u % len(scales)]
        polys.append(_poly(kinds[u % 3], lat0, lon0, scale_km))
        for _ in range(rng.randint(1, 40)):
            pair_lats.append(lat0 + rng.uniform(-1.0, 1.0) * (scale_km + 25.0) / KM)
            pair_lons.append(lon0 + rng.uniform(-1.0, 1.0) * (scale_km + 25.0) / KM)
            pair_codes.append(u)
    # shuffle so codes interleave across polygons like a real batch
    order = list(range(len(pair_codes)))
    rng.shuffle(order)
    lats = np.array([pair_lats[i] for i in order])
    lons = np.array([pair_lons[i] for i in order])
    codes = np.array([pair_codes[i] for i in order])

    for cutoff in (5.0, 10.0):
        got = crjb_eligible_grouped(lats, lons, codes, polys, cutoff)
        want = np.zeros(lats.size, dtype=bool)
        for u, corners in enumerate(polys):
            sel = np.flatnonzero(codes == u)
            want[sel] = crjb_eligible_vec(lats[sel], lons[sel], corners, cutoff)
        assert (got == want).all(), (
            f"cutoff={cutoff}: {int((got != want).sum())}/{lats.size} "
            "grouped verdicts differ from the per-polygon loop"
        )


def test_build_boundaries_bit_identical_to_scalar_resample():
    """_build_boundaries (the signature-grouped batch boundary builder)
    must emit bit-identical radian points, cos values, and max-step to
    the scalar resample_polygon_km loop — for a MIXED batch so the
    signature grouping itself is exercised (two same-signature squares
    share one group; the pentagon and antimeridian box each get their
    own)."""
    import numpy as np

    from nzgmdb_spark.operators.decluster import (
        EARTH_RADIUS_KM,
        _build_boundaries,
        resample_polygon_km,
    )

    polys = (
        ((-40.1, 173.9), (-40.1, 174.2), (-39.8, 174.2), (-39.8, 173.9)),
        ((-40.1, 173.4), (-40.1, 173.7), (-39.8, 173.7), (-39.8, 173.4)),
        ((-45.0, 166.5), (-44.7, 167.2), (-44.9, 167.9), (-45.3, 167.1),
         (-45.2, 166.6)),
        ((10.0, -179.9), (10.0, 179.7), (10.3, 179.7), (10.3, -179.9)),
    )
    built = _build_boundaries(list(polys), 1.0)
    for corners, (phi, lam, cphi, max_step) in zip(polys, built):
        b = np.asarray(resample_polygon_km(list(corners)))
        w_phi, w_lam = np.radians(b[:, 0]), np.radians(b[:, 1])
        assert (phi == w_phi).all() and (lam == w_lam).all()
        assert (cphi == np.cos(w_phi)).all()
        p2, l2 = np.roll(w_phi, -1), np.roll(w_lam, -1)
        a = np.sin((p2 - w_phi) / 2.0) ** 2 + np.cos(w_phi) * np.cos(
            p2
        ) * np.sin((l2 - w_lam) / 2.0) ** 2
        want_step = float(
            2.0
            * EARTH_RADIUS_KM
            * np.max(np.arcsin(np.sqrt(np.minimum(a, 1.0))))
        )
        assert max_step == want_step
