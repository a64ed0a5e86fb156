"""Catalog declustering (SURVEY.md §2.5 W5, §2.9 K15).

Re-implements the reference's magnitude-ordered sequential declustering
(nzgmdb/calculation/aftershocks.py:222-308) and CRJB boundary distance
(aftershocks.py:143-219) from the published algorithm description:

- Events are processed in descending magnitude order. Each unclaimed event
  becomes a mainshock and claims, within a Gardner-Knopoff-style
  magnitude-dependent time window, every smaller unclaimed event whose CRJB
  distance (closest distance from the smaller event's centroid to the
  mainshock's rupture-polygon boundary, 0 inside) is within the cutoff.
- Outputs aftershock_flag (1 = claimed by a bigger event) and cluster_flag
  (cluster id; 0 = unclustered singleton).

The catalog is bounded (≤ tens of thousands of events — every quake, not
every record), so the exact sequential algorithm runs driver-side on the
collected catalog and the flags are joined back distributed. At 100 TB the
fact tables never pass through this path; only the small event dimension
does (SURVEY §7.1 step 8).

The distributed fixpoint form (decluster_distributed, proven
flag-identical to the sequential algorithm on randomized catalogs) is the
path past a driver-collectable catalog, and the crossover is already
visible at test scale: on the sf0.1 catalog (10k events, local[32]) the
sequential driver loop takes ~118 s while the distributed fixpoint takes
~14 s — because the eligibility join and CRJB kernel parallelize while
the greedy loop cannot. SCALING.md carries the measured growth points
(density-constant 1M events ≈ 46-73 s, 10M ≈ 646 s in one probe JVM).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088

# Phase-A delta joins broadcast the per-round decided set while it is
# provably small: 2M (int, bool) rows ≈ 16 MB framed — far under the 8 GB
# broadcast cap and a trivial build on any executor, independent of core
# count. Bigger deltas (early rounds of huge catalogs) take the
# shuffled-hash path instead, where only the delta moves — the edge set's
# checkpoint partitioning is reused either way.
_DELTA_BROADCAST_MAX = 2_000_000

# Phase-A edge-set COMPACTION threshold: the delta iteration probes the
# whole edge checkpoint every round (the probe side of a hash join is a
# full scan even when almost nothing matches), so once most events are
# decided the tail rounds pay O(|E|) scan for O(delta) output — measured
# at the 1M catalog as 42 s stages scanning 14.6M edges to emit 15k
# messages. When the still-relevant event set fits a broadcast, the edge
# set is compacted with two map-side semi-joins (claimer must be
# undecided-or-just-decided — just-decided edges fire NEXT round; target
# must be undecided — messages to decided targets are provably ignored
# by the state update) and re-checkpointed. The halving rule (compact
# only when the keep set is ≤ half the size it had at the previous
# compaction) bounds total rewrite volume by a geometric series ≤ 2|E|
# worst case, and in practice the first compaction drops >90% of edges.
# 8M int rows ≈ 32 MB framed — fine to broadcast; catalogs whose
# undecided set never fits simply keep the uncompacted behavior.
_COMPACT_BROADCAST_MAX = 8_000_000


def _haversine_km(lat1, lon1, lat2, lon2):
    phi1, phi2 = math.radians(lat1), math.radians(lat2)
    dphi = math.radians(lat2 - lat1)
    dlam = math.radians(lon2 - lon1)
    a = math.sin(dphi / 2) ** 2 + math.cos(phi1) * math.cos(phi2) * math.sin(dlam / 2) ** 2
    return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(a))


def resample_polygon_km(
    corners: list[tuple[float, float]], spacing_km: float = 1.0
) -> list[tuple[float, float]]:
    """Resample a closed lat/lon polygon boundary to ~spacing_km steps
    (reference aftershocks.py:143-175)."""
    pts: list[tuple[float, float]] = []
    n = len(corners)
    for i in range(n):
        a, b = corners[i], corners[(i + 1) % n]
        seg_km = _haversine_km(a[0], a[1], b[0], b[1])
        steps = max(1, int(math.ceil(seg_km / spacing_km)))
        for s in range(steps):
            t = s / steps
            pts.append((a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1])))
    return pts


from collections import OrderedDict

_BOUNDARY_CACHE: OrderedDict = OrderedDict()
_BOUNDARY_CACHE_MAX = 4096


def _build_boundaries(polys: list[tuple], spacing_km: float) -> list[tuple]:
    """(phi, lam, cos_phi, max_step_km) for MANY polygons in one pass,
    batch-built per step-count SIGNATURE: polygons whose edges resample
    into the same per-edge step counts (the common case — a catalog's
    mag-scaled squares at similar latitudes) share one (npolys × nboundary)
    construction, so the per-polygon numpy dispatch (arange/concat/trig ×
    every claimer of a 10M-event catalog — the measured cost after the
    pair kernel itself was batched) is paid once per signature. Per-edge
    points, radians, and the wrap-included max consecutive-step haversine
    are the same IEEE double ops as the scalar build, elementwise, so
    every output is bit-identical; the measured step keeps
    crjb_eligible_vec's reject-bound cover provably safe for ANY polygon
    (the resample interpolates lat/lon linearly, so per-step arc length
    only approximates spacing_km; a fixed fudge factor would be unsound
    for very long segments at high latitude)."""
    out: list = [None] * len(polys)
    groups: dict[tuple, list[int]] = {}
    for i, c in enumerate(polys):
        n = len(c)
        sig = tuple(
            max(
                1,
                int(
                    math.ceil(
                        _haversine_km(
                            c[k][0], c[k][1], c[(k + 1) % n][0], c[(k + 1) % n][1]
                        )
                        / spacing_km
                    )
                ),
            )
            for k in range(n)
        )
        groups.setdefault(sig, []).append(i)
    for sig, idxs in groups.items():
        corner_arr = np.asarray([polys[i] for i in idxs])  # (P, n, 2)
        n = len(sig)
        lat_parts, lon_parts = [], []
        for k in range(n):
            a = corner_arr[:, k]
            b = corner_arr[:, (k + 1) % n]
            t = np.arange(sig[k]) / sig[k]
            lat_parts.append(a[:, 0][:, None] + t[None, :] * (b[:, 0] - a[:, 0])[:, None])
            lon_parts.append(a[:, 1][:, None] + t[None, :] * (b[:, 1] - a[:, 1])[:, None])
        phi = np.radians(np.concatenate(lat_parts, axis=1))
        lam = np.radians(np.concatenate(lon_parts, axis=1))
        cphi = np.cos(phi)
        # consecutive-step haversines, wrap included (last point -> first)
        p2 = np.concatenate([phi[:, 1:], phi[:, :1]], axis=1)
        l2 = np.concatenate([lam[:, 1:], lam[:, :1]], axis=1)
        a_ = np.sin((p2 - phi) / 2.0) ** 2 + cphi * np.cos(p2) * np.sin(
            (l2 - lam) / 2.0
        ) ** 2
        max_steps = 2.0 * EARTH_RADIUS_KM * np.max(
            np.arcsin(np.sqrt(np.minimum(a_, 1.0))), axis=1
        )
        for r, i in enumerate(idxs):
            # copies, not views: a cached row must not pin its whole
            # signature-group parent array past eviction
            out[i] = (
                phi[r].copy(),
                lam[r].copy(),
                cphi[r].copy(),
                float(max_steps[r]),
            )
    return out


def _boundary_cache_put(key: tuple, val: tuple) -> None:
    _BOUNDARY_CACHE[key] = val
    if len(_BOUNDARY_CACHE) > _BOUNDARY_CACHE_MAX:
        _BOUNDARY_CACHE.popitem(last=False)


def _boundary_rad(corners_t: tuple, spacing_km: float):
    """Cached resampled boundary for ONE polygon (see _build_boundaries).
    The cache is shared with _boundary_rad_many so the scalar kernels and
    the batched pair stream never rebuild each other's polygons."""
    key = (corners_t, spacing_km)
    hit = _BOUNDARY_CACHE.get(key)
    if hit is None:
        hit = _build_boundaries([corners_t], spacing_km)[0]
        _boundary_cache_put(key, hit)
    return hit


def _boundary_rad_many(polys: list[tuple], spacing_km: float) -> list[tuple]:
    """Cache-aware batch variant of _boundary_rad: misses are built
    together in _build_boundaries (one numpy pass per step signature)."""
    out: list = []
    miss: list[int] = []
    for i, p in enumerate(polys):
        hit = _BOUNDARY_CACHE.get((p, spacing_km))
        out.append(hit)
        if hit is None:
            miss.append(i)
    if miss:
        built = _build_boundaries([polys[i] for i in miss], spacing_km)
        for i, b in zip(miss, built):
            out[i] = b
            _boundary_cache_put((polys[i], spacing_km), b)
    return out


def _points_in_polygon(lats: np.ndarray, lons: np.ndarray, corners) -> np.ndarray:
    """Vectorized ray casting over many points for ONE polygon — the same
    comparisons and arithmetic as the scalar form, applied elementwise, so
    the inside/outside verdict is bit-identical per point."""
    inside = np.zeros(lats.shape[0], dtype=bool)
    n = len(corners)
    for i in range(n):
        y1, x1 = corners[i]
        y2, x2 = corners[(i + 1) % n]
        crosses = (y1 > lats) != (y2 > lats)
        if not crosses.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            x_int = x1 + (lats - y1) / (y2 - y1) * (x2 - x1)
        inside ^= crosses & (lons < x_int)
    return inside


def crjb_km_vec(
    lats: np.ndarray,
    lons: np.ndarray,
    corners: tuple,
    spacing_km: float = 1.0,
) -> np.ndarray:
    """CRJB for MANY centroids against ONE rupture polygon: min geodesic
    distance to the resampled boundary, 0 inside (reference
    aftershocks.py:178-219). One (npoints × nboundary) broadcasted
    haversine — this is the batch kernel both decluster paths share, so
    sequential and distributed distances are bit-identical by
    construction (crjb_km delegates here with a 1-point array). ``a`` is
    clipped to [0, 1] so near-antipodal float overshoot can never turn
    the whole min into NaN — this also makes the min-then-arcsin order
    here and arcsin-of-min in crjb_eligible_vec unconditionally
    equivalent (arcsin∘sqrt is monotone on [0, 1])."""
    bphi, blam, bcos, _ = _boundary_rad(corners, spacing_km)
    phi = np.radians(lats)[:, None]
    lam = np.radians(lons)[:, None]
    a = (
        np.sin((bphi[None, :] - phi) / 2.0) ** 2
        + np.cos(phi) * bcos[None, :] * np.sin((blam[None, :] - lam) / 2.0) ** 2
    )
    d = 2.0 * EARTH_RADIUS_KM * np.min(np.arcsin(np.sqrt(np.minimum(a, 1.0))), axis=1)
    d[_points_in_polygon(lats, lons, corners)] = 0.0
    return d


def crjb_eligible_vec(
    lats: np.ndarray,
    lons: np.ndarray,
    corners: tuple,
    cutoff_km: float,
    spacing_km: float = 1.0,
) -> np.ndarray:
    """Exact ``crjb_km_vec(...) <= cutoff_km`` verdicts, computed
    coarse-to-fine. The decluster pair filter only needs the BOOLEAN, so
    most points never pay the full (npoints × nboundary) matrix:

    1. **Subset accept (exact)** — distance to every ``stride``-th
       resampled boundary point. The subset's per-element ``a`` values are
       bit-identical to the corresponding columns of the full matrix
       (same formula, same inputs), so ``min_full <= min_subset`` holds in
       floats and ``d_subset <= cutoff`` PROVES ``d_full <= cutoff``.
    2. **Inside test (exact)** — ray cast; inside points have CRJB 0.
    3. **Reject bound (provable)** — every full boundary point lies
       within ``ceil(stride/2)`` resample steps of a subset point, and
       each step's arc length is at most the polygon's MEASURED max
       consecutive-point haversine (computed once in the cached
       _boundary_rad, ring wrap included), so by the triangle inequality
       ``d_full >= d_subset - cover`` with
       ``cover = (stride/2 + 1) * max_step``; points with
       ``d_subset - cover`` beyond the cutoff are provably ineligible
       for ANY polygon, with no heuristic fudge factor.
    4. **Full kernel on the gray ring only** — identical formula to
       crjb_km_vec (both clip ``a`` to [0, 1] before arcsin, so the
       subset/min ordering difference is unconditionally equivalent).

    Equality with ``crjb_km_vec(...) <= cutoff_km`` is pinned by a
    randomized property test (tests/test_decluster.py)."""
    bphi, blam, bcos, max_step_km = _boundary_rad(corners, spacing_km)
    n_b = bphi.size
    phi = np.radians(lats)[:, None]
    lam = np.radians(lons)[:, None]

    def _min_d(sel_phi, sel_lam, b_sel):
        a = (
            np.sin((bphi[None, b_sel] - sel_phi) / 2.0) ** 2
            + np.cos(sel_phi)
            * bcos[None, b_sel]
            * np.sin((blam[None, b_sel] - sel_lam) / 2.0) ** 2
        )
        return 2.0 * EARTH_RADIUS_KM * np.arcsin(
            np.sqrt(np.minimum(np.min(a, axis=1), 1.0))
        )

    stride = max(1, n_b // 24)
    if stride <= 2:
        # tiny boundary: the subset would be most of the matrix anyway
        elig = _min_d(phi, lam, slice(None)) <= cutoff_km
        elig |= _points_in_polygon(lats, lons, corners)
        return elig

    d_sub = _min_d(phi, lam, slice(0, None, stride))
    elig = d_sub <= cutoff_km  # exact accept: d_full <= d_sub
    und = np.flatnonzero(~elig)
    if und.size:
        inside = _points_in_polygon(lats[und], lons[und], corners)
        elig[und[inside]] = True
        cover = (stride * 0.5 + 1.0) * max_step_km + 1e-6
        gray = und[~inside & (d_sub[und] - cover <= cutoff_km)]
        if gray.size:
            elig[gray] = _min_d(phi[gray], lam[gray], slice(None)) <= cutoff_km
    return elig


def crjb_eligible_grouped(
    lats: np.ndarray,
    lons: np.ndarray,
    codes: np.ndarray,
    polys: list[tuple],
    cutoff_km: float,
    spacing_km: float = 1.0,
) -> np.ndarray:
    """crjb_eligible_vec verdicts for pairs spanning MANY polygons in one
    vectorized pass: pair ``i`` is scored against ``polys[codes[i]]``.

    Same coarse-to-fine tiers and bit-identical per-element arithmetic as
    the per-polygon kernel (subset accept → ray-cast inside → cover
    reject → full matrix on the gray ring), but batched ACROSS polygons
    with stacked boundary arrays — each polygon's row padded by repeating
    its own first sample, and a duplicate of a real sample never changes
    a min. The motivation is dispatch overhead, not flops: decluster
    claim groups average ~10 pairs, so the per-claimer loop paid tens of
    numpy calls per tiny group (~40 µs/pair measured at the 10M catalog)
    while the subset matrix itself is ~24 elements/pair. Polygons too
    small to tier (stride ≤ 2) keep the per-polygon scalar path, whose
    subset would be most of its matrix anyway. Verdict equality with the
    per-group loop is pinned in tests/test_decluster.py."""
    m = int(lats.shape[0])
    out = np.zeros(m, dtype=bool)
    if m == 0:
        return out
    n_u = len(polys)
    binfo = _boundary_rad_many(polys, spacing_km)
    strides = [max(1, b[0].size // 24) for b in binfo]
    tiny_u = [u for u in range(n_u) if strides[u] <= 2]
    if tiny_u:
        for u in tiny_u:
            sel = np.flatnonzero(codes == u)
            if sel.size:
                out[sel] = crjb_eligible_vec(
                    lats[sel], lons[sel], polys[u], cutoff_km, spacing_km
                )
        idx = np.flatnonzero(~np.isin(codes, np.asarray(tiny_u)))
        if idx.size == 0:
            return out
    else:
        idx = np.arange(m)

    # Stacked subset boundaries over the batch's polygons (tiny rows are
    # built too — they are never indexed — to keep the row ids = codes).
    subs = [
        (b[0][::s], b[1][::s], b[2][::s]) for b, s in zip(binfo, strides)
    ]
    s_max = max(sp.size for sp, _, _ in subs)
    sub_phi = np.empty((n_u, s_max))
    sub_lam = np.empty((n_u, s_max))
    sub_cos = np.empty((n_u, s_max))
    for u, (sp, sl, sc) in enumerate(subs):
        k = sp.size
        sub_phi[u, :k], sub_phi[u, k:] = sp, sp[0]
        sub_lam[u, :k], sub_lam[u, k:] = sl, sl[0]
        sub_cos[u, :k], sub_cos[u, k:] = sc, sc[0]

    c = codes[idx]
    phi = np.radians(lats[idx])
    lam = np.radians(lons[idx])
    a = (
        np.sin((sub_phi[c] - phi[:, None]) / 2.0) ** 2
        + np.cos(phi)[:, None]
        * sub_cos[c]
        * np.sin((sub_lam[c] - lam[:, None]) / 2.0) ** 2
    )
    d_sub = 2.0 * EARTH_RADIUS_KM * np.arcsin(
        np.sqrt(np.minimum(np.min(a, axis=1), 1.0))
    )
    elig = d_sub <= cutoff_km  # exact accept: d_full <= d_sub
    und = np.flatnonzero(~elig)
    if und.size:
        uc = c[und]
        # Ray-cast inside test, bucketed by corner COUNT (corner rows
        # cannot be padded — extra edges would change the cast) and
        # vectorized across pairs within a bucket, edge order preserved.
        nc_by_u = np.fromiter((len(p) for p in polys), dtype=np.int64, count=n_u)
        inside = np.zeros(und.size, dtype=bool)
        y_p = lats[idx][und]
        x_p = lons[idx][und]
        for nc in np.unique(nc_by_u[uc]):
            sel = np.flatnonzero(nc_by_u[uc] == nc)
            uu, inv = np.unique(uc[sel], return_inverse=True)
            cy = np.asarray([[polys[u][i][0] for i in range(nc)] for u in uu])
            cx = np.asarray([[polys[u][i][1] for i in range(nc)] for u in uu])
            ys, xs = y_p[sel], x_p[sel]
            ins = np.zeros(sel.size, dtype=bool)
            for i in range(nc):
                y1, x1 = cy[inv, i], cx[inv, i]
                y2, x2 = cy[inv, (i + 1) % nc], cx[inv, (i + 1) % nc]
                crosses = (y1 > ys) != (y2 > ys)
                if not crosses.any():
                    continue
                with np.errstate(divide="ignore", invalid="ignore"):
                    x_int = x1 + (ys - y1) / (y2 - y1) * (x2 - x1)
                ins ^= crosses & (xs < x_int)
            inside[sel] = ins
        elig[und[inside]] = True
        covers = np.asarray(
            [(s * 0.5 + 1.0) * b[3] + 1e-6 for s, b in zip(strides, binfo)]
        )
        gray = und[~inside & (d_sub[und] - covers[uc] <= cutoff_km)]
        if gray.size:
            gc = c[gray]
            guu, ginv = np.unique(gc, return_inverse=True)
            b_max = max(binfo[u][0].size for u in guu)
            g_phi = np.empty((guu.size, b_max))
            g_lam = np.empty((guu.size, b_max))
            g_cos = np.empty((guu.size, b_max))
            for r, u in enumerate(guu):
                bp, bl, bc, _ = binfo[u]
                k = bp.size
                g_phi[r, :k], g_phi[r, k:] = bp, bp[0]
                g_lam[r, :k], g_lam[r, k:] = bl, bl[0]
                g_cos[r, :k], g_cos[r, k:] = bc, bc[0]
            ag = (
                np.sin((g_phi[ginv] - phi[gray][:, None]) / 2.0) ** 2
                + np.cos(phi[gray])[:, None]
                * g_cos[ginv]
                * np.sin((g_lam[ginv] - lam[gray][:, None]) / 2.0) ** 2
            )
            dg = 2.0 * EARTH_RADIUS_KM * np.arcsin(
                np.sqrt(np.minimum(np.min(ag, axis=1), 1.0))
            )
            elig[gray] = dg <= cutoff_km
    out[idx] = elig
    return out


def crjb_km(
    lat: float, lon: float, corners: list[tuple[float, float]], spacing_km: float = 1.0
) -> float:
    """CRJB: min geodesic distance from a centroid to the rupture polygon
    boundary; 0 if the centroid lies inside (reference aftershocks.py:178-219).

    Scalar facade over crjb_km_vec — the sequential greedy and the
    distributed fixpoint share the one vectorized kernel."""
    return float(
        crjb_km_vec(
            np.asarray([lat], dtype=float),
            np.asarray([lon], dtype=float),
            tuple(map(tuple, corners)),
            spacing_km,
        )[0]
    )


def gardner_knopoff_window_days(mag: float) -> float:
    """Magnitude-dependent aftershock time window (days), Gardner-Knopoff
    (1974) power-law form used by the reference (aftershocks.py:260-265)."""
    if mag >= 6.5:
        return 10 ** (0.032 * mag + 2.7389)
    return 10 ** (0.5409 * mag - 0.547)


def _mag_bands(
    lo: float | None,
    hi: float | None,
    width: float = 0.5,
    t_span_s: float | None = None,
    merge_factor: float | None = None,
) -> list[tuple[int, int, float]]:
    """Magnitude bands for the banded eligibility join: (raw_band,
    merged_band, band_window_seconds) where raw_band = floor(mag / width)
    and the window is a TRUE upper bound of the Gardner-Knopoff window
    over the band's magnitude interval. Both power-law branches are
    increasing, with a downward step at 6.5, so the supremum over [a, b)
    is the max of the sub-6.5 branch evaluated at min(b, 6.5) and the
    ≥6.5 branch at b.

    With ``merge_factor`` set, consecutive raw bands whose windows stay
    within that factor of the group's FIRST window are merged into one
    band: claimers take the group's max window as their bucket width
    (time-bucket slop grows by at most the factor — only join
    comparisons, never the pair set, since the exact time window is a
    residual condition), while targets replicate once per GROUP instead
    of once per raw band. With 0.5-wide bands the sub-6.5 window ratio
    is 10^0.27 ≈ 1.86 per band, so factor 2 pairs up the small-magnitude
    bands and collapses the near-flat ≥6.5 branch into a single group —
    roughly a 3× cut in target-side exchange rows on a Gutenberg-Richter
    catalog.

    Bands whose window meets or exceeds the catalog's time span are
    further MERGED into one band (their bucket key would be degenerate
    anyway — the whole catalog fits in ~one bucket). On a short dense
    catalog this collapses to a single band — the pre-banding behavior —
    while a multi-decade catalog keeps day-scale buckets for the
    small-magnitude majority."""
    if lo is None or hi is None:
        return [(0, 0, 86400.0)]
    raw: list[tuple[int, float]] = []
    for b in range(int(math.floor(lo / width)), int(math.floor(hi / width)) + 1):
        a, c = b * width, (b + 1) * width
        cands = []
        if a < 6.5:
            cands.append(10 ** (0.5409 * min(c, 6.5) - 0.547))
        if c > 6.5:
            cands.append(10 ** (0.032 * c + 2.7389))
        raw.append((b, max(max(cands) * 86400.0, 1.0)))
    groups: list[list[tuple[int, float]]] = []
    for b, w in raw:
        if (
            groups
            and merge_factor is not None
            and w <= groups[-1][0][1] * merge_factor
        ):
            groups[-1].append((b, w))
        else:
            groups.append([(b, w)])
    rows = [(b, g[0][0], max(w for _, w in g)) for g in groups for b, _ in g]
    if t_span_s is None:
        return rows
    keep = [(b, tb, w) for b, tb, w in rows if w < t_span_s]
    merged = [(b, tb, w) for b, tb, w in rows if w >= t_span_s]
    out = keep
    if merged:
        tb0 = merged[0][1]
        wmax = max(w for _, _, w in merged)
        out = keep + [(b, tb0, wmax) for b, _, _ in merged]
    return out


def decluster_catalog(
    events: list[dict],
    crjb_cutoff_km: float = 10.0,
) -> tuple[list[int], list[int]]:
    """Exact sequential declustering over a bounded in-memory catalog.

    ``events``: dicts with evid, datetime (epoch seconds), mag, lat, lon,
    corners (rupture polygon [(lat, lon), ...]). Returns (aftershock_flags,
    cluster_flags) aligned with input order.
    """
    n = len(events)
    aftershock = [0] * n
    cluster = [0] * n
    # stable descending-magnitude order (reference argsort desc,
    # aftershocks.py:271)
    order = sorted(range(n), key=lambda i: (-events[i]["mag"], i))
    next_cluster = 1
    for i in order:
        if aftershock[i]:
            continue  # already claimed by a bigger event
        window_s = gardner_knopoff_window_days(events[i]["mag"]) * 86400.0
        t0 = events[i]["datetime"]
        claimed = False
        for j in range(n):
            if j == i or aftershock[j] or events[j]["mag"] > events[i]["mag"]:
                continue
            if cluster[j] and cluster[j] != cluster[i]:
                continue
            dt = events[j]["datetime"] - t0
            if dt < 0 or dt > window_s:
                continue
            d = crjb_km(events[j]["lat"], events[j]["lon"], events[i]["corners"])
            if d <= crjb_cutoff_km:
                if not cluster[i]:
                    cluster[i] = next_cluster
                    next_cluster += 1
                aftershock[j] = 1
                cluster[j] = cluster[i]
                claimed = True
        if claimed and not cluster[i]:
            cluster[i] = next_cluster
            next_cluster += 1
    return aftershock, cluster


def square_corners_col(
    lat: str = "lat", lon: str = "lon", half_deg: float = 0.15
):
    """Rupture-square ``corners`` column (array of 4 [lat, lon] pairs)
    derived map-side from event coordinates — the DataFrame-native way to
    feed polygons into the decluster paths without a driver loop."""
    la, lo = F.col(lat), F.col(lon)
    h = float(half_deg)
    return F.array(
        F.array(la - h, lo - h),
        F.array(la - h, lo + h),
        F.array(la + h, lo + h),
        F.array(la + h, lo - h),
    )


def decluster(
    events_df: DataFrame,
    corners_by_evid: dict[str, list[tuple[float, float]]] | None = None,
    crjb_cutoff_km: float = 10.0,
) -> DataFrame:
    """Driver-side wrapper: collect the (small) event dimension ONCE —
    corners included, from the ``corners`` column when no dict is given —
    run the exact algorithm, join flags back as a broadcast dimension."""
    cols = ["evid", "datetime", "mag", "lat", "lon"]
    if corners_by_evid is None:
        rows = events_df.select(*cols, "corners").collect()
    else:
        rows = events_df.select(*cols).collect()
    events = [
        {
            "evid": r.evid,
            "datetime": r.datetime.timestamp(),
            "mag": float(r.mag),
            "lat": float(r.lat),
            "lon": float(r.lon),
            "corners": (
                [tuple(c) for c in r.corners]
                if corners_by_evid is None
                else corners_by_evid[r.evid]
            ),
        }
        for r in rows
    ]
    a_flags, c_flags = decluster_catalog(events, crjb_cutoff_km)
    spark = events_df.sparkSession
    # Explicit schema: an empty catalog (or an all-None column) must build
    # a typed empty relation, not crash schema inference.
    evid_dt = events_df.schema["evid"].dataType.simpleString()
    flags = spark.createDataFrame(
        [(e["evid"], int(a), int(c)) for e, a, c in zip(events, a_flags, c_flags)],
        schema=f"evid {evid_dt}, aftershock_flag int, cluster_flag int",
    )
    return events_df.join(F.broadcast(flags), "evid", "left")


# Measured dead end (round 8, do not retry without new evidence): a SQL
# ray-cast inside-test auto-accept (points inside the polygon have
# CRJB = 0 by definition) fired on 39% of the 1M-catalog's 18.7M
# prefilter pairs, but the per-row higher-order fold over the corners
# array cost as much JVM time as the skipped kernel work saved —
# interleaved A/B min-of-3: t_crjb 35.9 s with vs 32.6 s without, wall
# 84.4 vs 73.8 s (stats runs pay the fold twice). The surviving
# auto-accept is the FREE one below: d_centroid ≤ cutoff − r_min reuses
# the already-computed haversine and a build-time array_min.


def decluster_distributed(
    events_df: DataFrame,
    corners_by_evid: dict[str, list[tuple[float, float]]] | None = None,
    crjb_cutoff_km: float = 10.0,
    max_rounds: int = 64,
    stats: dict | None = None,
) -> DataFrame:
    """Distributed declustering, exact-equivalent to the sequential greedy.

    The sequential algorithm (reference aftershocks.py:222-308) looks
    inherently ordered, but decomposes into Spark-shaped pieces:

    1. **Eligibility pairs** — one TIME-BUCKETED EQUI-join builds every
       (claimer k, target j) with ``mag_j ≤ mag_k``, ``0 ≤ t_j − t_k ≤
       W(mag_k)`` and CRJB ≤ cutoff: claimers explode into the band
       buckets their own window touches, targets join on bucket
       equality, and the mag/time/distance conditions are residual
       filters. The surviving pair stream is NARROW (int prios, mags,
       target centroid) — each claimer's rupture polygon is delivered
       once, as a tagged row sorted ahead of its pair rows, and the
       exact CRJB eligibility runs in an Arrow-batched mapInPandas
       stage. Candidates scale with co-windowed pair density, never
       catalog².
    2. **Mainshock fixpoint** — whether an event was unclaimed when its
       turn came depends only on STRICTLY earlier-priority events
       (priority = mag desc, evid asc), so ``mainshock_at_turn`` is the
       classic greedy-MIS-by-priority fixpoint: an event is claimed as
       soon as any earlier eligible claimer is known to be a mainshock,
       and is a mainshock once every earlier eligible claimer is known
       not to be. Iterated as a DELTA fixpoint: per-target undecided-
       claimer counts, with each round joining only the edges of the
       claimers decided in the previous round — every edge is processed
       exactly once across the fixpoint, and rounds needed = longest
       claim-chain depth, not catalog size.
    3. **Claim assignment** — derived in one pass: a claimed event's
       claimer is the minimum-priority eligible mainshock (the first one
       processed). A second tiny fixpoint resolves the equal-magnitude
       corner case (a mainshock that claimed nothing can itself be
       claimed by an equal-magnitude later-priority mainshock — the
       reference's ``cluster[j] != cluster[i]`` guard), which chains only
       inside equal-magnitude groups.

    Returns columns ``evid, mag, aftershock_flag, cluster_evid`` —
    ``aftershock_flag`` (int, 1 = claimed by a bigger event) and
    ``cluster_evid`` (claimer's evid for cluster members, own evid for
    claiming mainshocks, null for unclustered singletons). Other caller
    columns are dropped; join back on ``evid`` if needed. Cluster ids
    are canonical labels, not the sequential version's arrival-order
    integers — compare partitions, not labels.
    """
    import time as _time

    import pandas as pd

    _t0 = _time.monotonic()

    def _mark(key: str) -> None:
        # Phase wall-clock attribution: each phase ends at an eager
        # localCheckpoint, so monotonic deltas here are real work, not
        # lazy-plan bookkeeping. Keys: t_prep (driver-side band/cell
        # statistics collects), t_pairs (the ONE fused candidate-join +
        # CRJB-filter materialization), t_phase_a, t_b2. Earlier rounds
        # also ran a stats-only aggregation over the prefiltered join —
        # a full extra join pass that production never paid (713 s of
        # the 2908 s 10M wall); pair-volume stats now ride on
        # accumulators inside the one real pass instead.
        nonlocal _t0
        if stats is not None:
            now = _time.monotonic()
            stats[key] = round(now - _t0, 3)
            _t0 = now

    spark = events_df.sparkSession
    # Corners as a COLUMN on the event relation, never a driver loop: a
    # dict argument (legacy callers, bounded fixtures) is converted once
    # and joined on; otherwise the polygons come from events_df's own
    # `corners` column (array of [lat, lon] pairs, e.g.
    # square_corners_col) — at 100× catalog scale nothing serializes
    # through the driver.
    if corners_by_evid is None:
        if "corners" not in events_df.columns:
            raise KeyError(
                "decluster_distributed needs either a corners_by_evid dict "
                "or a `corners` column on events_df"
            )
        ev_src = events_df
    else:
        corners_df = spark.createDataFrame(
            [
                (e, [[float(la), float(lo)] for la, lo in cs])
                for e, cs in corners_by_evid.items()
            ],
            schema="evid string, corners array<array<double>>",
        )
        # Match the sequential path's behavior on partial polygon inputs:
        # the sequential wrapper raises KeyError on the first evid missing
        # from corners_by_evid, while the inner joins below would silently
        # drop such events as claimers. Validate up front so both
        # registered W5 paths fail identically.
        missing = [
            r.evid
            for r in events_df.select("evid")
            .join(F.broadcast(corners_df.select("evid")), "evid", "left_anti")
            .limit(20)
            .collect()
        ]
        if missing:
            raise KeyError(
                f"corners_by_evid missing rupture polygons for evids {sorted(missing)}"
            )
        ev_src = events_df.drop("corners").join(corners_df, "evid")

    _cutoff = float(crjb_cutoff_km)
    # Pair-volume + in-Python busy-time stats ride on ACCUMULATORS inside
    # the one real pair pass (stats mode only): exact on a clean run
    # (local mode does not re-attempt successful tasks). On any
    # deployment with task retries or speculative execution these
    # counters can DOUBLE-COUNT — treat them as approximate observability
    # there; pairs_eligible below stays an exact count either way.
    if stats is not None:
        _acc_rows = spark.sparkContext.accumulator(0)
        _acc_auto = spark.sparkContext.accumulator(0)
        _acc_busy = spark.sparkContext.accumulator(0.0)
        # busy is perf_counter WALL inside the batch body — on an
        # oversubscribed host (32 workers + the JVM on 32 vCPUs with
        # steal) it counts descheduled time as if it were compute, and
        # measured runs swing 2-4x with load. cpu is process_time (the
        # worker process's actual user+sys CPU): immune to descheduling,
        # so it is THE cross-session-comparable kernel-cost number;
        # busy - cpu is the contention tax.
        _acc_cpu = spark.sparkContext.accumulator(0.0)
    else:
        _acc_rows = _acc_auto = _acc_busy = _acc_cpu = None

    def _emit(batches):
        # The pair stream ships NO nested corner payload: each claimer's
        # polygon arrives ONCE, as a tagged row (j_prio null) sorted to
        # lead its claimer's pair rows within the partition, so the
        # (pairs-proportional) exchange, sort and Arrow transfer carry
        # only narrow scalar columns. The polygon dict persists across
        # the partition's Arrow batches (mapInPandas iterates one
        # partition in sortWithinPartitions order), bounded by distinct
        # claimers per partition. Pair rows are grouped by claimer prio
        # with one vectorized factorize + argsort (per-row Python object
        # churn on nested corners was the measured round-8 hot spot, and
        # shipping corners per pair row kept paying it in the Arrow
        # conversion); each group converts its polygon to the kernel's
        # tuple form once (memoized in the dict) and runs the
        # coarse-to-fine eligibility kernel. _auto pairs (the SQL
        # d + r_min bound already proved eligibility) skip the kernel.
        polys: dict = {}
        for pdf in batches:
            _tb = _time.perf_counter()
            _tc = _time.process_time()
            jp_all = pdf["j_prio"].to_numpy(dtype="float64", na_value=np.nan)
            poly_mask = np.isnan(jp_all)
            if poly_mask.any():
                for kpv, cs in zip(
                    pdf["k_prio"].to_numpy()[poly_mask],
                    pdf["corners"].to_numpy()[poly_mask],
                ):
                    if cs is not None:
                        polys[int(kpv)] = cs
            pr = np.flatnonzero(~poly_mask)
            if pr.size == 0:
                if _acc_busy is not None:
                    _acc_busy.add(_time.perf_counter() - _tb)
                    _acc_cpu.add(_time.process_time() - _tc)
                continue
            kp = pdf["k_prio"].to_numpy()[pr]
            lats = pdf["j_lat"].to_numpy(dtype=float)[pr]
            lons = pdf["j_lon"].to_numpy(dtype=float)[pr]
            # _auto is null only on polygon rows, all masked out by pr —
            # subset FIRST, then cast (fillna on the mixed column trips
            # pandas' object-downcasting deprecation on every batch)
            auto = pdf["_auto"].to_numpy()[pr].astype(bool)
            out = auto.copy()
            rest = np.flatnonzero(~auto)
            if rest.size:
                # ONE grouped kernel call per batch (bit-equal to the
                # per-claimer loop, see crjb_eligible_grouped): with ~10
                # pairs per claim group, per-group numpy dispatch was the
                # measured kernel cost at catalog scale, not the math.
                codes, uniq = pd.factorize(kp[rest])
                plist = []
                for kpv in uniq:
                    kid = int(kpv)
                    key = polys.get(kid)
                    if key is None:
                        raise RuntimeError(
                            "decluster pair stream: no polygon row preceded "
                            f"claimer prio={kid} (sort/union invariant broken)"
                        )
                    if not isinstance(key, tuple):
                        key = tuple(map(tuple, key))
                        polys[kid] = key
                    plist.append(key)
                out[rest] = crjb_eligible_grouped(
                    lats[rest], lons[rest], codes, plist, _cutoff
                )
            if _acc_busy is not None:
                _acc_rows.add(int(pr.size))
                _acc_auto.add(int(auto.sum()))
                _acc_busy.add(_time.perf_counter() - _tb)
                _acc_cpu.add(_time.process_time() - _tc)
            sel = np.flatnonzero(out)
            yield pd.DataFrame(
                {
                    "k_prio": kp[sel].astype("int32"),
                    "j_prio": jp_all[pr][sel].astype("int32"),
                    "k_mag": pdf["k_mag"].to_numpy(dtype=float)[pr][sel],
                    "j_mag": pdf["j_mag"].to_numpy(dtype=float)[pr][sel],
                }
            )

    from pyspark.sql import Window

    # Polygon centroid + circum/inner radius are MAP-SIDE array folds over
    # the corners column, computed once on the event relation — the old
    # separate `centers` relation rode a catalog-sized BROADCAST into the
    # claimer side, which a 1000-executor cluster would pay per executor.
    nc = F.size("corners").cast("double")
    clat_expr = (
        F.aggregate(
            F.transform("corners", lambda c: c[0]),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / nc
    )
    clon_expr = (
        F.aggregate(
            F.transform("corners", lambda c: c[1]),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / nc
    )
    hav_corner = lambda c: (  # noqa: E731
        2.0
        * EARTH_RADIUS_KM
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(c[0] - F.col("clat")) / 2), 2)
                + F.cos(F.radians("clat"))
                * F.cos(F.radians(c[0]))
                * F.pow(F.sin(F.radians(c[1] - F.col("clon")) / 2), 2)
            )
        )
    )
    # Priority = dense global rank by (mag desc, evid asc), computed as a
    # RANGE-PARTITIONED rank (round-12): a plain row_number window over a
    # total order runs on ONE partition, which means the whole event
    # dimension — polygons included — funnels through a single task's
    # sort; fine at 10M (~seconds, ~GBs), an OOM cliff at a 1B-event
    # catalog. Instead range-partition on the sort key (key is unique —
    # evid breaks mag ties — so no boundary key can straddle partitions
    # and offset + local rank IS the exact global rank), checkpoint, take
    # per-partition counts (a scalar-per-partition collect), and add the
    # broadcast running offset to each partition's local row_number. Every
    # pass is cluster-wide parallel; the only serial state is the ncores-
    # sized offset map on the driver. e is reused by k, j, the polygon
    # stream, the state fixpoint and the final assembly, so it is
    # checkpointed once.
    ncores = spark.sparkContext.defaultParallelism
    e = (
        ev_src.select(
            "evid",
            F.col("datetime").cast("double").alias("t"),
            "mag",
            "lat",
            "lon",
            "corners",
        )
        .withColumn("clat", clat_expr)
        .withColumn("clon", clon_expr)
        .withColumn("rad_km", F.array_max(F.transform("corners", hav_corner)))
        # min centroid→corner distance: the auto-accept bound's radius.
        # Corners are members of the resampled boundary point set, so
        # CRJB(p) ≤ d(p, centroid) + rmin_km by the spherical triangle
        # inequality — a pair with d + rmin ≤ cutoff is PROVABLY eligible
        # without running the exact kernel.
        .withColumn("rmin_km", F.array_min(F.transform("corners", hav_corner)))
        # Polygon AABB (map-side array folds): feeds the round-11
        # box-distance REJECT bound in the pair filter below — the
        # polygon (hence its resampled boundary, hence every kernel
        # distance target) lies inside this lat/lon box, so a provable
        # lower bound on distance-to-box is a lower bound on the
        # kernel's CRJB.
        .withColumn("blat_lo", F.array_min(F.transform("corners", lambda c: c[0])))
        .withColumn("blat_hi", F.array_max(F.transform("corners", lambda c: c[0])))
        .withColumn("blon_lo", F.array_min(F.transform("corners", lambda c: c[1])))
        .withColumn("blon_hi", F.array_max(F.transform("corners", lambda c: c[1])))
        # Axis-aligned-rectangle flag (round-11): true iff the polygon is
        # a simple 4-corner ring whose corners are exactly the AABB's
        # four corners and whose consecutive edges are each axis-aligned
        # (one coordinate equal, the other different — rules out bowtie
        # orderings and degenerate boxes). For such rings, a STRICTLY
        # interior point is inside by the kernel's ray cast bit-exactly:
        # horizontal edges never satisfy (y1 > lat) != (y2 > lat), and
        # vertical edges compute x_int = x1 + t·0 == x1 exactly in IEEE
        # arithmetic — so the per-pair 4-comparison interior test below
        # may auto-accept (CRJB = 0 inside) without running the kernel.
        # This is a PER-EVENT fold over 4 corners, not the measured
        # round-8 dead end (a per-PAIR higher-order fold, see note above
        # decluster_distributed): pair rows pay 4 scalar comparisons.
        .withColumn(
            "rect",
            (F.size("corners") == 4)
            & (F.size(F.array_distinct("corners")) == 4)
            & (F.col("blat_lo") < F.col("blat_hi"))
            & (F.col("blon_lo") < F.col("blon_hi"))
            & F.expr(
                "forall(corners, c -> (c[0] = blat_lo OR c[0] = blat_hi) "
                "AND (c[1] = blon_lo OR c[1] = blon_hi))"
            )
            & F.expr(
                "forall(sequence(0, 3), i -> "
                "(corners[i][0] = corners[(i + 1) % 4][0]) != "
                "(corners[i][1] = corners[(i + 1) % 4][1]))"
            ),
        )
        .repartitionByRange(ncores, F.col("mag").desc(), F.col("evid"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    sizes = {
        r._pid: r.n
        for r in e.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offs, running = [], 0
    for pid in sorted(sizes):
        offs.append((pid, running))
        running += sizes[pid]
    off_df = spark.createDataFrame(offs, schema="_pid int, _off long")
    e = (
        e.join(F.broadcast(off_df), "_pid")
        .withColumn(
            "prio",
            (
                F.col("_off")
                + F.row_number().over(
                    Window.partitionBy("_pid").orderBy(
                        F.col("mag").desc(), F.col("evid")
                    )
                )
            ).cast("int"),
        )
        .drop("_pid", "_off")
        .repartition(ncores)
        .localCheckpoint()
    )
    window_s = (
        F.when(
            F.col("k_mag") >= 6.5,
            F.pow(F.lit(10.0), 0.032 * F.col("k_mag") + 2.7389),
        ).otherwise(F.pow(F.lit(10.0), 0.5409 * F.col("k_mag") - 0.547))
        * 86400.0
    )
    # MAGNITUDE-BANDED time-bucketed ELIGIBILITY join: a raw (mag,
    # time-window) theta join is all-pairs at plan level. A single global
    # bucket width (the Gardner-Knopoff window of the catalog's LARGEST
    # event — years) makes the time key useless for the small-magnitude
    # majority, whose claim windows span days: on a multi-year catalog
    # every event lands in a handful of giant buckets and the join
    # degenerates toward all-co-located-pairs. Instead claimers key by
    # (magnitude band, bucket of the BAND's max window): a mag-3 claimer
    # with a 12-day window probes 12-day buckets, a mag-8 claimer
    # year-scale ones. Targets explode into every band at-or-above their
    # own (only larger-magnitude events can claim them — the claimer-side
    # magnitude asymmetry), each with that band's bucket id. The pair
    # join becomes an EQUI-join on (band, bucket) with the exact
    # mag/time/distance conditions as residual filters; candidate volume
    # scales with per-band co-windowed density, not catalog². Band
    # boundaries come from one scalar min/max-mag aggregate (an optimizer
    # statistic, not data through the driver); the band table is a
    # broadcast relation of ~a dozen rows.
    # ONE scalar statistics pass over the checkpointed event relation
    # feeds both the band table and the spatial cell sizing (these are
    # optimizer statistics, not data through the driver).
    mm = e.agg(
        F.min("mag").alias("lo"),
        F.max("mag").alias("hi"),
        F.min("t").alias("t0"),
        F.max("t").alias("t1"),
        F.max(F.abs(F.col("lat"))).alias("max_abs_lat"),
        F.max(F.abs(F.col("clat"))).alias("max_abs_clat"),
        F.max("rad_km").alias("max_rad"),
    ).collect()[0]
    band_w = 0.5
    t_span = (
        float(mm.t1) - float(mm.t0) if mm.t0 is not None else None
    )
    band_rows = _mag_bands(
        float(mm.lo) if mm.lo is not None else None,
        float(mm.hi) if mm.hi is not None else None,
        band_w,
        t_span,
        merge_factor=2.0,
    )
    # claimer map: raw band -> (merged band, bucket width); target side
    # joins the DISTINCT merged bands with the band's top raw id as the
    # join bound (a target is claimable by band tb iff some raw band
    # >= its own maps into tb).
    kmap_df = spark.createDataFrame(
        band_rows, schema="band int, tb int, band_wsec double"
    )
    tgt_rows: dict[int, tuple[float, int]] = {}
    for raw_b, tb, wsec in band_rows:
        w0, mx = tgt_rows.get(tb, (wsec, raw_b))
        tgt_rows[tb] = (wsec, max(mx, raw_b))
    tgt_df = spark.createDataFrame(
        [(tb, w, mx) for tb, (w, mx) in tgt_rows.items()],
        schema="tb int, band_wsec double, max_raw int",
    )
    # Claimers are identified by PRIO (a dense int from the priority
    # window) end-to-end — no evid strings ride the pair exchange. The
    # bucket explosion covers exactly the buckets the claimer's own
    # window [k_t, k_t + k_win] touches (k_win ≤ band_wsec by the band's
    # sup-window construction, so that is 1 or 2 distinct buckets —
    # array_distinct drops the second copy when the window does not
    # cross a bucket boundary, ~35% fewer claimer rows on a uniform
    # catalog, with identical coverage: floor(j_t / w) for any eligible
    # j lies in [floor(k_t / w), floor((k_t + k_win) / w)]).
    k = (
        e.select(
            F.col("prio").alias("k_prio"),
            F.col("t").alias("k_t"),
            F.col("mag").alias("k_mag"),
            F.col("clat").alias("k_clat"),
            F.col("clon").alias("k_clon"),
            F.col("rad_km").alias("k_rad_km"),
            F.col("rmin_km").alias("k_rmin_km"),
            F.col("blat_lo").alias("k_blat_lo"),
            F.col("blat_hi").alias("k_blat_hi"),
            F.col("blon_lo").alias("k_blon_lo"),
            F.col("blon_hi").alias("k_blon_hi"),
            F.col("rect").alias("k_rect"),
        )
        .withColumn("k_win", window_s)
        .withColumn("band", F.floor(F.col("k_mag") / band_w).cast("int"))
        .join(F.broadcast(kmap_df), "band")
        .withColumn(
            "kb",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor(F.col("k_t") / F.col("band_wsec")),
                        F.floor(
                            (F.col("k_t") + F.col("k_win")) / F.col("band_wsec")
                        ),
                    )
                )
            ),
        )
        .withColumnRenamed("tb", "k_tb")
        .drop("band_wsec", "band")
    )
    j = (
        e.select(
            F.col("prio").alias("j_prio"),
            F.col("t").alias("j_t"),
            F.col("mag").alias("j_mag"),
            F.col("lat").alias("j_lat"),
            F.col("lon").alias("j_lon"),
        )
        .join(
            F.broadcast(tgt_df),
            F.floor(F.col("j_mag") / band_w).cast("int") <= F.col("max_raw"),
        )
        .withColumn("jb", F.floor(F.col("j_t") / F.col("band_wsec")))
        .withColumnRenamed("tb", "j_tb")
        .drop("band_wsec", "max_raw")
    )
    # Bounding-circle prefilter: CRJB ≤ cutoff implies the centroid lies
    # within cutoff + circumradius of the polygon center, so a pure-SQL
    # haversine kills the bulk of time/mag-qualified pairs (at sf0.01,
    # ~285k → a few thousand) before the exact boundary-distance kernel
    # runs. Conservative bound only — never changes the surviving pair
    # set. Centroid + circum/inner radius were computed map-side on e.
    hav_bound = (
        2.0
        * EARTH_RADIUS_KM
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("j_lat") - F.col("k_clat")) / 2), 2)
                + F.cos(F.radians("k_clat"))
                * F.cos(F.radians("j_lat"))
                * F.pow(F.sin(F.radians(F.col("j_lon") - F.col("k_clon")) / 2), 2)
            )
        )
    )
    # SPATIAL grid-cell key alongside the time bucket (the 2-D analog of
    # gridded_radius_join): on temporally dense catalogs — a month of
    # events when the largest event's Gardner-Knopoff window spans years —
    # the time bucket degenerates to ONE bucket and the equi-join would be
    # all-pairs with residual filters (measured 30 min at 100k events).
    # The distance cutoff is where the real selectivity lives, so the
    # claimer explodes into its centroid cell plus the 8 neighbors and the
    # target keys by its own cell; any CRJB-eligible pair lands in
    # adjacent cells provided one cell spans >= cutoff + max circumradius
    # + margin km in both axes at the catalog's highest |lat| (lon
    # degrees shrink by cos(lat)). Cell reach uses GLOBAL max radius — a
    # scalar optimizer statistic like max_mag — so the guarantee is
    # uniform; comparisons now scale with co-cell density (measured 100k
    # events: 30 min -> ~2 min). Antimeridian-straddling catalogs need a
    # lon-wrapped cell id; the reference's NZ catalogs do not straddle.
    import math as _math

    reach_km = crjb_cutoff_km + float(mm.max_rad or 0.0) + 0.5
    max_abs_lat = max(
        float(mm.max_abs_lat or 0.0), float(mm.max_abs_clat or 0.0)
    )
    cos_lat = max(_math.cos(_math.radians(max_abs_lat)), 0.05)
    # km-per-degree derived from the SAME sphere the eligibility
    # haversine uses (pi*R/180 = 111.195 for R=6371.0088), so the cell
    # span is self-consistent with the filter's reach at ANY reach_km —
    # previously the lon term used WGS84-equatorial 111.32, making cells
    # ~0.11% narrower than the haversine's reach and relying on the
    # 0.5 km absolute margin to cover the shortfall (which stops working
    # past reach ~445 km). The 110.574 meridional floor is kept as extra
    # conservatism (it only ever widens the cell).
    km_per_deg = _math.pi * EARTH_RADIUS_KM / 180.0
    cell_deg = max(reach_km / 110.574, reach_km / (km_per_deg * cos_lat))

    nb = F.explode(
        F.array(
            *[
                F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
                for dy in (-1, 0, 1)
                for dx in (-1, 0, 1)
            ]
        )
    ).alias("nb")
    # claimer cells come from the polygon CENTROID (the bound's anchor),
    # computed map-side on e — no join precedes the cell explosion.
    cell = F.lit(cell_deg)
    k_cells = (
        k.select("*", nb)
        .select(
            "*",
            (F.floor(F.col("k_clat") / cell) + F.col("nb.dy")).alias("kcy"),
            (F.floor(F.col("k_clon") / cell) + F.col("nb.dx")).alias("kcx"),
        )
        .drop("nb")
    )
    # DISC-TOUCH cell pruning: of the 9 exploded cells, keep only those
    # the claimer's reach disc (radius cutoff + its own circumradius +
    # margin — the same bound the haversine prefilter applies to j) can
    # actually intersect. The per-cell minimum distance is lower-bounded
    # term-by-term — clamped |Δlat|, clamped |Δlon|, and the cell's
    # minimum cos(lat) (clamped at 0) — so every haversine 'a' to any
    # point of the cell dominates a_min and no reachable cell is ever
    # dropped; cells the disc provably cannot touch (~1/3 of the 9 at
    # this cell/reach ratio) never enter the exchange or the join.
    _dphi_min = F.greatest(
        F.lit(0.0),
        F.col("kcy") * cell - F.col("k_clat"),
        F.col("k_clat") - (F.col("kcy") + 1) * cell,
    )
    _dlam_min = F.greatest(
        F.lit(0.0),
        F.col("kcx") * cell - F.col("k_clon"),
        F.col("k_clon") - (F.col("kcx") + 1) * cell,
    )
    _min_cos_cell = F.greatest(
        F.lit(0.0),
        F.least(
            F.cos(F.radians(F.col("kcy") * cell)),
            F.cos(F.radians((F.col("kcy") + 1) * cell)),
        ),
    )
    _a_min = F.least(
        F.lit(1.0),
        F.pow(F.sin(F.radians(_dphi_min) / 2), 2)
        + F.cos(F.radians("k_clat"))
        * _min_cos_cell
        * F.pow(F.sin(F.radians(_dlam_min) / 2), 2),
    )
    k_cells = k_cells.filter(
        2.0 * EARTH_RADIUS_KM * F.asin(F.sqrt(_a_min))
        <= F.lit(crjb_cutoff_km) + F.col("k_rad_km") + F.lit(0.5)
    )
    j_cells = j.select(
        "*",
        F.floor(F.col("j_lat") / cell).alias("jcy"),
        F.floor(F.col("j_lon") / cell).alias("jcx"),
    )
    # Circular lon-offset fold for the AABB reject's lon term: p is the
    # target's offset past the box's low corner folded into [0, 360), w
    # the box's lon width folded the same way — p ≤ w iff the target
    # meridian crosses the box interval regardless of lon convention.
    _lon_p = F.pmod(F.col("j_lon") - F.col("k_blon_lo"), F.lit(360.0))
    _lon_w = F.pmod(F.col("k_blon_hi") - F.col("k_blon_lo"), F.lit(360.0))
    pairs_narrow = (
        k_cells.join(
            j_cells,
            (F.col("k_tb") == F.col("j_tb"))
            & (F.col("kb") == F.col("jb"))
            & (F.col("kcy") == F.col("jcy"))
            & (F.col("kcx") == F.col("jcx"))
            & (F.col("j_mag") <= F.col("k_mag"))
            & (F.col("j_t") >= F.col("k_t"))
            & (F.col("j_t") <= F.col("k_t") + F.col("k_win"))
            & (F.col("k_prio") != F.col("j_prio")),
        )
        .withColumn("_hav", hav_bound)
        .filter(
            F.col("_hav") <= F.lit(crjb_cutoff_km) + F.col("k_rad_km") + F.lit(0.5)
        )
        # AABB-distance REJECT (round-11): every kernel distance target
        # (the resampled boundary ⊆ polygon ⊆ its lat/lon AABB), so
        # d(j, AABB) lower-bounds the kernel CRJB, and PIP is false
        # whenever j is outside the AABB — a pair with
        # d(j, AABB) > cutoff is provably ineligible. Term-by-term lower
        # bound on the haversine 'a' against ANY box point q:
        # Δφ ≥ clamped lat offset (sin² monotone on [0°, 180°]);
        # cos φ_q ≥ the box lat range's MIN cos (interval min at an
        # endpoint, cos unimodal — tests: the cutoff-ring fence fails on
        # a max-cos mixup); the lon term folds the offset mod 360 FIRST
        # (p = (j − lo) mod 360, w = (hi − lo) mod 360): p ≤ w means the
        # target's meridian crosses the box (term 0), otherwise the
        # circular distance to the nearer endpoint, min(p − w, 360 − p),
        # lies in (0°, 180°] where sin²(Δλ/2) is monotone — so the bound
        # is the EXACT interval minimum for any lon convention,
        # antimeridian straddles included (a raw endpoint min would miss
        # the interior minimum when the offset interval crosses 360°).
        # This
        # kills the annulus mass the centroid-circumradius prefilter
        # keeps (everything between the box ⊕ cutoff rectangle and the
        # circumcircle ⊕ cutoff disc) before the pair exchange, the
        # partition sort, the Arrow transfer and the kernel. The 1e-6 km
        # margin keeps float-boundary pairs on the kernel path.
        .filter(
            2.0
            * EARTH_RADIUS_KM
            * F.asin(
                F.sqrt(
                    F.least(
                        F.lit(1.0),
                        F.pow(
                            F.sin(
                                F.radians(
                                    F.greatest(
                                        F.lit(0.0),
                                        F.col("k_blat_lo") - F.col("j_lat"),
                                        F.col("j_lat") - F.col("k_blat_hi"),
                                    )
                                )
                                / 2
                            ),
                            2,
                        )
                        + F.cos(F.radians("j_lat"))
                        * F.greatest(
                            F.lit(0.0),
                            F.least(
                                F.cos(F.radians("k_blat_lo")),
                                F.cos(F.radians("k_blat_hi")),
                            ),
                        )
                        * F.when(_lon_p <= _lon_w, F.lit(0.0)).otherwise(
                            F.pow(
                                F.sin(
                                    F.radians(
                                        F.least(
                                            _lon_p - _lon_w,
                                            F.lit(360.0) - _lon_p,
                                        )
                                    )
                                    / 2
                                ),
                                2,
                            )
                        ),
                    )
                )
            )
            <= F.lit(crjb_cutoff_km) + F.lit(1e-6)
        )
        # Auto-accept side of the two-sided bound: corners are members of
        # the resampled boundary point set, so CRJB ≤ d_centroid + r_min
        # by the spherical triangle inequality — d ≤ cutoff − r_min
        # PROVES eligibility without the exact kernel (the 1e-6 km margin
        # keeps a float-boundary pair on the exact-kernel path instead).
        # Free: reuses the single materialized haversine column and the
        # map-side array_min. On mag-scaled rupture polygons SMALLER than
        # the cutoff (real catalogs' small-event majority) this absorbs
        # the near-field pair mass; the synthetic 0.15°-square benchmark
        # (circumradius ~21 km > 10 km cutoff) never fires it, by
        # construction.
        .withColumn(
            "_auto",
            (
                F.col("_hav")
                <= F.lit(crjb_cutoff_km) - F.col("k_rmin_km") - F.lit(1e-6)
            )
            # Rectangle-interior accept (round-11): a strictly interior
            # point of an axis-aligned rectangle ring is inside by the
            # kernel's ray cast bit-exactly (see the `rect` column note
            # on e), and inside means CRJB = 0 ≤ cutoff — eligible with
            # no kernel call. On mag-scaled rupture squares LARGER than
            # the cutoff (where d + r_min can never fire) this absorbs
            # the dense near-field pair mass instead: 4 scalar
            # comparisons per pair, no per-pair corner fold.
            | (
                F.col("k_rect")
                & (F.col("j_lat") > F.col("k_blat_lo"))
                & (F.col("j_lat") < F.col("k_blat_hi"))
                & (F.col("j_lon") > F.col("k_blon_lo"))
                & (F.col("j_lon") < F.col("k_blon_hi"))
            ),
        )
        # NARROW pair rows: only what the eligibility kernel reads plus
        # what the fixpoint keeps — two int prios, two mags, the target
        # centroid, the auto flag. Everything join-internal (bucket/cell
        # keys, window, bounds, the wide haversine) dies here, BEFORE the
        # pairs-proportional exchange.
        .select(
            "k_prio", "j_prio", "k_mag", "j_mag", "j_lat", "j_lon", "_auto"
        )
    )
    # Polygon delivery WITHOUT a per-pair payload: each claimer's corners
    # enter the stream once, as a tagged row (j_prio null), and the
    # partition-local sort below (j_prio nulls-first) guarantees the
    # polygon row leads its claimer's pair rows.
    corners_t = e.schema["corners"].dataType
    poly_rows = e.select(
        F.col("prio").alias("k_prio"),
        F.lit(None).cast("int").alias("j_prio"),
        F.lit(None).cast("double").alias("k_mag"),
        F.lit(None).cast("double").alias("j_mag"),
        F.lit(None).cast("double").alias("j_lat"),
        F.lit(None).cast("double").alias("j_lon"),
        F.lit(None).cast("boolean").alias("_auto"),
        F.col("corners"),
    )
    stream = (
        pairs_narrow.withColumn("corners", F.lit(None).cast(corners_t))
        .unionByName(poly_rows)
        # Hash-partition by claimer BEFORE the kernel: (a) parallelism —
        # the join output otherwise inherits its left side's width; (b)
        # polygon locality. Then SORT within each partition by (claimer,
        # j_prio nulls-first): shuffle arrival order would interleave a
        # claimer's rows across every Arrow batch of its partition, so
        # without the sort each batch re-converts and re-resamples the
        # same polygons (at 10M events a partition holds ~60k distinct
        # claimers — far past the boundary cache); sorted, each claimer
        # is contiguous, its polygon row arrives first, and its polygon
        # work is paid once regardless of catalog scale. Skew is bounded
        # by the hottest single claimer's pair count.
        .repartition(4 * ncores, F.col("k_prio"))
        .sortWithinPartitions("k_prio", "j_prio")
    )
    _mark("t_prep")
    pairs = stream.mapInPandas(
        _emit, schema="k_prio int, j_prio int, k_mag double, j_mag double"
    ).localCheckpoint()
    n_pairs = pairs.count()  # cheap: pairs is checkpointed and narrow
    if stats is not None:
        stats["pairs_eligible"] = n_pairs
        # pair-volume accounting (verdict r4 ask #1), from the in-pass
        # accumulators: candidate pairs that survived the equi-join +
        # haversine prefilter (= rows the eligibility kernel scored), how
        # many the d + r_min ≤ cutoff bound auto-accepted kernel-free,
        # and the total in-Python busy time (core-seconds summed across
        # workers — divide by parallelism for the wall-equivalent share
        # of t_pairs that is Python-side work rather than join/exchange).
        # Exact on a clean run; approximate under task retries (above).
        stats["pairs_prefilter"] = _acc_rows.value
        stats["pairs_auto_accepted"] = _acc_auto.value
        stats["crjb_udf_core_s"] = round(_acc_busy.value, 3)
        stats["crjb_udf_cpu_s"] = round(_acc_cpu.value, 3)
    _mark("t_pairs")

    # --- Phase A: mainshock-at-turn fixpoint over earlier-priority edges,
    # as a DELTA (message-passing) iteration (round-12). The synchronous
    # form re-joined every live edge against the full state each round and
    # re-checkpointed a pruned edge set (two semi-joins + a 184M-row
    # checkpoint per early round at the 10M catalog — the measured
    # co-dominant post-kernel cost). But an edge (k → j) only ever matters
    # in the single round after its claimer k becomes decided: k true →
    # j is claimed; k false → j has one fewer undecided claimer. So the
    # state keeps, per target, the COUNT of edges from still-undecided
    # claimers, and each round joins only the edges of the claimers
    # decided in the previous round (the delta). Every edge is processed
    # exactly once across the whole fixpoint — total join volume
    # O(|edges|), not O(rounds × live edges) — and the edge set is
    # hash-partitioned by claimer and checkpointed once up front, with the
    # delta side moving to it (broadcast while provably small,
    # shuffled-hash build otherwise). Join OUTPUT is per-edge-once, but
    # the probe side of each round's hash join still SCANS the whole
    # checkpoint, so tail rounds of a big catalog pay O(|E|) scan for
    # O(delta) output — the edge-set compaction below (halving-rule
    # semi-join filter, see _COMPACT_BROADCAST_MAX) bounds the total scan
    # volume too. Decisions are
    # round-for-round identical to the synchronous form: a target is
    # claimed (false) in the round after its FIRST true claimer decides,
    # becomes a mainshock (true) in the round after its LAST claimer
    # decides false, and false takes precedence inside a round — exactly
    # the has_m-before-has_u precedence of the old update (parity pinned
    # by the randomized sequential-equality tests).
    ep0 = (
        pairs.filter(F.col("k_prio") < F.col("j_prio"))
        .select("k_prio", "j_prio")
        .repartition(ncores, F.col("k_prio"))
        .localCheckpoint()
    )
    # Per-target edge count: all claimers start undecided, so this is the
    # initial undecided-claimer count, and the round-1 decision set is
    # exactly the zero-count events (the local maxima) — matching the
    # synchronous round 1, where the all-null state made every edge
    # contribute has_u = 1.
    deg = ep0.groupBy("j_prio").agg(F.count(F.lit(1)).alias("cnt"))
    state = (
        e.select("prio")
        .join(deg, F.col("prio") == F.col("j_prio"), "left")
        .select(
            "prio",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            F.lit(None).cast("boolean").alias("m"),
            F.lit(False).alias("is_new"),
        )
    )
    und = running  # catalog size, from the rank pass's partition counts
    rounds_a = 0
    n_new = 0
    ep_live = ep0  # compacted copy for the round joins; B1 keeps ep0
    compact_basis = running  # keep-set size at the last compaction
    for _ in range(max_rounds):
        if stats is not None:
            stats.setdefault("round_undecided", []).append(int(und))
        if und == 0:
            break
        rounds_a += 1
        if rounds_a == 1:
            first_m = F.when(F.col("cnt") == 0, F.lit(True))
            state = state.select(
                "prio",
                "cnt",
                first_m.alias("m"),
                first_m.isNotNull().alias("is_new"),
            ).localCheckpoint()
        else:
            if n_new == 0:
                raise RuntimeError(
                    "decluster fixpoint stalled: no new decisions with "
                    f"{und} events undecided"
                )
            delta_k = state.filter(F.col("is_new")).select(
                F.col("prio").alias("k_prio"), F.col("m").alias("k_m")
            )
            if n_new <= _DELTA_BROADCAST_MAX:
                delta_k = F.broadcast(delta_k)
            else:
                delta_k = delta_k.hint("shuffle_hash")
            msgs = (
                ep_live.join(delta_k, "k_prio")
                .groupBy("j_prio")
                .agg(
                    F.max(F.when(F.col("k_m"), 1).otherwise(0)).alias("has_m"),
                    F.count(F.lit(1)).alias("dec"),
                )
            )
            new_cnt = F.col("cnt") - F.coalesce(F.col("dec"), F.lit(0))
            new_m = (
                F.when(F.col("m").isNotNull(), F.col("m"))
                .when(F.coalesce(F.col("has_m"), F.lit(0)) == 1, F.lit(False))
                .when(new_cnt == 0, F.lit(True))
            )
            state = (
                state.join(msgs, F.col("prio") == F.col("j_prio"), "left")
                .select(
                    "prio",
                    F.when(F.col("m").isNotNull(), F.col("cnt"))
                    .otherwise(new_cnt)
                    .alias("cnt"),
                    new_m.alias("m"),
                    (F.col("m").isNull() & new_m.isNotNull()).alias("is_new"),
                )
                .localCheckpoint()
            )
        n_new = state.filter(F.col("is_new")).count()
        if stats is not None:
            stats.setdefault("round_delta", []).append(int(n_new))
        und -= n_new
        # Edge-set compaction (see _COMPACT_BROADCAST_MAX): keep only the
        # edges that can still carry a message — claimer undecided or
        # decided THIS round (those fire next round; claimers decided in
        # earlier rounds already fired, per-edge-once), target undecided
        # (the state update keeps m and cnt untouched once m is set, so a
        # message at a decided target is a no-op by construction). Both
        # keep sets come from the checkpointed state and broadcast, so the
        # compaction is one map-side filter pass + re-checkpoint of the
        # survivors, preserving the k_prio hash partitioning.
        keep_n = und + n_new
        if 0 < und and keep_n <= _COMPACT_BROADCAST_MAX and 2 * keep_n <= compact_basis:
            keep_k = state.filter(F.col("m").isNull() | F.col("is_new")).select(
                F.col("prio").alias("k_prio")
            )
            keep_j = state.filter(F.col("m").isNull()).select(
                F.col("prio").alias("j_prio")
            )
            ep_live = (
                ep_live.join(F.broadcast(keep_k), "k_prio", "semi")
                .join(F.broadcast(keep_j), "j_prio", "semi")
                .localCheckpoint()
            )
            compact_basis = keep_n
            if stats is not None:
                stats.setdefault("edge_compactions", []).append(
                    {"round": rounds_a, "live_edges": int(ep_live.count())}
                )
    else:
        # The in-loop check runs before each update, so a run that converges
        # exactly on round max_rounds' update lands here with a complete
        # state — re-check before declaring failure.
        if und != 0:
            raise RuntimeError(
                f"decluster fixpoint did not converge in {max_rounds} rounds"
            )

    if stats is not None:
        # observability for scale tests: rounds actually used = the
        # longest claim-chain depth the catalog exhibited
        stats["rounds_a"] = rounds_a
    _mark("t_phase_a")

    # --- Phase B1: early claims — min-priority eligible mainshock claims.
    m_true = state.filter(F.col("m")).select(F.col("prio").alias("k_prio"))
    early = (
        ep0.join(m_true, "k_prio")
        .groupBy("j_prio")
        .agg(F.min("k_prio").alias("claimer_prio"))
    )

    # --- Phase B2: equal-mag late claims (a mainshock that claimed nothing
    # can be claimed by an equal-magnitude LATER-priority mainshock — the
    # reference's ``cluster[j] != cluster[i]`` guard, aftershocks.py:222-308).
    # The candidate set is both-mainshock, equal-magnitude, in-window,
    # in-CRJB pairs — a degenerate sliver of the catalog — and its claims
    # interleave with early claims in strict priority order: taking pairs
    # by claimer priority (= processing order), a claimer takes a target
    # unless the target already claimed something (immune) or was taken
    # by an earlier claimer. Every late claimer is genuinely
    # mainshock-at-turn (an earlier-priority claim would have flipped it in
    # Phase A), so no further conditions apply.
    prio_evid = e.select("prio", F.col("evid").alias("p_evid"))
    late_df = (
        pairs.filter(
            (F.col("k_prio") > F.col("j_prio")) & (F.col("k_mag") == F.col("j_mag"))
        )
        .join(m_true, "k_prio")
        .join(
            state.filter(F.col("m")).select(F.col("prio").alias("j_prio")),
            "j_prio",
        )
        .select("k_prio", "j_prio")
        .localCheckpoint()
    )
    # The B2 claims interleave with each other in strict claimer-priority
    # order, which looks sequential but is a dependency-ordered greedy
    # matching: pair (k, j) can be decided once (a) every pending pair
    # with an EARLIER claimer on the same target j is decided and (b) all
    # of j's own claiming pairs are decided (claimer prios of j's pairs
    # are < k by the k_prio > j_prio filter, so they strictly precede).
    # A decidable pair succeeds iff the target is not immune: j claimed
    # nothing (neither an early B1 claim nor a successful late claim) and
    # no earlier late claim took j. Each round decides every pair whose
    # dependencies are settled — rounds = longest claim-chain depth, and
    # NO pair data ever moves through the driver.
    early_claimers = early.select(F.col("claimer_prio").alias("prio")).distinct()
    pend = late_df
    succ = spark.createDataFrame([], schema="k_prio int, j_prio int")
    for _ in range(max_rounds):
        if pend.count() == 0:
            break
        if stats is not None:
            stats["rounds_b2"] = stats.get("rounds_b2", 0) + 1
        earlier_same_target = pend.select(
            F.col("k_prio").alias("e_k"), F.col("j_prio").alias("e_j")
        )
        target_as_claimer = pend.select(F.col("k_prio").alias("t_k")).distinct()
        ready = pend.join(
            earlier_same_target,
            (F.col("e_j") == F.col("j_prio")) & (F.col("e_k") < F.col("k_prio")),
            "left_anti",
        ).join(
            target_as_claimer, F.col("t_k") == F.col("j_prio"), "left_anti"
        )
        # immunity from ALREADY-DECIDED state only (readiness guarantees
        # everything relevant is decided): targets that claimed, or were
        # taken by an earlier (decided) late claim
        claimed_something = early_claimers.unionByName(
            succ.select(F.col("k_prio").alias("prio"))
        ).distinct()
        taken = succ.select("j_prio").distinct()
        ready_succ = ready.join(
            claimed_something, F.col("prio") == F.col("j_prio"), "left_anti"
        ).join(taken, "j_prio", "left_anti")
        succ = succ.unionByName(
            ready_succ.select(
                F.col("k_prio").cast("int"), F.col("j_prio").cast("int")
            )
        ).localCheckpoint()
        pend = pend.join(ready, ["k_prio", "j_prio"], "left_anti").localCheckpoint()
    else:
        if pend.count() != 0:
            raise RuntimeError(
                f"decluster B2 fixpoint did not converge in {max_rounds} "
                "rounds — claim-chain depth exceeds the bound"
            )
    _mark("t_b2")
    claims = early.unionByName(
        succ.select("j_prio", F.col("k_prio").alias("claimer_prio"))
    )
    has_claims = early_claimers.unionByName(
        succ.select(F.col("k_prio").alias("prio"))
    ).distinct()

    # --- Assemble output: aftershock flag + canonical cluster label.
    claimer_evid = prio_evid.select(
        F.col("prio").alias("claimer_prio"), F.col("p_evid").alias("cluster_evid")
    )
    claimed = claims.join(claimer_evid, "claimer_prio").select(
        F.col("j_prio").alias("prio"),
        F.lit(1).alias("aftershock_flag"),
        "cluster_evid",
    )
    claiming_main = has_claims.join(
        prio_evid, "prio"
    ).select("prio", F.lit(0).alias("aftershock_flag"), F.col("p_evid").alias("cluster_evid"))
    flags = claimed.unionByName(
        claiming_main.join(claims.select(F.col("j_prio").alias("prio")), "prio", "left_anti")
    )
    return (
        e.join(flags, "prio", "left")
        .withColumn("aftershock_flag", F.coalesce("aftershock_flag", F.lit(0)))
        .select("evid", "mag", "aftershock_flag", "cluster_evid")
    )
