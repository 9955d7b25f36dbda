"""Conley (1999) spatial HAC "meat" — distributed via grid-cell bucketing.

fixest's ``vcov_conley`` computes M = Σᵢ Σⱼ K(dᵢⱼ) sᵢ sⱼ' over all
observation pairs within ``cutoff`` of each other (sᵢ = uᵢ·xᵢ the score
row, K a uniform or Bartlett kernel in the distance). A literal all-pairs
formulation is O(n²) — unusable at scale. This module computes the SAME
double sum exactly with a cell-bucketed score self-join:

1. ONE projection builds the score ingredients (literal-β residual +
   regressor columns + coordinates); the pair product
   K(d)·eᵢeⱼ·xᵢ[a]·xⱼ[b] depends on rows only through their coordinates,
   so the projection is PRE-AGGREGATED to one row per distinct coordinate
   carrying the score sums s_c[a] = Σ e·x[a] (r10, guide §2.3/§8 —
   aggregate before the pairwise shuffle; exact factorization, see
   :func:`_coord_compress`). Each coordinate row is assigned to a grid
   cell whose side length GUARANTEES every within-cutoff pair lands in
   adjacent cells (for haversine: lat band = cutoff/_KM_PER_DEG ~
   cutoff/111.195 deg, lon band sized by the corpus's worst-case
   cos(lat), probed in one tiny aggregate).
2. The left side EXPLODES each coordinate row to the forward half of its
   3x3 neighbor-cell keys (a 5x multiplier on the compressed score rows —
   never on the raw data); the right side keeps its own cell key. The
   equi-join on the cell key followed by the exact distance predicate
   enumerates every within-cutoff coordinate pair — including (c,c),
   which absorbs all same-coordinate row pairs and the i=i self-pairs —
   so the double sum needs no post-correction.
3. ONE aggregation sums K(d)·s_l[a]·s_r[b] for a ≤ b (cross-cell pairs
   symmetrized in the aggregation, see :func:`_group_aggs`).

Shuffle: 6x the compressed score-row bytes (5 exploded + 1 plain),
independent of the raw table width AND of per-coordinate multiplicity.
Per-cell work is (distinct coordinates)² — the irreducible cost of
pairwise spatial covariance; a one-row occupancy probe rides the join
input and raises with a clear message when a single cell would exceed
``max_cell_rows`` coordinates OR when the total candidate-pair estimate
(9 · Σ occupancy² across cells, conservative vs the 5x forward half)
would exceed ``max_pair_estimate`` (pick a larger cutoff grid or
pre-aggregate to a coarser spatial unit).

Longitude wraparound at ±180° is NOT stitched (pairs straddling the
antimeridian are treated as far apart) — documented limitation, matching
a plain lat/lon grid; project coordinates for polar/antimeridian data
and use ``distance="euclidean"``.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from .exprs import Cast, Var, to_spark
from .frames import Frame
from .meat import _d, _resid_expr

# mean earth radius (km) and km per degree of latitude
_R_EARTH_KM = 6371.0088
_KM_PER_DEG = np.pi * _R_EARTH_KM / 180.0  # ~111.195


def _haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance (km) as a Spark column expression."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rl1) * F.cos(rl2) * F.sin(
        dlon
    ) * F.sin(dlon)
    # guard fp overshoot: a in [0, 1]
    a = F.least(F.greatest(a, F.lit(0.0)), F.lit(1.0))
    return 2.0 * _R_EARTH_KM * F.asin(F.sqrt(a))


def conley_meat_plan(
    frame: Frame,
    betahat: np.ndarray,
    x_names: list[str],
    intercept: bool,
    lat_col: str,
    lon_col: str,
    cutoff: float,
    kernel: str = "uniform",
    distance: str = "haversine",
    weight_col: str | None = None,
    max_cell_rows: int = 150_000,
    cache: bool = False,
    max_pair_estimate: float = 2e10,
):
    """Lazy Conley meat aggregation: (agg_df, p, cached-or-None). See
    :func:`conley_meat`; ``cache=True`` persists the slim score projection
    so the probes and both join sides read ONE upstream scan (the caller
    unpersists after collecting)."""
    r = _resid_expr(frame.y_col, betahat, x_names, intercept)
    if weight_col is not None:
        r = _d(Var(weight_col)) * r  # WLS score s = w·u·x
    s_names = list(dict.fromkeys(x_names))
    proj = frame.df.select(
        to_spark(Cast(r, "double")).alias("__e"),
        *[F.col(n) for n in s_names],
        F.col(lat_col).cast("double").alias("__lat"),
        F.col(lon_col).cast("double").alias("__lon"),
    )
    return conley_pair_agg(
        proj, s_names, intercept, cutoff, kernel, distance, max_cell_rows,
        cache=cache, max_pair_estimate=max_pair_estimate,
    )


def _validate_conley_opts(cutoff, kernel, distance):
    if cutoff <= 0:
        raise ValueError("conley cutoff must be > 0")
    if kernel not in ("uniform", "bartlett"):
        raise ValueError("conley kernel must be 'uniform' or 'bartlett'")
    if distance not in ("haversine", "euclidean"):
        raise ValueError("conley distance must be 'haversine' or 'euclidean'")


def _coord_compress(proj, groups, group_col: str | None = None):
    """Pre-aggregate score rows by EXACT coordinate (guide §2.3/§8 —
    aggregate before the pairwise shuffle; r10). The pair contribution
    K(d)·eᵢ·eⱼ·xᵢ[a]·xⱼ[b] depends on (i, j) only through their
    coordinates, so the double sum factorizes over same-coordinate rows:
    with s_c[a] = Σ_{i at c} eᵢ·xᵢ[a], the meat equals
    Σ_{c₁,c₂ : d(c₁,c₂) ≤ cutoff} K(d)·s_{c₁}[a]·s_{c₂}[b] — including
    c₁ = c₂, which absorbs every same-coordinate pair AND the i = j
    self-pairs exactly. The pair join then enumerates DISTINCT
    coordinates, not rows: on gridded/county-style data with m rows per
    location the candidate volume drops by m² (the sf0.1 bench point has
    ~17 rows/coordinate ⇒ ~289× fewer join rows); with all-unique
    coordinates it degenerates to the row-level join at the cost of one
    map-side-combinable groupBy of the slim score rows.

    ``groups``: (e_col, score_cols, intercept) per model. Returns
    (compressed_df, per-group aggregated score column names). The
    compressed frame carries ``__cnt`` (source rows per coordinate) so
    the guard probes keep reporting ROW counts for NULL coordinates."""
    keys = ["__lat", "__lon"] + ([group_col] if group_col else [])
    aggs = [F.count(F.lit(1)).cast("long").alias("__cnt")]
    out_cols_per_group: list[list[str]] = []
    for gi, (e_col, score_cols, icpt) in enumerate(groups):
        s_names = list(dict.fromkeys(score_cols))
        p = (1 if icpt else 0) + len(s_names)
        out_cols = []
        for a in range(p):
            e = F.col(e_col).cast("double")
            if icpt and a == 0:
                prod = e
            else:
                nm = s_names[a - (1 if icpt else 0)]
                prod = e * F.col(nm).cast("double")
            alias = f"__s{gi}_{a}"
            aggs.append(F.sum(prod).alias(alias))
            out_cols.append(alias)
        out_cols_per_group.append(out_cols)
    return proj.groupBy(*keys).agg(*aggs), out_cols_per_group


def _enumerate_pairs(
    proj,
    cutoff: float,
    kernel: str,
    distance: str,
    max_cell_rows: int,
    max_pair_estimate: float,
    group_col: str | None = None,
):
    """Grid-cell bucketed within-cutoff pair enumeration over a
    coordinate-compressed score projection (one row per distinct
    coordinate [+ group], carrying ``__cnt`` source rows):
    (pairs_df aliased l/r, kernel_column). ``group_col`` restricts pairs
    to rows sharing the group value (split levels: the group joins the
    cell key, so each level's pairwise pass shares the ONE exploded join;
    NULL groups match NULL via null-safe equality) and the occupancy
    guard counts per (cell, group) — only same-group pairs are ever
    evaluated. ``max_cell_rows`` caps DISTINCT COORDINATES per cell — the
    unit the pair join is quadratic in after compression."""
    if distance == "haversine":
        # lon degrees shrink by cos(lat): size the lon band by the corpus's
        # worst case so |dlon_deg| <= band for every within-cutoff pair.
        # One tiny aggregate (min/max/null-count probe rides here too).
        ext = proj.agg(
            F.min("__lat"), F.max("__lat"),
            F.sum(
                F.when(
                    F.col("__lat").isNull() | F.col("__lon").isNull(),
                    F.col("__cnt"),
                ).otherwise(F.lit(0))
            ),
            F.count(F.lit(1)),
        ).collect()[0]
        lat_min, lat_max, n_null, _n = ext
        if n_null:
            raise ValueError(
                f"conley vcov: {n_null} rows have NULL coordinates; "
                "coordinates must be complete (drop or impute them first)"
            )
        if lat_min is None:
            raise ValueError("conley vcov: no rows with coordinates")
        if not (-90.0 <= lat_min <= 90.0 and -90.0 <= lat_max <= 90.0):
            raise ValueError(
                "conley distance='haversine' needs latitude in [-90, 90]; "
                "use distance='euclidean' for projected coordinates"
            )
        abs_lat = max(abs(lat_min), abs(lat_max))
        # |lat| + the cutoff's own latitude span bounds any PAIRED point
        reach = min(abs_lat + cutoff / _KM_PER_DEG, 89.9)
        cos_min = np.cos(np.radians(reach))
        if cos_min < 0.02:
            raise ValueError(
                "conley vcov: data reaches within ~0.1 deg of a pole, where "
                "a lat/lon grid degenerates; project coordinates and use "
                "distance='euclidean'"
            )
        dlat = cutoff / _KM_PER_DEG
        dlon = cutoff / (_KM_PER_DEG * cos_min)
        cell_x = F.floor(F.col("__lon") / F.lit(float(dlon)))
        cell_y = F.floor(F.col("__lat") / F.lit(float(dlat)))
        dist = _haversine_km(
            F.col("l.__lat"), F.col("l.__lon"),
            F.col("r.__lat"), F.col("r.__lon"),
        )
    else:
        # euclidean needs no extents probe; the NULL check rides the
        # occupancy pass below (a NULL coordinate floors to a NULL cell)
        cell_x = F.floor(F.col("__lon") / F.lit(float(cutoff)))
        cell_y = F.floor(F.col("__lat") / F.lit(float(cutoff)))
        dx = F.col("l.__lon") - F.col("r.__lon")
        dy = F.col("l.__lat") - F.col("r.__lat")
        dist = F.sqrt(dx * dx + dy * dy)

    cells = proj.withColumn("__cx", cell_x).withColumn("__cy", cell_y)

    # occupancy guard + NULL-coordinate check in ONE grouped pass: a NULL
    # lat/lon lands in the (NULL, NULL) cell, so its row count falls out of
    # the same aggregation (sort-free max for the cap). With a group column
    # the density that matters is per (cell, group) — cross-group pairs are
    # never evaluated.
    occ_keys = ["__cx", "__cy"] + ([group_col] if group_col else [])
    occ_row = (
        cells.groupBy(*occ_keys)
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.sum("__cnt").alias("__rows"),
        )
        .agg(
            F.max("count").alias("__occ"),
            F.sum(F.col("count").cast("double") * F.col("count")).alias(
                "__pairs2"
            ),
            F.sum(
                F.when(
                    F.col("__cx").isNull() | F.col("__cy").isNull(),
                    F.col("__rows"),
                ).otherwise(F.lit(0))
            ).alias("__nulls"),
        )
        .collect()[0]
    )
    if occ_row["__nulls"]:
        raise ValueError(
            f"conley vcov: {occ_row['__nulls']} rows have NULL coordinates; "
            "coordinates must be complete (drop or impute them first)"
        )
    occ = occ_row["__occ"]
    if occ is not None and occ > max_cell_rows:
        raise ValueError(
            f"conley vcov: a single {cutoff}-unit grid cell holds {occ:,} "
            f"distinct coordinate rows (> max_cell_rows={max_cell_rows:,}); "
            "the pairwise pass would be quadratic there. Reduce the cutoff, "
            "pre-aggregate to a coarser spatial unit, or raise "
            "max_cell_rows deliberately."
        )
    # total-work guard: the join evaluates ~9 * sum occupancy^2 candidate
    # pairs (each row meets its 3x3 neighborhood). A distribution of many
    # mid-sized cells can be intractable even when no single cell trips
    # max_cell_rows — cap on the estimate, not just the max.
    est_pairs = 9.0 * float(occ_row["__pairs2"] or 0.0)
    if est_pairs > max_pair_estimate:
        raise ValueError(
            f"conley vcov: the grid would evaluate ~{est_pairs:.2e} "
            f"candidate pairs (> max_pair_estimate={max_pair_estimate:.0e})."
            " Reduce the cutoff, pre-aggregate to a coarser spatial unit, "
            "or raise max_pair_estimate deliberately."
        )

    # left side: explode to the FORWARD half of the 3x3 neighborhood
    # (r9 optimization, guide §2.3 — do less work per shuffle): the meat
    # Σᵢⱼ K·sᵢsⱼ' is symmetric, so each unordered cross-cell pair needs
    # evaluating once. The forward offset set {(1,0),(−1,1),(0,1),(1,1)}
    # and its negation partition the 8 neighbors, so a cross-cell pair
    # (cellA, cellB) joins exactly once — from the side whose cell
    # difference is forward — and its contribution is SYMMETRIZED in the
    # aggregation (x_l[a]x_r[b] + x_r[a]x_l[b], see _group_aggs). The
    # (0,0) offset keeps the old both-orders semantics (plus the i=i
    # self-pair) because within-cell rows have no cheap orientation key;
    # the ``__xcell`` flag tells the aggregation which rule applies.
    # Candidate volume drops from ~9·Σocc² to ~5·Σocc² (the est_pairs
    # guard above keeps the conservative 9× estimate).
    # right side: own cell.
    # The join MUST be a cell-keyed shuffle join, never a broadcast: Spark's
    # size estimate under-counts the 9x-exploded side (observed: a 5.4M-row
    # broadcast build inheriting the scan's 3 partitions — the whole
    # pairwise pass ran on 3 cores, 101 s at sf0.1 vs ~4 s shuffled), and at
    # scale broadcasting the exploded corpus is impossible outright. The
    # shuffle co-partitions both sides on the cell key, spreading the
    # density^2 pair work across shuffle partitions (AQE skew-join splits
    # any hot cell's partition further). The hint sits on the RIGHT (1x)
    # side so the per-partition hash table builds over the un-exploded
    # rows — hinting the 9x side would build a 9x-larger map for the same
    # join and risk build-side OOM exactly in the hot-cell case.
    fwd = F.array(
        *[
            F.struct(F.lit(ox).alias("ox"), F.lit(oy).alias("oy"))
            for ox, oy in ((0, 0), (1, 0), (-1, 1), (0, 1), (1, 1))
        ]
    )
    left = (
        cells.withColumn("__o", F.explode(fwd))
        .withColumn("__jx", F.col("__cx") + F.col("__o.ox"))
        .withColumn("__jy", F.col("__cy") + F.col("__o.oy"))
        .withColumn(
            "__xcell",
            (F.col("__o.ox") != 0) | (F.col("__o.oy") != 0),
        )
        .drop("__o", "__cx", "__cy")
        .alias("l")
    )
    right = (
        cells.withColumnRenamed("__cx", "__jx")
        .withColumnRenamed("__cy", "__jy")
        .hint("shuffle_hash")
        .alias("r")
    )

    cond = (F.col("l.__jx") == F.col("r.__jx")) & (
        F.col("l.__jy") == F.col("r.__jy")
    )
    if group_col:
        # null-safe: a NULL split level is a real level and pairs with itself
        cond = cond & F.col(f"l.{group_col}").eqNullSafe(
            F.col(f"r.{group_col}")
        )
    pairs = left.join(right, on=cond).where(dist <= F.lit(float(cutoff)))
    if kernel == "bartlett":
        k = 1.0 - dist / F.lit(float(cutoff))
    else:
        k = F.lit(1.0)
    return pairs, k


def _group_aggs(k, s_cols, prefix):
    """Upper-triangular sum(K * s_l[a] * s_r[b]) aggregate columns for one
    score group over COORDINATE-COMPRESSED pairs (``s_cols`` are the
    per-coordinate score sums from :func:`_coord_compress`; the e·x
    factors are already folded into them).

    Pairs arrive half-enumerated (see the forward-offset comment in
    :func:`_enumerate_pairs`): cross-cell rows (``__xcell``) represent an
    unordered pair once and contribute the SYMMETRIZED product
    s_l[a]s_r[b] + s_r[a]s_l[b]; same-cell rows still carry both orders
    (and the c = c self-pair, which absorbs all same-coordinate row
    pairs), so they contribute the single product exactly as before. The
    resulting a≤b cells hold the same symmetric totals as the full
    row-level 9-neighborhood enumeration."""
    p = len(s_cols)
    aggs = []
    for a in range(p):
        for b in range(a, p):
            sym = F.col(f"l.{s_cols[a]}") * F.col(f"r.{s_cols[b]}") + F.when(
                F.col("l.__xcell"),
                F.col(f"r.{s_cols[a]}") * F.col(f"l.{s_cols[b]}"),
            ).otherwise(F.lit(0.0))
            aggs.append(F.sum(k * sym).alias(f"{prefix}_{a}_{b}"))
    return aggs, p


def conley_pair_agg(
    proj,
    score_cols: list[str],
    intercept: bool,
    cutoff: float,
    kernel: str = "uniform",
    distance: str = "haversine",
    max_cell_rows: int = 150_000,
    cache: bool = False,
    max_pair_estimate: float = 2e10,
):
    """Generic pair-enumeration meat over a prebuilt score projection
    (columns: ``__e`` + ``score_cols`` + ``__lat``/``__lon``). Shared by
    the OLS path (residual scores), the GLM path (family scores) and 2SLS
    (Z scores) — returns (lazy agg_df, p, cached-projection-or-None).

    ``cache=True`` persists the coordinate-compressed score table (one row
    per distinct coordinate — far smaller than the raw projection) so the
    extent/occupancy probes AND both join sides replay cached rows instead
    of re-deriving the residual from the raw table per action (3-4
    upstream scans -> 1); collecting callers unpersist it after the
    aggregation."""
    _validate_conley_opts(cutoff, kernel, distance)
    s_names = list(dict.fromkeys(score_cols))
    comp, (s_cols,) = _coord_compress(proj, [("__e", s_names, intercept)])
    cached = None
    if cache:
        comp = comp.cache()
        cached = comp
    pairs, k = _enumerate_pairs(
        comp, cutoff, kernel, distance, max_cell_rows, max_pair_estimate
    )
    aggs, p = _group_aggs(k, s_cols, "m")
    return pairs.agg(*aggs), p, cached


def conley_pair_agg_batched(
    proj,
    groups: list[tuple[str, list[str], bool]],
    cutoff: float,
    kernel: str = "uniform",
    distance: str = "haversine",
    max_cell_rows: int = 150_000,
    cache: bool = False,
    max_pair_estimate: float = 2e10,
    group_col: str | None = None,
):
    """Batched Conley pair aggregation: MANY score groups ride ONE
    exploded cell join (the expensive part of the spatial pass).

    ``groups``: one ``(e_col, score_cols, intercept)`` per model — each
    model's K(d)*e_i*e_j*x_a*x_b sums land in ``m{k}_{a}_{b}`` columns of
    the same aggregate row (dbreg_multi: M models, one pair pass instead
    of M). ``group_col``: restrict pairs to rows sharing the column value
    and GROUP the aggregation by it (dbreg_split: each level's meat from
    the one join; the level joins the cell key so no cross-level pair is
    ever evaluated). Returns (lazy agg_df [+ group_col column], [p_k],
    cached-projection-or-None)."""
    _validate_conley_opts(cutoff, kernel, distance)
    comp, group_s_cols = _coord_compress(proj, groups, group_col=group_col)
    cached = None
    if cache:
        comp = comp.cache()
        cached = comp
    pairs, k = _enumerate_pairs(
        comp, cutoff, kernel, distance, max_cell_rows, max_pair_estimate,
        group_col=group_col,
    )
    aggs, ps = [], []
    for gi, s_cols in enumerate(group_s_cols):
        a_g, p_g = _group_aggs(k, s_cols, f"m{gi}")
        aggs += a_g
        ps.append(p_g)
    if group_col:
        out = pairs.groupBy(
            F.col(f"l.{group_col}").alias(group_col)
        ).agg(*aggs)
    else:
        out = pairs.agg(*aggs)
    return out, ps, cached


def conley_meat(
    frame: Frame,
    betahat: np.ndarray,
    x_names: list[str],
    intercept: bool,
    lat_col: str,
    lon_col: str,
    cutoff: float,
    kernel: str = "uniform",
    distance: str = "haversine",
    weight_col: str | None = None,
    max_cell_rows: int = 150_000,
    max_pair_estimate: float = 2e10,
) -> np.ndarray:
    """Exact Conley meat matrix (p x p, p = intercept + len(x_names)).

    ``kernel``: "uniform" (K=1 inside the cutoff — Conley's original) or
    "bartlett" (K = 1 − d/cutoff, fixest's ``vcov_conley`` default
    distance decay). ``distance``: "haversine" (coords in degrees, cutoff
    in km) or "euclidean" (coords and cutoff in the same planar units).
    """
    agg_df, p, cached = conley_meat_plan(
        frame, betahat, x_names, intercept, lat_col, lon_col, cutoff,
        kernel, distance, weight_col, max_cell_rows, cache=True,
        max_pair_estimate=max_pair_estimate,
    )
    row = agg_df.collect()[0].asDict()
    if cached is not None:
        cached.unpersist()
    meat = np.zeros((p, p))
    for a in range(p):
        for b in range(a, p):
            v = row[f"m_{a}_{b}"]
            meat[a, b] = meat[b, a] = float(v) if v is not None else 0.0
    # the half-enumerated join already symmetrizes in the aggregation
    # (_group_aggs: cross-cell rows carry both product orders, same-cell
    # rows arrive in both orders), so the a<b cells hold the full
    # symmetric totals; nothing to double here
    return meat
