"""Join operators (SURVEY §2.4 J1-J8).

The reference realizes every join as a per-row loop over a small table with
a full boolean-mask scan of the big table per iteration — nested-loop joins
in disguise (``feldman.py:318-340,357-366``, ``coring/sectionSummary.py:88-100``).
Here each becomes one real Spark join; the small splice-side tables (SIT,
affine — hundreds of rows) are broadcast so the big measurement side never
shuffles.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "broadcast_equi_join",
    "semi_join",
    "anti_join",
    "containment_join",
    "binned_range_join",
    "interval_overlap_join",
    "nearest_value_join",
    "asof_join",
    "bloom_might_contain",
    "bloom_semi_join",
    "grid_radius_join",
    "geo_radius_join",
]


def broadcast_equi_join(
    big: DataFrame, small: DataFrame, on: Sequence[str], how: str = "inner",
) -> DataFrame:
    """J4/J6/J8: equi-join with an explicitly broadcast small side
    (replaces the iterrows loops at ``feldman.py:357-366``,
    ``coring/affine.py:56-61``)."""
    return big.join(F.broadcast(small), on=list(on), how=how)


def semi_join(df: DataFrame, keys: DataFrame, on: Sequence[str]) -> DataFrame:
    """J5: membership — rows of ``df`` whose key appears in ``keys``
    (``coring/spliceInterval.py:79-85`` ``containsCore``)."""
    return df.join(F.broadcast(keys.select(*on).distinct()), on=list(on), how="left_semi")


def anti_join(df: DataFrame, keys: DataFrame, on: Sequence[str]) -> DataFrame:
    """J3/F6: complement of :func:`semi_join` — e.g. off-splice rows
    (``feldman.py:346``)."""
    return df.join(F.broadcast(keys.select(*on).distinct()), on=list(on), how="left_anti")


def containment_join(
    fact: DataFrame,
    intervals: DataFrame,
    equi_on: Sequence[str],
    fact_point: str,
    interval_lo: str,
    interval_hi: str,
    inclusive: bool = True,
    broadcast_intervals: bool = True,
) -> DataFrame:
    """J1: interval-containment (range) join — fact rows whose ``fact_point``
    falls inside a matching interval's [lo, hi], with equi keys pushed into
    the hash join and the range residual filtered after
    (replaces the per-interval scan loop ``feldman.py:318-340`` +
    ``coring/measurement.py:46-47``).

    With ``broadcast_intervals=True`` (the common case: splice-side tables
    are tiny) this is a broadcast-hash join on the equi keys — a single pass
    over the fact table, no shuffle, which is the 100 TB-scale centerpiece.
    For large-large cases, set it False and Spark falls back to a shuffled
    join on the equi keys.
    """
    right = F.broadcast(intervals) if broadcast_intervals else intervals
    point = F.col(f"`{fact_point}`")
    lo = F.col(f"`{interval_lo}`")
    hi = F.col(f"`{interval_hi}`")
    residual = point.between(lo, hi) if inclusive else (point > lo) & (point < hi)
    return fact.join(right, on=list(equi_on), how="inner").filter(residual)


def _auto_bin_width(
    sides: Sequence[tuple[DataFrame, str, str]],
) -> float:
    """Pick a bin width for the keyless range joins from interval-span
    statistics — the same philosophy as the auto-sized hyperplane count
    in :mod:`feldman_spark.pipeline.dedup` (hand-picked constants are the
    thing that silently goes quadratic at 100 TB). The median span keeps
    interval replication ≈ 2× per row by construction; degenerate inputs
    (all point-intervals) fall back to 1/1024 of the observed domain so
    a bin never covers the whole axis. One tiny aggregate action per
    side (three scalars), priced like the LSH sizing seed pass.
    """
    med = hi = lo = None
    for df, lo_col, hi_col in sides:
        row = df.agg(
            F.expr(f"approx_percentile(`{hi_col}` - `{lo_col}`, 0.5)"),
            F.max(F.col(f"`{hi_col}`").cast("double")),
            F.min(F.col(f"`{lo_col}`").cast("double")),
        ).first()
        if row[0] is not None:
            med = row[0] if med is None else max(med, float(row[0]))
        if row[1] is not None:
            hi = row[1] if hi is None else max(hi, float(row[1]))
        if row[2] is not None:
            lo = row[2] if lo is None else min(lo, float(row[2]))
    if med is not None and med > 0:
        return float(med)
    if hi is not None and lo is not None and hi > lo:
        return (hi - lo) / 1024.0
    return 1.0


def _check_bin_width(name: str, bin_width) -> None:
    if bin_width is not None and not float(bin_width) > 0:
        # floor(x / 0) is Long.MaxValue for every row — one degenerate
        # bin, i.e. a silent full cross product. Fail fast instead.
        raise ValueError(
            f"{name}: bin_width must be > 0 (got {bin_width}); "
            "pass None to auto-size from interval-span statistics")


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: Optional[float] = None,
) -> DataFrame:
    """J11: large × large interval-containment join with NO equi key —
    the case :func:`containment_join` cannot handle at scale (no key to
    hash on, and neither side broadcastable, Spark would plan a
    BroadcastNestedLoopJoin and die). The domain is cut into fixed
    ``bin_width`` bins: each point maps to exactly ONE bin, each interval
    replicates into every bin it overlaps (``explode(sequence(...))``),
    and the join becomes a plain shuffled EQUI-join on the bin id with
    the ``BETWEEN`` residual filtered after. A matching (point, interval)
    pair meets in exactly one bin — the point's — so no dedup pass is
    needed and inner-join multiplicity is exact.

    Column names must be disjoint between the two sides (checked).

    Scale (100 TB): both sides shuffle ONCE on the bin id; the interval
    side inflates by ``span/bin_width + 1`` copies per row, so pick
    ``bin_width`` near the typical interval span (replication ≈ 2×) —
    much smaller and replication explodes, much larger and each bin
    degenerates toward the per-bin cross product. ``bin_width=None``
    (the default) auto-sizes to the MEDIAN interval span from one tiny
    aggregate, which yields exactly that ≈ 2× replication regime without
    a hand-picked constant. Hot bins (many points AND many intervals in
    one range) are a skew risk like any equi-join key: AQE's skew-join
    split handles moderate cases; for pathological ones wrap the bin key
    with :mod:`feldman_spark.ops.skew` salting.
    """
    overlap = set(points.columns) & set(intervals.columns)
    if overlap:
        raise ValueError(
            f"binned_range_join: overlapping column names {sorted(overlap)}; "
            "rename one side first")
    _check_bin_width("binned_range_join", bin_width)
    if bin_width is None:
        bin_width = _auto_bin_width([(intervals, lo_col, hi_col)])
    w = float(bin_width)
    pb = points.withColumn(
        "_bin", F.floor(F.col(f"`{point_col}`") / F.lit(w)).cast("bigint"))
    ib = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(f"`{lo_col}`") / F.lit(w)).cast("bigint"),
                F.floor(F.col(f"`{hi_col}`") / F.lit(w)).cast("bigint"),
            )
        ),
    )
    return (
        pb.join(ib, on="_bin", how="inner")
        .filter(F.col(f"`{point_col}`").between(F.col(f"`{lo_col}`"), F.col(f"`{hi_col}`")))
        .drop("_bin")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_lo: str,
    l_hi: str,
    r_lo: str,
    r_hi: str,
    bin_width: Optional[float] = None,
) -> DataFrame:
    """J13: large × large interval-OVERLAP join with no equi key — the
    interval×interval sibling of :func:`binned_range_join` (which joins
    points to intervals). Emits every (left, right) pair whose closed
    intervals intersect: ``l_lo <= r_hi AND r_lo <= l_hi``.

    Both sides replicate into every ``bin_width`` bin they touch
    (``explode(sequence(...))``) and meet in a shuffled equi-join on the
    bin id. A qualifying pair co-occurs in every bin both intervals
    touch, so multiplicity is repaired *exactly* (no DISTINCT pass) by
    keeping only the bin containing the overlap's start,
    ``floor(greatest(l_lo, r_lo) / w)`` — a point that lies in both
    intervals by definition, hence a bin both sides replicated into.

    Column names must be disjoint between the two sides (checked).

    Scale (100 TB): one shuffle per side on the bin id; replication is
    ``span/bin_width + 1`` per row, so set ``bin_width`` near the
    typical interval span (``None``, the default, auto-sizes to the
    larger median span of the two sides — ≈ 2× replication with no
    hand-picked constant). Output is bounded by the true pair count —
    the operator is output-linear, and the per-bin cross product stays
    small exactly when intervals are sparse relative to ``bin_width``
    (the regime the binning presumes; for dense hot bins, AQE skew
    splitting or :mod:`feldman_spark.ops.skew` salting on ``_bin``).
    """
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(
            f"interval_overlap_join: overlapping column names "
            f"{sorted(overlap)}; rename one side first")
    _check_bin_width("interval_overlap_join", bin_width)
    if bin_width is None:
        bin_width = _auto_bin_width(
            [(left, l_lo, l_hi), (right, r_lo, r_hi)])
    w = float(bin_width)

    def binned(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.withColumn(
            "_bin",
            F.explode(
                F.sequence(
                    F.floor(F.col(f"`{lo}`") / F.lit(w)).cast("bigint"),
                    F.floor(F.col(f"`{hi}`") / F.lit(w)).cast("bigint"),
                )
            ),
        )

    lb = binned(left, l_lo, l_hi)
    rb = binned(right, r_lo, r_hi).withColumnRenamed("_bin", "_rbin")
    start_bin = F.floor(
        F.greatest(F.col(f"`{l_lo}`"), F.col(f"`{r_lo}`")) / F.lit(w)
    ).cast("bigint")
    return (
        lb.join(rb, lb["_bin"] == rb["_rbin"], "inner")
        .filter(
            (F.col(f"`{l_lo}`") <= F.col(f"`{r_hi}`"))
            & (F.col(f"`{r_lo}`") <= F.col(f"`{l_hi}`"))
            & (F.col("_bin") == start_bin)
        )
        .drop("_bin", "_rbin")
    )


def nearest_value_join(
    left: DataFrame,
    right: DataFrame,
    left_value: str,
    right_value: str,
    right_id: str,
    out_id: str = "nearest_id",
    out_value: str = "nearest_value",
) -> DataFrame:
    """J7 at scale: for each left row, the right row whose ``right_value``
    is closest to ``left_value``; ties (equal |Δ|, or several right rows
    sharing a value) resolve to the smallest ``right_id``.

    The right side is collected sorted to the driver (it must be a
    *dimension* — thousands-to-millions of rows, not the fact table),
    broadcast once, and each executor batch answers with one vectorized
    ``np.searchsorted`` over Arrow batches. The left side streams through
    ``mapInPandas`` — unbounded size, no shuffle, no cross join.
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    # pre-group right: one row per value carrying the smallest id. The
    # global sort happens DRIVER-SIDE in numpy over the collected
    # dimension: a Spark orderBy here bought nothing (the table is
    # about to be collected anyway) and cost a whole range exchange +
    # sort stage per call; the Arrow toPandas path also replaces the
    # per-Row python objects of collect() with one columnar transfer.
    # Values must be non-null (they always were: a null right_value
    # made the searchsorted array unsorted in the old form too).
    rv, rid = right_value, right_id
    agg = right.groupBy(rv).agg(F.min(rid).alias(rid)).toPandas()
    values = agg[rv].to_numpy(dtype=np.float64)
    ids = agg[rid].to_numpy()
    order = np.argsort(values, kind="stable")
    values = values[order]
    ids = ids[order]
    sc = left.sparkSession.sparkContext
    b_values = sc.broadcast(values)
    b_ids = sc.broadcast(ids)

    id_field = right.schema[rid]
    schema = StructType(
        list(left.schema.fields)
        + [StructField(out_id, id_field.dataType), StructField(out_value, DoubleType())]
    )

    def search(batches):
        vals = b_values.value
        idarr = b_ids.value
        for pdf in batches:
            x = pdf[left_value].to_numpy(dtype=np.float64)
            pos = np.searchsorted(vals, x)
            lo = np.clip(pos - 1, 0, len(vals) - 1)
            hi = np.clip(pos, 0, len(vals) - 1)
            d_lo = np.abs(x - vals[lo])
            d_hi = np.abs(vals[hi] - x)
            # nearest wins; on an exact distance tie the smaller id wins
            use_hi = (d_hi < d_lo) | ((d_hi == d_lo) & (idarr[hi] < idarr[lo]))
            best = np.where(use_hi, hi, lo)
            out = pdf.copy()
            out[out_id] = idarr[best]
            out[out_value] = vals[best]
            yield out

    return left.mapInPandas(search, schema=schema)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] = (),
    tolerance_seconds: Optional[float] = None,
    suffix: str = "_r",
    direction: str = "backward",
) -> DataFrame:
    """As-of join: each left row picks the most recent right row with
    ``right_ts <= left_ts`` on the same key (``direction="backward"``,
    the default — DuckDB/pandas ``ASOF JOIN`` semantics), or the
    earliest right row with ``right_ts >= left_ts``
    (``direction="forward"``). The feature-backfill join of
    time-series/training pipelines; unmatched left rows keep nulls.

    Scale path: there is no join in the plan at all. Both sides union
    with a side tag and ONE window pass per key carries the latest
    right-side row forward as a single struct (``last(ignorenulls)``
    over event-time order; right rows sort before left rows at equal
    timestamps so an exactly-simultaneous right row is visible). The
    struct carry keeps the match atomic: a NULL attribute inside the
    matched right row stays NULL rather than backfilling from an older
    right row, preserving DuckDB/pandas ASOF single-row-match
    semantics. One shuffle on the key — both sides can be fact-sized,
    unlike the broadcast-dimension contract of
    :func:`nearest_value_join`. With several right rows on one
    timestamp the last in (key, ts) window order wins, matching
    DuckDB's single-match contract only when (key, ts) is unique on the
    right — pre-aggregate the right side otherwise.

    ``tolerance_seconds`` nulls the carried attributes when the matched
    right row is further from the left timestamp than the bound
    (timestamps compare as epoch seconds; plain numeric event-time
    columns subtract directly).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward or forward, got {direction!r}")
    from pyspark.sql.types import StructField, StructType

    keys = list(on)
    rcols = list(right_cols)
    rts_out = f"{right_ts}{suffix}"

    # the whole right row travels as ONE struct so the as-of match is
    # atomic — last(ignorenulls) either sees the full matched row or
    # nothing, never a mix of attributes from different right rows
    match_type = StructType(
        [StructField(rts_out, right.schema[right_ts].dataType)]
        + [StructField(f"{c}{suffix}", right.schema[c].dataType) for c in rcols]
    )
    l_side = left.select(
        *[F.col(c) for c in left.columns],
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(match_type).alias("_match"),
    )
    r_side = right.select(
        *[F.col(c) for c in keys],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in keys],
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(
            F.col(right_ts).alias(rts_out),
            *[F.col(c).alias(f"{c}{suffix}") for c in rcols],
        ).alias("_match"),
    )
    u = l_side.unionByName(r_side)

    # walking the key's timeline in event-time order (reversed for
    # forward), the latest preceding right row IS the as-of match; right
    # rows sort before left rows at equal timestamps in either direction
    ts_order = F.col("_ts").asc() if direction == "backward" else F.col("_ts").desc()
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy(ts_order, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [rts_out] + [f"{c}{suffix}" for c in rcols]
    filled = u.withColumn("_match", F.last(F.col("_match"), ignorenulls=True).over(w))
    out = (
        filled.filter(F.col("_side") == 1)
        .select(
            *[c for c in u.columns if c not in ("_side", "_match")],
            *[F.col(f"_match.`{c}`").alias(c) for c in carried],
        )
        .drop("_ts")
    )

    if tolerance_seconds is not None:
        def _secs(name: str) -> Column:
            # TIMESTAMP_NTZ has no direct double cast in Spark 4; going
            # through TIMESTAMP (session tz is UTC) yields epoch seconds.
            # Numeric event-time columns cast directly.
            c = F.col(name)
            if dict(out.dtypes)[name] == "timestamp_ntz":
                c = c.cast("timestamp")
            return c.cast("double")

        lt, rt = _secs(left_ts), _secs(rts_out)
        age = lt - rt if direction == "backward" else rt - lt
        stale = F.col(rts_out).isNotNull() & (age > float(tolerance_seconds))
        out = out.withColumns({
            c: F.when(stale, F.lit(None)).otherwise(F.col(c)) for c in carried
        })
    return out


def _bloom_params(n: int, fpp: float) -> tuple:
    """Optimal Bloom sizing: m = -n*ln(p)/ln(2)^2 bits, k = (m/n)*ln(2)
    hash functions."""
    import math

    n = max(int(n), 1)
    p = min(max(float(fpp), 1e-9), 0.5)
    m = int(math.ceil(-n * math.log(p) / (math.log(2) ** 2)))
    m = max(m, 64)
    k = max(int(round(m / n * math.log(2))), 1)
    return m, k


def _bloom_pos_sql(cols: Sequence[str], m: int, i: int) -> str:
    """SQL text for probe i's bit position: pmod(xxhash64(i, key...), m).
    Text (not Column objects) so the same expression can sit inside
    variable-shift bit tests, which the SQL function surface allows but
    the PySpark wrappers (int-only shift amounts) do not."""
    keys = ", ".join(f"`{c}`" for c in cols)
    return f"pmod(xxhash64({i}, {keys}), CAST({m} AS BIGINT))"


def bloom_might_contain(
    big: DataFrame,
    keys: DataFrame,
    on: Sequence[str],
    fpp: float = 0.01,
    expected_keys: Optional[int] = None,
    bitset_col: str = "_bloom",
) -> DataFrame:
    """Approximate membership prefilter: keep ``big`` rows whose key
    MIGHT appear in ``keys`` — no false negatives, false positives at
    ~``fpp``. Beyond reference: explicit runtime row-level filtering,
    the scale move when the filter side is too large to broadcast raw
    but its BITSET is not (1%% fpp ≈ 1.2 MB per million keys — three
    orders of magnitude under the keys themselves for wide keys).

    Scale shape: one pass over the keys side builds the bitset (explode
    k probe positions → (word, bit) → ``bit_or`` aggregate — partial-
    aggregating, m/64 result rows; plus one ``distinct().count()`` when
    ``expected_keys`` is not supplied), the m/64-long array collects
    once and rides a one-row broadcast onto the big side, and each probe
    is an ``element_at`` + variable-shift bit test in whole-stage
    codegen — the big table is filtered ON ITS SCAN SIDE, before any
    shuffle, and never moves for keys that cannot match.
    """
    cols = list(on)
    spark = big.sparkSession
    if expected_keys is None:
        expected_keys = keys.select(*cols).distinct().count()
    m, k = _bloom_params(expected_keys, fpp)
    nwords = (m + 63) // 64

    pos_exprs = [F.expr(_bloom_pos_sql(cols, m, i)) for i in range(k)]
    words = (
        keys.select(F.explode(F.array(*pos_exprs)).alias("pos"))
        .select(
            F.shiftright(F.col("pos"), 6).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    bitset = [0] * nwords
    for r in words:
        bitset[int(r["word"])] = int(r["bits"])

    carrier = spark.createDataFrame([(bitset,)], f"{bitset_col} array<bigint>")
    tests = []
    for i in range(k):
        pos = _bloom_pos_sql(cols, m, i)
        tests.append(
            f"(element_at(`{bitset_col}`, CAST(shiftright({pos}, 6) AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST({pos} % 64 AS INT))) != 0"
        )
    return (
        big.crossJoin(F.broadcast(carrier))
        .filter(F.expr(" AND ".join(tests)))
        .drop(bitset_col)
    )


def bloom_semi_join(
    big: DataFrame,
    keys: DataFrame,
    on: Sequence[str],
    fpp: float = 0.01,
    expected_keys: Optional[int] = None,
) -> DataFrame:
    """EXACT semi-join accelerated by a Bloom prefilter: the bitset
    eliminates big-side rows that cannot match before the shuffle, then
    a real ``left_semi`` join over the survivors removes the false
    positives — output is exactly :func:`semi_join`'s, but only
    (true matches + ~fpp of the rest) of the big side reaches the
    exchange. Use when BOTH sides are too large to broadcast: the big
    side's shuffle shrinks to its selectivity, which is the entire cost
    of a large semi-join at corpus scale.
    """
    cols = list(on)
    filtered = bloom_might_contain(
        big, keys, cols, fpp=fpp, expected_keys=expected_keys
    )
    return filtered.join(keys.select(*cols).distinct(), on=cols, how="left_semi")


def grid_radius_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    left_xy: Sequence[str] = ("x", "y"),
    right_xy: Sequence[str] = ("x", "y"),
    cell: Optional[float] = None,
    dist_col: str = "dist",
    digits: int = 4,
) -> DataFrame:
    """EXACT planar radius join: every (left, right) pair within
    euclidean ``radius`` (beyond reference — the spatial-join shape:
    stores near customers, sensors near events, any
    points-within-distance pairing). Returns all left columns, all
    right columns, and ``dist_col`` (rounded euclidean distance).

    Scale shape: the classic grid-bin join — NEVER a cross join. Right
    rows bin once into ``floor(x/cell), floor(y/cell)``; left rows
    explode into their 3×3 neighbor cells (9 slim rows each); the
    candidate join is a plain HASH equi-join on the cell id, exact
    because ``cell >= radius`` guarantees any pair within ``radius``
    shares one of the 9 probed cells (and each pair meets exactly
    once: the right row has ONE cell). The residual distance filter
    evaluates on candidates only — expected candidates per left row is
    the 9-cell point density, so output and work scale with true
    match density, not |L|×|R|. Hot cells (urban skew) parallelize via
    AQE skew-join splitting on the shuffled hash join. NULL
    coordinates drop (no distance semantics).
    """
    if radius <= 0:
        raise ValueError(f"grid_radius_join: radius must be > 0, got {radius}")
    if set(left_xy) & set(right_xy):
        raise ValueError(
            "grid_radius_join: left and right coordinate column names must "
            f"differ (got {left_xy} vs {right_xy}) — the joined frame keeps "
            "both sides' columns")
    cell = float(cell if cell is not None else radius)
    if cell < radius:
        raise ValueError(
            f"grid_radius_join: cell ({cell}) must be >= radius ({radius}) "
            "for the 3x3 neighborhood to be exact")
    lx, ly = (F.col(c) for c in left_xy)
    rx, ry = (F.col(c) for c in right_xy)
    r2 = F.lit(float(radius) * float(radius))

    rb = (right.filter(rx.isNotNull() & ry.isNotNull())
          .withColumn("_cx", F.floor(rx / cell))
          .withColumn("_cy", F.floor(ry / cell)))
    off = F.explode(F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("_o")
    lb = (left.filter(lx.isNotNull() & ly.isNotNull())
          .select("*", off)
          .withColumn("_cx", F.floor(lx / cell) + F.col("_o.dx"))
          .withColumn("_cy", F.floor(ly / cell) + F.col("_o.dy"))
          .drop("_o"))
    dx = lx - rx
    dy = ly - ry
    d2 = dx * dx + dy * dy
    return (
        lb.join(rb, ["_cx", "_cy"])
        .filter(d2 <= r2)
        .drop("_cx", "_cy")
        .withColumn(dist_col, F.round(F.sqrt(d2), digits))
    )


# mean-earth-radius haversine constants, written identically on both
# engines so the twin folds the same literals
_EARTH_RADIUS_KM = 6371.0088
_KM_PER_LAT_DEG = 111.19492664455873  # pi * R / 180


def geo_radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    left_ll: Sequence[str] = ("lat", "lon"),
    right_ll: Sequence[str] = ("lat2", "lon2"),
    max_abs_lat: float = 60.0,
    dist_col: str = "dist_km",
    digits: int = 4,
) -> DataFrame:
    """EXACT great-circle radius join: every (left, right) pair within
    ``radius_km`` haversine kilometres — the geo sibling of
    :func:`grid_radius_join` (stores near customers, sensors near
    incidents). Returns both sides' columns plus ``dist_col``.

    The planar grid trick needs one geo correction: a degree of
    LONGITUDE shrinks with latitude (111.32·cos(lat) km), so lon bins
    sized at the equator would under-reach near the poles and the 3×3
    probe would MISS true pairs. Bins are therefore sized for the
    worst case the data is allowed to occupy: ``max_abs_lat`` bounds
    |lat| (validated — out-of-band rows raise at plan build via a
    runtime assert column), lon cell = radius / (km-per-lon-degree at
    ``max_abs_lat``), lat cell = radius / km-per-lat-degree. With both
    cells ≥ the radius' angular reach, any qualifying pair shares one
    of the 9 probed cells — recall is pigeonhole-exact, matches verify
    with the true haversine on candidates only. Poleward data needs a
    latitude-banded variant (bins per lat band); bounding the domain
    keeps THIS operator one hash join, and ±60° covers ~93% of
    inhabited Earth.

    Scale (100 TB): identical exchange plan to grid_radius_join — right
    bins once, left explodes ×9, one shuffled HASH equi-join on the
    cell id, AQE splits hot (urban) cells; work scales with match
    density, never |L|×|R|.
    """
    if radius_km <= 0:
        raise ValueError(
            f"geo_radius_join: radius_km must be > 0, got {radius_km}")
    if not (0 < max_abs_lat < 89.0):
        raise ValueError(
            f"geo_radius_join: max_abs_lat must be in (0, 89), got "
            f"{max_abs_lat}")
    if set(left_ll) & set(right_ll):
        raise ValueError(
            "geo_radius_join: left and right coordinate column names must "
            f"differ (got {left_ll} vs {right_ll})")
    import math

    lat_cell = radius_km / _KM_PER_LAT_DEG
    km_per_lon_deg_min = _KM_PER_LAT_DEG * math.cos(
        math.radians(max_abs_lat))
    # 1.001 pad: at exactly radius_km and worst geometry the spherical
    # lon separation exceeds the small-angle estimate by O(angle^2/6)
    # (arcsin curvature); padding the cell keeps the 3x3 pigeonhole a
    # strict guarantee at the cost of ~0.1% more candidates
    lon_cell = 1.001 * radius_km / km_per_lon_deg_min

    llat, llon = (F.col(c) for c in left_ll)
    rlat, rlon = (F.col(c) for c in right_ll)

    def _guarded(lat: Column) -> Column:
        # out-of-band latitudes would silently lose recall; fail loudly.
        # The guard lives INSIDE the bin expression (a side-channel
        # check column would be pruned by Catalyst and never evaluate)
        return F.when(F.abs(lat) <= max_abs_lat, lat).otherwise(
            F.raise_error(F.lit(
                f"geo_radius_join: |lat| exceeds max_abs_lat="
                f"{max_abs_lat}")))

    rb = (right.filter(rlat.isNotNull() & rlon.isNotNull())
          .withColumn("_cx", F.floor(_guarded(rlat) / F.lit(lat_cell)))
          .withColumn("_cy", F.floor(rlon / F.lit(lon_cell))))
    off = F.explode(F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("_o")
    lb = (left.filter(llat.isNotNull() & llon.isNotNull())
          .select("*", off)
          .withColumn("_cx",
                      F.floor(_guarded(llat) / F.lit(lat_cell))
                      + F.col("_o.dx"))
          .withColumn("_cy", F.floor(llon / F.lit(lon_cell)) + F.col("_o.dy"))
          .drop("_o"))
    # haversine, written with the same operation order as the SQL twin
    rad = math.pi / 180.0
    dlat_h = (rlat - llat) * F.lit(rad / 2)
    dlon_h = (rlon - llon) * F.lit(rad / 2)
    a = (F.sin(dlat_h) * F.sin(dlat_h)
         + F.cos(llat * F.lit(rad)) * F.cos(rlat * F.lit(rad))
         * F.sin(dlon_h) * F.sin(dlon_h))
    d = F.lit(2.0 * _EARTH_RADIUS_KM) * F.asin(F.sqrt(a))
    return (
        lb.join(rb, ["_cx", "_cy"])
        .filter(d <= F.lit(float(radius_km)))
        .drop("_cx", "_cy")
        .withColumn(dist_col, F.round(d, digits))
    )
