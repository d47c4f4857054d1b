"""Numeric feature transforms: binning, min-max scaling, standardization,
winsorization — the post-materialization conditioning a feature vector
needs before it reaches a trainer.

The reference materializes raw feature values and stops
(``feature-json/.../FeatureJsonPublisher.kt`` is the sink); every model
team then re-implements "scale this column per segment" downstream. Here
the transforms are first-class operators over the materialized frame,
with the repo's determinism contract: inputs arrive on an integer
fixed-point grid (the house ``*_e2``/``*_e6`` convention — callers with a
double column pre-scale once, e.g. ``F.floor(x * 100).cast("long")``),
every threshold/rank/ratio is integer arithmetic, and the only doubles
produced are quotients/square-roots OF exact integers — deterministic
and bit-identical in any IEEE-754 engine, so an independent SQL twin
reproduces every output value.

Scale posture (100 TB): the stats side of every transform is GROUP-grain
(one map-side-combined aggregate onto one row per group), joined back
broadcast — the data side never shuffles. The exceptions are rank-based
transforms (`quantile_bin`, `winsorize`), which fundamentally need a
per-group sort: one Exchange on the group keys, spill-safe. Their
keyless form sorts a single partition — fine for bounded frames
(eval sets, per-batch stats), wrong for a raw corpus; `bin_by_cuts`
(plan-time literal cut points, zero shuffle) is the keyless 100 TB path,
with cuts from a prior `winsorize`/`quantile_bin` run or approx
quantiles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from funcify_feature_eng_spark.operators.util import exact_floor_div

__all__ = [
    "bin_by_cuts",
    "quantile_bin",
    "minmax_scale",
    "minmax_expr",
    "standardize",
    "zscore_expr",
    "winsorize",
    "rank_normalize",
    "rank_quantiles",
    "mad_outliers",
    "reference_percentile",
    "quantile_match",
]

_PPM = 1_000_000
_DEC = "decimal(38,0)"

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _require_integral(df: DataFrame, value_col: str, op: str) -> None:
    t = df.schema[value_col].dataType.simpleString()
    if t not in _INTEGRAL:
        raise ValueError(
            f"{op} requires an integral value column (got {value_col}: {t}): "
            "floats break the exact-arithmetic contract — pre-scale onto a "
            "fixed-point grid (e.g. F.floor(x * 100).cast('long'))"
        )


def bin_by_cuts(
    df: DataFrame,
    value_col: str,
    cuts: Sequence[int | float],
    out_col: str = "bin",
) -> DataFrame:
    """Assign ``out_col`` = number of ``cuts`` <= value (0..len(cuts));
    NULL value -> NULL bin. ``cuts`` must be strictly increasing plan-time
    literals.

    This is the zero-shuffle binning path: a pure Column expression
    (whole-stage codegen), the right tool when the cut points are known —
    from a config, a prior :func:`quantile_bin`/:func:`winsorize` run, or
    ``approxQuantile``. Use it instead of keyless :func:`quantile_bin`
    on anything corpus-sized."""
    if not cuts:
        raise ValueError("bin_by_cuts: need at least one cut point")
    if any(b <= a for a, b in zip(cuts, cuts[1:])):
        raise ValueError(f"bin_by_cuts: cuts must be strictly increasing: {cuts}")
    v = F.col(value_col)
    bin_expr: Column = sum(
        ((v >= F.lit(c)).cast("int") for c in cuts), F.lit(0)
    ).cast("int")
    return df.withColumn(
        out_col, F.when(v.isNull(), F.lit(None).cast("int")).otherwise(bin_expr)
    )


def quantile_bin(
    df: DataFrame,
    value_col: str,
    *,
    n_bins: int,
    tiebreak: str,
    group_by: Sequence[str] = (),
    out_col: str = "bin",
) -> DataFrame:
    """Equi-depth discretization: ``out_col`` = NTILE(``n_bins``) of the
    non-NULL values per group, ordered by ``(value, tiebreak)`` — exact
    integer rank semantics (bucket sizes differ by at most one), identical
    in every SQL engine, no estimation. NULL values get a NULL bin and do
    NOT count toward bucket sizing (they carry no rank information).

    ``tiebreak`` (a unique id column) makes tied values' bucket assignment
    deterministic — without it NTILE splits a tie run arbitrarily across a
    bucket boundary and two runs disagree.

    Scale: one Exchange on the group keys + a per-group spill-safe sort.
    Keyless (``group_by=()``) sorts ONE partition — bounded frames only;
    use :func:`bin_by_cuts` for corpus-sized keyless binning."""
    if n_bins < 1:
        raise ValueError(f"quantile_bin: n_bins must be >= 1, got {n_bins}")
    keys = list(group_by)
    v = F.col(value_col)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        v.asc(), F.col(tiebreak).asc()
    )
    nn = df.filter(v.isNotNull()).withColumn(
        out_col, F.ntile(n_bins).over(w).cast("int")
    )
    nulls = df.filter(v.isNull()).withColumn(out_col, F.lit(None).cast("int"))
    return nn.unionByName(nulls)


def _stats_join(
    df: DataFrame, stats: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Attach a group-grain stats frame: broadcast equi-join on the keys,
    or broadcast cross-join for the keyless (single global row) case —
    either way the DATA side crosses no Exchange.

    The key equality is NULL-SAFE: groupBy treats NULL as a real group, so
    a name-based (null-unsafe) join would silently hand NULL-keyed rows
    NULL stats instead of their own group's. Catalyst rewrites EqualNullSafe
    into coalesced join keys, so this stays a broadcast hash join."""
    if not keys:
        return df.crossJoin(F.broadcast(stats))
    l, r = df.alias("__sj_l"), stats.alias("__sj_r")
    cond = None
    for k in keys:
        esc = k.replace("`", "``")
        eq = F.col(f"__sj_l.`{esc}`").eqNullSafe(F.col(f"__sj_r.`{esc}`"))
        cond = eq if cond is None else (cond & eq)
    out = l.join(F.broadcast(r), cond, "left")
    for k in keys:
        out = out.drop(F.col("__sj_r.`" + k.replace("`", "``") + "`"))
    return out


def minmax_expr(v: Column, mn: Column, mx: Column, scale: int = _PPM) -> Column:
    """The min-max formula as a Column: floor(scale * (v - mn) / (mx - mn))
    with the numerator widened to DECIMAL(38) and the exact floor division;
    NULL ``v`` -> NULL, a constant group (mx == mn) -> 0. ``mn``/``mx`` are
    the group extrema however they were computed — a broadcast stats join
    (:func:`minmax_scale`) or a window aggregate (FeatureModel ``minmax``)."""
    num = (v.cast(_DEC) - mn.cast(_DEC)) * F.lit(int(scale)).cast(_DEC)
    den = (mx - mn).cast(_DEC)
    return F.when(v.isNull(), F.lit(None).cast("bigint")).when(
        mx == mn, F.lit(0).cast("bigint")
    ).otherwise(exact_floor_div(num, den))


def zscore_expr(v: Column, n: Column, s1: Column, s2: Column) -> Column:
    """The z-score formula as a Column over exact DECIMAL(38) moments
    ``n = count(v)``, ``s1 = sum(v)``, ``s2 = sum(v^2)`` (see
    :func:`standardize`); NULL ``v`` and zero-variance groups -> NULL. Like
    :func:`minmax_expr`, shared by the frame operator and the FeatureModel
    ``zscore`` window op."""
    var_num = n * s2 - s1 * s1
    z = (n * v.cast(_DEC) - s1).cast("double") / F.sqrt(var_num.cast("double"))
    return F.when(
        v.isNull() | n.isNull() | (var_num <= 0), F.lit(None).cast("double")
    ).otherwise(z)


def minmax_scale(
    df: DataFrame,
    value_col: str,
    *,
    group_by: Sequence[str] = (),
    out_col: str = "minmax_e6",
    scale: int = _PPM,
) -> DataFrame:
    """Min-max scaling on the integer grid: ``out_col`` =
    floor(scale * (x - min) / (max - min)) per group, in [0, scale].
    A constant group (max == min) scales to 0; NULL values stay NULL and
    do not contribute to the extrema.

    Exactness: the value column must be integral (see module contract);
    the numerator is widened to DECIMAL(38) before the multiply so no
    intermediate overflows, and the floor division uses the remainder
    identity (``util.exact_floor_div``) — bit-reproducible anywhere.

    Scale: ONE map-side-combined aggregate onto group-grain rows,
    broadcast back. The data side never shuffles."""
    _require_integral(df, value_col, "minmax_scale")
    keys = list(group_by)
    v = F.col(value_col)
    stats = df.groupBy(*keys).agg(
        F.min(v).alias("__mn"), F.max(v).alias("__mx")
    )
    return (
        _stats_join(df, stats, keys)
        .withColumn(out_col, minmax_expr(v, F.col("__mn"), F.col("__mx"), scale))
        .drop("__mn", "__mx")
    )


def standardize(
    df: DataFrame,
    value_col: str,
    *,
    group_by: Sequence[str] = (),
    out_col: str = "zscore",
) -> DataFrame:
    """Population z-score per group, deterministic: with exact integer
    moments n, s1 = sum(x), s2 = sum(x^2),

        z = (n*x - s1) / sqrt(n*s2 - s1^2)

    algebraically equals (x - mean) / stddev_pop but every input to the
    double division and square root is an EXACT integer — integer sums
    are partition-order independent (a naive double variance is not), and
    int->double conversion, division, and sqrt are all correctly rounded
    under IEEE-754, so two engines agree to the last bit. Zero-variance
    groups and NULL values yield NULL.

    Scale: one map-side-combined aggregate (group-grain), broadcast back;
    no data-side shuffle. s2 headroom: |x| <= ~3e9 at 10^18 rows inside
    DECIMAL(38)."""
    _require_integral(df, value_col, "standardize")
    keys = list(group_by)
    v = F.col(value_col)
    d = v.cast(_DEC)
    stats = df.groupBy(*keys).agg(
        F.count(v).cast(_DEC).alias("__n"),
        F.sum(d).alias("__s1"),
        F.sum(d * d).alias("__s2"),
    )
    z = zscore_expr(v, F.col("__n"), F.col("__s1"), F.col("__s2"))
    return (
        _stats_join(df, stats, keys)
        .withColumn(out_col, z)
        .drop("__n", "__s1", "__s2")
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    *,
    lower_ppm: int,
    upper_ppm: int,
    tiebreak: str,
    group_by: Sequence[str] = (),
    out_col: str = "winsorized",
) -> DataFrame:
    """Clip each group's values to its exact [lower_ppm, upper_ppm]
    percentile band (parts-per-million of the group's non-NULL count).
    Thresholds use the repo's rank rule: the p-quantile of n ordered
    values is the value at rank max(1, ceil(p*n)) — exact integer ranks,
    no interpolation, so the clip bounds are actual data values and an
    independent engine reproduces them. NULL values pass through NULL and
    do not consume ranks.

    Scale: one Exchange for the per-group rank sort (the fundamental cost
    of an exact order statistic), then a group-grain threshold aggregate
    broadcast back — the second pass over the data is map-only. For
    corpus-sized keyless clipping, take the thresholds from a bounded
    sample or prior run and apply them with two ``F.greatest``/
    ``F.least`` literals instead."""
    if not (0 <= lower_ppm <= upper_ppm <= _PPM):
        raise ValueError(
            f"winsorize: need 0 <= lower_ppm <= upper_ppm <= 1e6, "
            f"got {lower_ppm}, {upper_ppm}"
        )
    keys = list(group_by)
    v = F.col(value_col)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        v.asc(), F.col(tiebreak).asc()
    )
    wn = Window.partitionBy(*[F.col(k) for k in keys])
    nn = (
        df.filter(v.isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
    )
    # ceil(p*n/1e6) with positive integers, exactly, via the DECIMAL
    # remainder identity (a long->double floor would lose low bits past
    # n ~ 9e9 rows per group)
    def _rank(ppm: int) -> Column:
        num = (
            F.lit(int(ppm)).cast("long") * F.col("__n") + F.lit(_PPM - 1)
        ).cast(_DEC)
        r = exact_floor_div(num, F.lit(_PPM).cast(_DEC))
        return F.greatest(F.lit(1).cast("long"), F.least(r, F.col("__n").cast("long")))

    marked = nn.withColumn("__klo", _rank(lower_ppm)).withColumn(
        "__khi", _rank(upper_ppm)
    )
    thresholds = marked.groupBy(*keys).agg(
        F.min(F.when(F.col("__rn") == F.col("__klo"), v)).alias("__lo"),
        F.min(F.when(F.col("__rn") == F.col("__khi"), v)).alias("__hi"),
    )
    clipped = F.when(v.isNull(), F.lit(None).cast(df.schema[value_col].dataType)).otherwise(
        F.greatest(F.col("__lo"), F.least(F.col("__hi"), v))
    )
    return (
        _stats_join(df, thresholds, keys)
        .withColumn(out_col, clipped)
        .drop("__lo", "__hi")
    )


def rank_normalize(
    df: DataFrame,
    value_col: str,
    *,
    tiebreak: str,
    group_by: Sequence[str] = (),
    out_col: str = "rank_ppm",
    method: str = "average",
) -> DataFrame:
    """Quantile (rank) normalization: ``out_col`` = the value's exact rank
    position in its group as floor parts-per-million of [0, 1e6] —
    distribution-free, outlier-immune, the transform that makes two
    features comparable when only order matters.

    ``method="average"`` (default) gives tied values their shared
    mid-rank (the statistics convention: Spearman-ready): with ties
    ranked [lo..hi], every tied row gets floor(1e6*(lo+hi-2)/(2*(n-1)))
    — kept exact by doubling the grid before the single division.
    ``method="first"`` ranks ties by ``tiebreak`` (row-unique ranks):
    floor(1e6*(rn-1)/(n-1)). Single-row groups get 0 (the defined floor
    of an empty range); NULL values pass through NULL and consume no
    rank.

    Scale: one Exchange for the per-group rank sort (shared by both the
    rank and count windows — one data pass), map-only arithmetic after.
    Keyless = single-partition sort: bounded frames only, like
    :func:`quantile_bin`."""
    if method not in ("average", "first"):
        raise ValueError(f"rank_normalize: unknown method {method!r}")
    keys = list(group_by)
    v = F.col(value_col)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        v.asc(), F.col(tiebreak).asc()
    )
    wv = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(v.asc())
    wn = Window.partitionBy(*[F.col(k) for k in keys])
    n = F.count(F.lit(1)).over(wn)
    if method == "first":
        # doubled grid so both methods share one remainder-identity
        # floor division at the end
        pos2 = (F.row_number().over(w).cast("long") - F.lit(1)) * F.lit(2)
    else:
        # average rank of a tie run [lo..hi] = (lo+hi)/2; rank() gives lo,
        # lo + cume count of the run - 1 gives hi. Doubling keeps the
        # half-integer exact until the single floor division.
        lo = F.rank().over(wv).cast("long")
        hi = (
            F.count(F.lit(1)).over(
                Window.partitionBy(*[F.col(k) for k in keys], v)
            ).cast("long")
            + lo - F.lit(1)
        )
        pos2 = lo + hi - F.lit(2)
    rank_ppm = F.when(v.isNull(), F.lit(None).cast("bigint")).when(
        n == 1, F.lit(0).cast("bigint")
    ).otherwise(
        exact_floor_div(
            (pos2 * F.lit(1_000_000)).cast(_DEC),
            (F.lit(2) * (n.cast("long") - F.lit(1))).cast(_DEC),
        )
    )
    nn = df.filter(v.isNotNull()).withColumn(out_col, rank_ppm)
    nulls = df.filter(v.isNull()).withColumn(out_col, F.lit(None).cast("bigint"))
    return nn.unionByName(nulls)


def rank_quantiles(
    df: DataFrame,
    value_col: str,
    *,
    ppms: Sequence[int],
    tiebreak: str,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Exact per-group quantiles at the requested parts-per-million
    points: the value at rank max(1, ceil(p*n)) (the repo's quantile rank
    rule — actual data values, no interpolation, reproducible anywhere).
    This is the distributed PRODUCER of cut points for
    :func:`bin_by_cuts`: run it once over the corpus (or per segment),
    collect the group-grain result (one row per group x ppm), and apply
    the cuts as plan-time literals — the exact two-job answer to "equi-
    depth binning at 100 TB" that keyless :func:`quantile_bin` cannot be.

    Output: long form ``(group_by..., ppm, value, n_values)`` — one row
    per group per requested point; NULL values consume no rank and a
    group with only NULLs emits nothing. ``ppms`` must be in [0, 1e6]
    (0 and 1e6 give the min and max).

    Scale: ONE rank-sort Exchange (shared rank + count windows); each row
    then tests its rank against the P requested ranks with a plan-time
    literal array — map-only, no second pass, no explode of non-matching
    rows."""
    pts = list(dict.fromkeys(int(p) for p in ppms))
    if not pts:
        raise ValueError("rank_quantiles: need at least one ppm point")
    if any(p < 0 or p > _PPM for p in pts):
        raise ValueError(f"rank_quantiles: ppms must be in [0, 1e6], got {pts}")
    keys = list(group_by)
    v = F.col(value_col)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        v.asc(), F.col(tiebreak).asc()
    )
    wn = Window.partitionBy(*[F.col(k) for k in keys])
    nn = (
        df.filter(v.isNotNull())
        .withColumn("__rn", F.row_number().over(w).cast("long"))
        .withColumn("__n", F.count(F.lit(1)).over(wn).cast("long"))
    )
    arr = F.array(*[F.lit(p).cast("long") for p in pts])

    def k_of(p: Column) -> Column:
        # ceil(p*n/1e6) exactly via the DECIMAL remainder identity — the
        # long->double route would lose low bits past n ~ 9e9 rows/group
        # (numerator > 2^53)
        num = (p * F.col("__n") + F.lit(_PPM - 1)).cast(_DEC)
        return F.greatest(
            F.lit(1).cast("long"), exact_floor_div(num, F.lit(_PPM).cast(_DEC))
        )

    matched = F.filter(arr, lambda p: k_of(p) == F.col("__rn"))
    return (
        nn.withColumn("__mp", matched)
        .filter(F.size("__mp") > 0)
        .select(
            *keys,
            F.explode("__mp").alias("ppm"),
            v.alias("value"),
            F.col("__n").alias("n_values"),
        )
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    *,
    k_num: int,
    k_den: int = 1,
    scale: int = 2,
    group_by: Sequence[str] = (),
    out_col: str = "is_outlier",
) -> DataFrame:
    """Robust per-group outlier flags via median absolute deviation:
    ``|x - median| > (k_num/k_den) * MAD`` — the classic robust z-score
    (Hampel identifier) that winsorization and standardization both
    assume someone already ran. NULL values pass through unflagged
    (NULL ``out_col``).

    Exactness: no division ever happens. The doubled-median trick keeps
    everything on the DECIMAL grid — ``median_x2 = lo + hi`` (the two
    middle order statistics; equal when n is odd), per-row deviation
    ``dev_x2 = |2x - median_x2|`` (= 2|x - median|), ``mad_x2`` = the
    doubled median of the deviations (= 4·MAD), and the flag is the
    cross-multiplied integer comparison ``2·dev_x2·k_den > k_num·mad_x2``
    (⇔ |x-median| > k·MAD). Any engine replays it bit-for-bit; fractional
    k comes in as a ratio (3.5 → k_num=7, k_den=2).

    Output: input columns + ``dev_x2``, ``median_x2``, ``mad_x2``,
    ``out_col`` — row grain preserved.

    Scale: two rank-sort Exchanges at group grain (one per median), both
    medians attached as window aggregates — no group-grain join, no
    collect. The exact answer costs what exact medians cost; use
    hist_quantiles for the one-pass approximate variant."""
    if k_num < 0 or k_den <= 0:
        raise ValueError(f"mad_outliers: bad k ratio {k_num}/{k_den}")
    dec = f"decimal(28,{scale})"
    v = F.col(value_col).cast(dec)
    keys = [F.col(k) for k in group_by]
    wn = Window.partitionBy(*keys)

    def doubled_median(col: Column, frame: DataFrame) -> DataFrame:
        # lo = order stat at rank (n+1)//2, hi at rank (n+2)//2; ties in
        # the sort are value-identical at a given rank, so row_number's
        # arbitrary tie order can't change the picked VALUES
        w = Window.partitionBy(*keys).orderBy(col.asc_nulls_last())
        rn = F.row_number().over(w).cast("long")
        n = F.count(col).over(wn).cast("long")
        return (
            frame.withColumn("__rn", rn)
            .withColumn("__lo_r", F.floor((n + F.lit(1)) / F.lit(2)))
            .withColumn("__hi_r", F.floor((n + F.lit(2)) / F.lit(2)))
        )

    # pass 1: median of the values (NULLs sort last and are not counted —
    # count(col) ignores them; their __rn rows sit past every valid rank)
    p1 = doubled_median(v, df)
    med2 = (
        F.sum(F.when(F.col("__rn") == F.col("__lo_r"), v)).over(wn)
        + F.sum(F.when(F.col("__rn") == F.col("__hi_r"), v)).over(wn)
    ).alias("median_x2")
    p1 = p1.withColumn("median_x2", med2).drop("__rn", "__lo_r", "__hi_r")
    dev = F.when(
        v.isNotNull(),
        F.abs(v * F.lit(2) - F.col("median_x2")),
    ).cast(dec)
    p1 = p1.withColumn("dev_x2", dev)
    # pass 2: median of the deviations
    d = F.col("dev_x2")
    p2 = doubled_median(d, p1)
    mad2 = (
        F.sum(F.when(F.col("__rn") == F.col("__lo_r"), d)).over(wn)
        + F.sum(F.when(F.col("__rn") == F.col("__hi_r"), d)).over(wn)
    ).alias("mad_x2")
    p2 = p2.withColumn("mad_x2", mad2).drop("__rn", "__lo_r", "__hi_r")
    flag = F.when(
        d.isNotNull(),
        (d * F.lit(2 * k_den)) > (F.col("mad_x2") * F.lit(k_num)),
    )
    return p2.withColumn(out_col, flag)


def reference_percentile(
    probe: DataFrame,
    ref: DataFrame,
    value_col: str,
    *,
    ref_value_col: str | None = None,
    group_by: Sequence[str] = (),
    out_col: str = "ref_pct_ppm",
) -> DataFrame:
    """Score normalization against a FROZEN reference distribution: for
    each probe row, the exact fraction of reference values <= its value,
    in floor-ppm — "where does this score sit against last month's
    epoch", the cross-table companion to :func:`rank_normalize` (which
    ranks a table against itself). The <= convention is pinned (a probe
    equal to a reference value includes it); NULL probe values emit NULL;
    groups with an empty reference emit NULL.

    Plan — the asof union-window device on the VALUE axis, not a join:
    reference rows and probe rows union with a side tag, ONE per-group
    sort window counts reference rows at-or-before each probe (reference
    ties sort before the probe), and the group's reference count rides a
    second frame of the same window. One union + one sort Exchange —
    never a per-probe scan of the reference (the naive correlated count
    is the oracle, not the plan).

    Scale: the reference shuffles once alongside the probes; at 100 TB
    probes vs a compact reference epoch this is the same cost class as
    the union-window as-of. Keyless (``group_by=()``) sorts ONE
    partition — the same bounded-frame caveat as keyless
    :func:`quantile_bin`; shard with ``group_by`` (or pre-bin with
    :func:`bin_by_cuts` cut points from the reference) for corpus-sized
    probes."""
    rv = ref_value_col or value_col
    if out_col in probe.columns:
        raise ValueError(f"reference_percentile: {out_col!r} already exists")
    reserved = {"__v", "__side", "__pid", "__cum_l", "__pfx", "__nref"}
    clash = reserved & set(probe.columns)
    if clash:
        raise ValueError(
            f"reference_percentile: probe columns {sorted(clash)} collide "
            "with reserved internal names — rename them first"
        )
    keys = list(group_by)
    r = ref.filter(F.col(rv).isNotNull()).select(
        *keys, F.col(rv).alias("__v"), F.lit(0).alias("__side")
    )
    p = probe.select(
        "*", F.col(value_col).alias("__v"), F.lit(1).alias("__side")
    )
    u = p.unionByName(r, allowMissingColumns=True)
    is_ref = F.when(F.col("__side") == 0, 1).otherwise(0)
    if not keys:
        # keyless: ONE sort window would serialize the whole union on a
        # single task (the documented caveat). Range-shard the VALUE axis
        # instead and stitch with a distributed prefix sum — bit-identical
        # cum / n_ref: equal (__v, __side) tuples land in one range
        # partition, refs at a boundary value sort into the earlier
        # partition and are counted by the prefix. This is also the
        # 100 TB-correct shape for a global normalization.
        sc = probe.sparkSession.sparkContext
        # the shard id MUST be materialized once: spark_partition_id is
        # nondeterministic and the range exchange samples its boundaries,
        # so two plan branches (rows + per-shard totals) could otherwise
        # see DIFFERENT pid assignments and mis-stitch the prefix sum
        # (observed as a wrong cum on ~1% of probes before this pin)
        u2 = (
            u.repartitionByRange(
                sc.defaultParallelism,
                F.col("__v").asc_nulls_last(), F.col("__side").asc(),
            )
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint()
        )
        wl = (
            Window.partitionBy("__pid")
            .orderBy(F.col("__v").asc_nulls_last(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        uw = u2.withColumn("__cum_l", F.sum(is_ref).over(wl))
        wp = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
        wt = Window.orderBy("__pid").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        psum = (
            u2.groupBy("__pid")
            .agg(F.sum(is_ref).alias("__p_ref"))
            .select(
                "__pid",
                F.coalesce(F.sum("__p_ref").over(wp), F.lit(0)).alias("__pfx"),
                F.sum("__p_ref").over(wt).alias("__nref"),
            )
        )
        u3 = uw.join(F.broadcast(psum), "__pid")
        cum = (F.col("__cum_l") + F.col("__pfx")).cast("decimal(38,0)")
        n_ref = F.col("__nref").cast("decimal(38,0)")
        pct = F.when(
            F.col("__v").isNotNull() & (n_ref > 0),
            exact_floor_div(cum * F.lit(1_000_000), n_ref),
        ).cast("bigint")
        return (
            u3.withColumn(out_col, pct)
            .filter(F.col("__side") == 1)
            .drop("__v", "__side", "__pid", "__cum_l", "__pfx", "__nref")
        )
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy(F.col("__v").asc_nulls_last(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy(*[F.col(k) for k in keys])
    cum = F.sum(is_ref).over(w).cast("decimal(38,0)")
    n_ref = F.sum(is_ref).over(wn).cast("decimal(38,0)")
    pct = F.when(
        F.col("__v").isNotNull() & (n_ref > 0),
        exact_floor_div(cum * F.lit(1_000_000), n_ref),
    ).cast("bigint")
    return (
        u.withColumn(out_col, pct)
        .filter(F.col("__side") == 1)
        .drop("__v", "__side")
    )


def quantile_match(
    probe: DataFrame,
    ref: DataFrame,
    value_col: str,
    *,
    ref_value_col: str | None = None,
    group_by: Sequence[str] = (),
    out_col: str = "matched_value",
) -> DataFrame:
    """Quantile-matching transform (quantile "normalization"): replace
    each probe value with the reference distribution's value at the SAME
    rank fraction — the distribution-shape transfer behind cross-epoch
    score calibration ("make this month's scores comparable to last
    month's grid"). Pinned exact semantics: a probe whose value sits
    at-or-above ``c`` of ``n_ref`` reference values maps to the
    reference order statistic at rank ``max(1, c)`` (probes below every
    reference value clamp to the reference minimum; NULL probes and
    empty-reference groups emit NULL).

    Plan: pass 1 is :func:`reference_percentile`'s union-window on the
    value axis carrying the exact cum-count; pass 2 indexes the
    reference by ``row_number`` and equi-joins on the rank — two sort
    Exchanges + one equi-join, never a per-probe reference scan.

    Ties in the reference: the order statistic at a rank is the same
    VALUE under any intra-tie order, so no tiebreak column is needed.

    Keyless (``group_by=()``) sorts ONE partition per pass — bounded
    frames only (the :func:`reference_percentile` caveat); shard with
    ``group_by`` for corpus-sized probes."""
    rv = ref_value_col or value_col
    if out_col in probe.columns:
        raise ValueError(f"quantile_match: {out_col!r} already exists")
    taken = {"__v", "__side", "__rank"} & set(probe.columns)
    if taken:
        # without this, a probe '__rank' would be silently replaced by the
        # internal rank and returned under the caller's column name
        raise ValueError(
            f"quantile_match: probe columns {sorted(taken)} collide with "
            "reserved internal names (__v, __side, __rank) — rename them"
        )
    keys = list(group_by)
    r = ref.filter(F.col(rv).isNotNull()).select(
        *keys, F.col(rv).alias("__v"), F.lit(0).alias("__side")
    )
    p = probe.select(
        "*", F.col(value_col).alias("__v"), F.lit(1).alias("__side")
    )
    u = p.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy(F.col("__v").asc_nulls_last(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy(*[F.col(k) for k in keys])
    is_ref = F.when(F.col("__side") == 0, 1).otherwise(0)
    cum = F.sum(is_ref).over(w).cast("long")
    n_ref = F.sum(is_ref).over(wn).cast("long")
    rank = F.when(
        F.col("__v").isNotNull() & (n_ref > 0),
        F.greatest(F.lit(1).cast("long"), cum),
    )
    probes = (
        u.withColumn("__rank", rank)
        .filter(F.col("__side") == 1)
        .drop("__v", "__side")
    )
    w_idx = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col("__v").asc()
    )
    indexed = r.withColumn("__rank", F.row_number().over(w_idx).cast("long"))
    payload = indexed.select(
        *[F.col(k).alias(f"__qm_k{i}") for i, k in enumerate(keys)],
        "__rank",
        F.col("__v").alias(out_col),
    )
    joined = probes.alias("__l").join(
        payload.alias("__r"),
        on=[
            F.col(f"__l.{k}").eqNullSafe(F.col(f"__r.__qm_k{i}"))
            for i, k in enumerate(keys)
        ]
        + [F.col(f"__l.__rank") == F.col("__r.__rank")],
        how="left",
    )
    return joined.select(
        *[F.col(f"__l.{c}") for c in probe.columns],
        F.col(f"__r.{out_col}").alias(out_col),
    )
