"""Mergeable summary sketches: KMV distinct-count and binned quantiles.

At 100 TB nobody re-scans the corpus to answer "how many distinct X" or
"what's the p99" — pipelines keep small, MERGEABLE per-partition/per-day
summaries and combine them. Spark's built-ins (``approx_count_distinct``
HLL++, ``percentile_approx``) do this JVM-side but are black boxes whose
exact outputs can't be reproduced by an independent engine, so they can't be
oracle-gated. These two sketches are deterministic by construction — every
output is reproducible from the input with integer arithmetic — while
keeping the mergeability that makes sketches useful:

``kmv_sketch`` / ``kmv_estimate`` / ``kmv_merge``
    K-minimum-values cardinality sketch (Bar-Yossef et al. 2002, public
    algorithm): hash every value to a uniform 63-bit integer, keep each
    group's ``k`` smallest DISTINCT hashes. If fewer than ``k`` exist the
    count is exact; otherwise the k-th smallest order statistic estimates
    the density: ``est = (k-1) * domain // h_k``. The sketch (a sorted
    ≤k-element array) is the stored artifact: sketches of two datasets
    merge by union+trim and the merged estimate equals the estimate of the
    union EXACTLY (property-tested) — the reason to store sketches instead
    of counts.

``histogram_counts`` / ``histogram_quantiles``
    Fixed-width binned quantiles: one combinable groupBy builds per-group
    bin counts (map-side partial aggregation — the shuffle carries
    O(groups × bins), never O(rows)); the quantile at percent ``p`` is the
    lowest bin whose cumulative count reaches the nearest-rank
    ``ceil(p·n/100)``, tested as the pure-integer predicate
    ``100·cum >= p·n``. Error is bounded by the bin width; histograms for
    disjoint datasets merge by adding counts.

Reference anchor: the reference has no sketching layer — its registry
tracks exact per-feature metadata (``materializer`` module); summaries over
10^12-row corpora are the capability a Spark user adds on top.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

# hashes land uniformly in [0, DOMAIN): xxhash64's sign bit is masked off
# (one bit of entropy traded for a clean non-negative integer domain)
DOMAIN = 1 << 63
_MASK = DOMAIN - 1


def kmv_sketch(
    df: DataFrame,
    cols: Sequence[str],
    group_by: Sequence[str] = (),
    k: int = 256,
    hash_col: Column | None = None,
) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest distinct 63-bit hashes of
    ``cols``, as a sorted ``array<bigint>`` column ``kmv``.

    ``hash_col`` overrides the default ``xxhash64 & (2^63-1)`` — it must be
    uniform on ``[0, DOMAIN)``; the gate query uses a SQL-expressible
    splitmix-style hash so DuckDB can recompute it, production uses the
    default.

    Scale shape: distinct-of-hashes (map-side partial dedup, shuffle carries
    distinct hashes only) → per-group sort-based top-k (external sort,
    spills; never a collect of the full distinct set) → ≤k-element arrays.
    """
    if k < 2:
        raise ValueError(f"kmv_sketch: k must be >= 2, got {k}")
    keys = list(group_by)
    h = hash_col if hash_col is not None else F.xxhash64(*cols).bitwiseAND(F.lit(_MASK))
    part = keys or [F.lit(1)]
    d = df.select(*keys, h.alias("__h")).distinct()
    w = W.partitionBy(*part).orderBy("__h")
    topk = d.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    gb = topk.groupBy(*keys) if keys else topk.groupBy()
    return gb.agg(F.array_sort(F.collect_list("__h")).alias("kmv"))


def kmv_estimate(sketch: Column | str, k: int, domain: int = DOMAIN) -> Column:
    """Distinct-count estimate from a KMV sketch column: exact ``|sketch|``
    when the group had fewer than ``k`` distinct values, else the order-
    statistic estimator ``floor((k-1) * domain / h_k)``.

    The division runs in IEEE doubles — deterministic and bit-identical
    across Spark / DuckDB / Python for the same integer inputs, which is
    what the oracle gate needs. ``(k-1)·domain`` is exactly representable
    (a small mantissa times 2^63); ``h_k`` rounds to nearest identically
    everywhere. (BIGINT can't hold (k-1)·2^63, and Spark's DECIMAL cast
    rounds HALF_UP rather than flooring, so exact integer division would
    cost a two-limb long-division dance for < 2^-52 relative error.)"""
    s = F.col(sketch) if isinstance(sketch, str) else sketch
    num = float((k - 1) * domain)
    kth = F.element_at(s, k).cast("double")
    return F.when(F.size(s) < k, F.size(s).cast("long")).otherwise(
        F.floor(F.lit(num) / kth).cast("long")
    )


def kmv_merge(a: Column | str, b: Column | str, k: int) -> Column:
    """Merge two KMV sketches: distinct-union, sort, keep the k smallest.
    ``estimate(merge(sk(A), sk(B))) == estimate(sk(A ∪ B))`` exactly."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.slice(F.array_sort(F.array_union(ca, cb)), 1, k)


def _kmv_or_empty(sketch: Column | str) -> Column:
    """NULL sketch arrays (e.g. from outer joins aligning per-day sketches)
    mean the empty set for the set-algebra estimators."""
    c = F.col(sketch) if isinstance(sketch, str) else sketch
    return F.coalesce(c, F.array().cast("array<bigint>"))


def kmv_overlap_estimate(
    a: Column | str, b: Column | str, k: int, domain: int = DOMAIN
) -> Column:
    """Distinct-INTERSECTION estimate from two KMV sketches — the sketch-
    level pre-flight for decontamination: estimate |train ∩ eval| distinct
    items from two ≤k arrays before paying for the exact n-gram semi-join
    (operators/contamination.py), or track cross-corpus overlap drift from
    stored sketches alone.

    Standard KMV set algebra (Beyer et al. 2007, public): let M be the
    merged sketch of A ∪ B (the k smallest union hashes). The fraction of
    M's members present in BOTH input sketches is an unbiased Jaccard
    estimate, so ``est_intersection = floor(|M ∩ A ∩ B| / |M| · est_union)``.
    Computed in IEEE doubles (deterministic and engine-identical for the
    same sketches, same argument as :func:`kmv_estimate`; a pure-BIGINT
    route would overflow at matches × est_union). EXACT when the UNION has
    fewer than k distinct values (then the merged sketch IS the union set;
    two individually-below-k sketches whose union reaches k still take the
    estimator path). NULL or empty sketch arrays mean the empty set —
    overlap 0, never NULL."""
    ca = _kmv_or_empty(a)
    cb = _kmv_or_empty(b)
    merged = kmv_merge(ca, cb, k)
    matches = F.size(F.array_intersect(F.array_intersect(merged, ca), cb))
    est_union = kmv_estimate(merged, k, domain)
    return F.when(F.size(merged) == 0, F.lit(0).cast("long")).otherwise(
        F.floor(
            matches.cast("double") * est_union.cast("double")
            / F.size(merged).cast("double")
        ).cast("long")
    )


def kmv_difference_estimate(
    a: Column | str, b: Column | str, k: int, domain: int = DOMAIN
) -> Column:
    """Distinct SET-DIFFERENCE estimate |A \\ B| from two KMV sketches —
    completes the sketch set algebra (union = :func:`kmv_merge` +
    :func:`kmv_estimate`, intersection = :func:`kmv_overlap_estimate`):
    the fraction of the merged sketch's members present in A but NOT in B
    scales the union estimate, same Beyer et al. 2007 argument and the
    same IEEE-double arithmetic. EXACT when the UNION has fewer than k
    distinct values (see :func:`kmv_overlap_estimate` for the precise
    regime); NULL/empty sketches mean the empty set (difference 0, never
    NULL). Use case: "how many training documents are NOT in yesterday's
    corpus" from stored per-day sketches alone."""
    ca = _kmv_or_empty(a)
    cb = _kmv_or_empty(b)
    merged = kmv_merge(ca, cb, k)
    only_a = F.size(F.array_except(F.array_intersect(merged, ca), cb))
    est_union = kmv_estimate(merged, k, domain)
    return F.when(F.size(merged) == 0, F.lit(0).cast("long")).otherwise(
        F.floor(
            only_a.cast("double") * est_union.cast("double")
            / F.size(merged).cast("double")
        ).cast("long")
    )


def _hash_positions(value: Column | str, n: int, depth: int) -> Column:
    """The depth hash positions of a value — CMS buckets and Bloom bits
    alike: row d uses ``xxhash64(d, value)`` (Spark's chained multi-arg
    hash — d as IntegerType seed stage), bucketed by pmod into [0, n), so
    the pure-Python fixture twin reproduces it exactly."""
    v = F.col(value) if isinstance(value, str) else value
    return F.array(
        *[
            F.pmod(F.xxhash64(F.lit(d).cast("int"), v), F.lit(n)).cast("int")
            for d in range(depth)
        ]
    )


def cms_sketch(
    df: DataFrame,
    value_col: str,
    group_by: Sequence[str] = (),
    width: int = 1024,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005, public) as a
    per-group counter table ``(group..., d, bucket, cnt)`` — the mergeable
    frequency summary completing the sketch family (KMV = cardinality,
    binned histogram = quantiles, CMS = point frequency).

    Each value increments one bucket per depth row (``xxhash64(d, value)``
    mod width — deterministic, reproducible by the pure-Python twin in
    scripts/make_fixtures.py). Point-frequency estimates (``cms_estimate``)
    take the MIN over rows: never an underestimate, overestimate bounded by
    collisions (ε ≈ e/width of the total count, with prob 1 − e^−depth).
    Sketches of disjoint data MERGE by unioning and summing cnt per
    (group, d, bucket) — the reason to store the counter table, not exact
    counts. ``weight_col`` makes it a weighted-count sketch (sums weights
    instead of counting rows).

    Scale shape: ONE combinable shuffle of O(groups × depth × width)
    counters max (map-side partial aggregation); rows never cross the wire
    individually. NULL values drop (they have no frequency).
    """
    if width < 2 or depth < 1:
        raise ValueError(f"cms_sketch: need width >= 2, depth >= 1; got {width}, {depth}")
    keys = list(group_by)
    w = F.count(F.lit(1)) if weight_col is None else F.sum(weight_col)
    ex = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.posexplode(_hash_positions(value_col, width, depth)).alias("d", "bucket"),
        *( [weight_col] if weight_col else [] ),
    )
    return ex.groupBy(*keys, "d", "bucket").agg(w.cast("long").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    value_col: str,
    group_by: Sequence[str] = (),
    width: int = 1024,
    depth: int = 4,
    broadcast: bool = True,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Point-frequency estimates from a CMS counter table: for each query
    row (group..., value), the min over depth rows of its bucket counts
    (missing bucket = 0). ``width``/``depth`` MUST match the sketch's.
    NULL query values drop — the sketch never counted them
    (:func:`cms_sketch` filters NULLs), so an estimate would be a lie built
    from the fixed hash-of-depth-index buckets. ``carry_cols`` are extra
    query columns passed through to the output (grouped alongside the
    value — avoids re-joining, and thus re-computing, the queries frame).

    The join is (group, d, bucket)-equi against the counter table — at most
    groups×depth×width rows. With FEW groups (langs, days, sources — the
    sketch's design point) that is broadcast-sized, so the lookup is
    map-side, never a shuffle of the corpus. With a HIGH-cardinality
    ``group_by`` (per-user, per-conversation) the counter table itself is
    big: pass ``broadcast=False`` to let the equi-join shuffle both sides
    on (group, d, bucket) instead of forcing an oversized broadcast."""
    keys = list(group_by)
    carry = list(carry_cols)
    ex = queries.filter(F.col(value_col).isNotNull()).select(
        *keys,
        value_col,
        *carry,
        F.posexplode(_hash_positions(value_col, width, depth)).alias("d", "bucket"),
    )
    rhs = F.broadcast(sketch) if broadcast else sketch
    j = ex.join(rhs, [*keys, "d", "bucket"], "left")
    return j.groupBy(*keys, value_col, *carry).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count")
    )


# one-bit masks indexed by (bit position + 1) via element_at — PySpark's
# shiftleft takes a Python-int shift amount, so a Column-valued shift must
# go through this 64-entry literal array. Bit 63 is the sign bit: its
# Java-long value is -(2^63), same bit pattern for bitwiseAND/bit_or
def _bit_mask(pos_mod_64: Column) -> Column:
    masks = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
            for i in range(64)
        ]
    )
    return F.element_at(masks, (pos_mod_64 + F.lit(1)).cast("int"))


def bloom_sketch(
    df: DataFrame,
    value_col: str,
    group_by: Sequence[str] = (),
    m_bits: int = 4096,
    depth: int = 3,
) -> DataFrame:
    """Bloom filter (Bloom 1970, public) as a per-group sparse bitmap table
    ``(group..., word, bits)`` — the mergeable MEMBERSHIP summary completing
    the sketch family (KMV = cardinality, histogram = quantiles, CMS =
    frequency, Bloom = membership). Deterministic by construction (bit d of
    a value is ``xxhash64(d, value) pmod m_bits``), so probes are
    oracle-reproducible — unlike Spark's builtin bloom_filter_agg whose
    serialized form can't be recomputed by an independent engine.

    ``word = position div 64``, ``bits`` = OR of ``1 << (position mod 64)``
    — ONE combinable shuffle of at most groups × m_bits/64 words (sparse:
    empty words never materialize). Sketches of disjoint data MERGE by
    unioning and OR-ing bits per (group, word). No false negatives;
    false-positive rate ≈ (1 − e^(−depth·n/m_bits))^depth.

    Use case at 100 TB: ship yesterday's corpus membership (m_bits/8 bytes
    per group) to the ingest job and drop already-seen documents map-side
    BEFORE any shuffle — the streaming/pre-pass complement of the exact
    dedup and contamination semi-joins. NULL values drop.
    """
    if m_bits < 64 or m_bits % 64:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    keys = list(group_by)
    ex = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.explode(_hash_positions(value_col, m_bits, depth)).alias("__pos"),
    )
    word = (F.col("__pos") / 64).cast("int")
    mask = _bit_mask(F.pmod(F.col("__pos"), F.lit(64)))
    return (
        ex.select(*keys, word.alias("word"), mask.alias("__m"))
        .groupBy(*keys, "word")
        .agg(F.bit_or("__m").alias("bits"))
    )


def _hash_positions_np(v, n: int, depth: int):
    """Vectorized NumPy replica of :func:`_hash_positions` for LongType
    values: ``pmod(xxhash64(int(d), long(v)), n)`` — the XxHash64
    int→long chain from functions/xxh64.py in uint64 array math (the
    per-value lane mix is shared across depths). Bit-equality with the JVM
    expression is pinned by tests/test_sketches.py::
    test_bloom_positions_np_matches_jvm. Returns ``(depth, len(v))`` int64."""
    import numpy as np

    from ..functions.xxh64 import _M, P1, P2, P3, P4, P5, xxh64_int

    u = np.uint64
    with np.errstate(over="ignore"):
        x = v.astype(np.uint64)
        lane = x * u(P2)
        lane = ((lane << u(31)) | (lane >> u(33))) * u(P1)
        out = np.empty((depth, len(v)), dtype=np.int64)
        for d in range(depth):
            seed = xxh64_int(d, 42)
            h = u((seed + P5 + 8) & _M) ^ lane
            h = ((h << u(27)) | (h >> u(37))) * u(P1) + u(P4)
            h ^= h >> u(33)
            h *= u(P2)
            h ^= h >> u(29)
            h *= u(P3)
            h ^= h >> u(32)
            # numpy % follows Python sign semantics: result is non-negative
            # for a positive modulus — exactly Spark's pmod
            out[d] = h.astype(np.int64) % n
    return out


def _sketch_probe(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    tables: dict,
    n: int,
    depth: int,
    hit,
) -> Column:
    """The one worker-side probe of the sketch family: a boolean Column,
    ``hit(table, P)`` for each row of ``df``, where ``table`` is the dense
    NumPy table that ``tables`` maps the row's group-key tuple to (a
    driver-collected dict, broadcast once) and ``P`` is the ``(depth, rows)``
    int64 array of the rows' :func:`_hash_positions` in ``[0, n)``. Rows
    whose group has no table get False.

    Positions reach the worker in one of two ways, chosen by key type.
    LongType keys ship ONLY the 8-byte key and :func:`_hash_positions_np`
    computes the positions in one uint64 vector pass; NULL keys are
    coalesced to 0 JVM-side so the batch keeps a clean int64 dtype (a null
    would turn the column into float64 and corrupt keys above 2^53) — the
    caller discards NULL rows. Every other type ships the JVM ``xxhash64``
    position array: ``xxhash64`` hashes each type its own way, and a
    NumPy replica over variable-length UTF-8 would be more code and slower
    on document text."""
    import numpy as np
    from pyspark.sql.types import LongType

    bc = df.sparkSession.sparkContext.broadcast(tables)
    n_keys = len(keys)
    long_key = isinstance(df.schema[value_col].dataType, LongType)

    @F.pandas_udf("boolean")
    def _probe(*cols):
        import pandas as pd

        tabs = bc.value
        vals = cols[-1]
        out = np.zeros(len(vals), dtype=bool)
        if len(vals) == 0 or not tabs:
            return pd.Series(out)
        if long_key:
            P = _hash_positions_np(vals.to_numpy(np.int64), n, depth)
        else:
            P = np.stack(vals.to_numpy(), axis=1).astype(np.int64)
        if n_keys == 0:
            arr = tabs.get(())
            if arr is not None:
                out = hit(arr, P)
        else:
            kf = pd.DataFrame({i: cols[i] for i in range(n_keys)})
            for kt, idx in kf.groupby(
                list(range(n_keys)), dropna=False, sort=False
            ).indices.items():
                arr = tabs.get(kt if n_keys > 1 else (kt,))
                if arr is not None:
                    out[idx] = hit(arr, P[:, idx])
        return pd.Series(out)

    v = F.col(value_col)
    pos = F.coalesce(v, F.lit(0).cast("long")) if long_key else _hash_positions(
        v, n, depth
    )
    return _probe(*[F.col(k) for k in keys], pos)


def bloom_contains(
    sketch: DataFrame,
    probes: DataFrame,
    value_col: str,
    group_by: Sequence[str] = (),
    m_bits: int = 4096,
    depth: int = 3,
    out_col: str = "maybe_present",
) -> DataFrame:
    """Membership probe against a :func:`bloom_sketch` table: adds
    ``out_col`` (boolean) — True iff ALL depth bit positions of the value
    are set (no false negatives; False is definitive absence).
    ``m_bits``/``depth`` MUST match the sketch's. NULL probe values, NULL
    group keys and probes for groups with no sketch get False (nothing was
    inserted).

    Shape: the sparse word table is a BOUNDED driver collect (≤ groups ×
    m_bits/64 rows — the bytes of the packed bitmaps) into per-group dense
    NumPy bitmaps, broadcast once; :func:`_sketch_probe` tests the bits of
    each probe row worker-side. The bitmap NEVER rides a join: packings
    joined onto the probe side copy the whole O(m_bits) structure into
    EVERY joined row, which at real sketch sizes dominates the probe scan
    by orders of magnitude."""
    import numpy as np

    keys = list(group_by)
    tbl = sketch.select(*keys, "word", "bits").toArrow()
    words = tbl.column("word").to_numpy(zero_copy_only=False)
    bits = tbl.column("bits").to_numpy(zero_copy_only=False)
    key_cols = [tbl.column(k).to_pylist() for k in keys]
    tables: dict = {}
    for i in range(len(words)):
        kt = tuple(kc[i] for kc in key_cols)
        if any(k is None for k in kt):
            # a NULL group key matches nothing, as in an equi-join
            continue
        arr = tables.get(kt)
        if arr is None:
            arr = tables[kt] = np.zeros(m_bits // 64, dtype=np.int64)
        arr[int(words[i])] |= int(bits[i])
    probe = _sketch_probe(
        probes, value_col, keys, tables, m_bits, depth,
        lambda arr, P: (((arr[P >> 6] >> (P & 63)) & 1) == 1).all(axis=0),
    )
    return probes.withColumn(
        out_col,
        F.when(F.col(value_col).isNull(), F.lit(False)).otherwise(
            F.coalesce(probe, F.lit(False))
        ),
    )


def histogram_counts(
    df: DataFrame,
    value_col: str,
    group_by: Sequence[str] = (),
    bin_width: float = 1.0,
    origin: float = 0.0,
) -> DataFrame:
    """Per-(group, bin) counts — the mergeable histogram summary. ONE
    combinable shuffle of O(groups × occupied bins). NULL values drop (they
    have no quantile position)."""
    if bin_width <= 0:
        raise ValueError(f"histogram_counts: bin_width must be > 0, got {bin_width}")
    keys = list(group_by)
    b = F.floor((F.col(value_col) - F.lit(float(origin))) / F.lit(float(bin_width)))
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    group_by: Sequence[str] = (),
    percents: Sequence[int] = (50, 90, 99),
    bin_width: float = 1.0,
    origin: float = 0.0,
) -> DataFrame:
    """Binned nearest-rank quantiles per group: for each percent ``p`` the
    LOWER EDGE of the first bin whose cumulative count reaches rank
    ``ceil(p·n/100)`` (pure-integer predicate ``100·cum >= p·n``). The true
    quantile lies within ``bin_width`` above the reported edge.

    Emits ``n`` (group row count) and one ``p<p>`` double column per
    percent. Cost: the histogram shuffle + one window over occupied bins —
    row count never crosses the wire.
    """
    for p in percents:
        if not (0 < int(p) <= 100):
            raise ValueError(f"histogram_quantiles: percent out of (0,100]: {p}")
    keys = list(group_by)
    part = keys or [F.lit(1)]
    counts = histogram_counts(df, value_col, group_by, bin_width, origin)
    w_cum = W.partitionBy(*part).orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy(*part)
    cum = counts.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    gb = cum.groupBy(*keys) if keys else cum.groupBy()
    return gb.agg(
        F.max("n").alias("n"),
        *[
            F.min(
                F.when(F.col("cum") * 100 >= F.col("n") * int(p), F.col("bin"))
            ).alias(f"__p{p}_bin")
            for p in percents
        ],
    ).select(
        *keys,
        "n",
        *[
            (F.lit(float(origin)) + F.col(f"__p{p}_bin") * F.lit(float(bin_width)))
            .alias(f"p{int(p)}")
            for p in percents
        ],
    )


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    *,
    min_share_ppm: int,
    width: int = 1024,
    depth: int = 4,
    sketch: DataFrame | None = None,
) -> DataFrame:
    """Exact frequent items above a share threshold, found WITHOUT
    shuffling the distinct-key space: the classic two-pass CMS-candidate
    scheme (Cormode & Muthukrishnan 2005; also the "frequent items" recipe
    in the Misra-Gries lineage — here the summary is the CMS because it is
    already the repo's deterministic frequency sketch).

    A value is a heavy hitter iff its exact count satisfies
    ``count * 1e6 >= min_share_ppm * n`` (n = non-NULL rows). Pass 1
    builds the CMS (ONE combinable shuffle of O(width x depth) counters),
    collected into a dense (depth, width) NumPy grid and broadcast once.
    Pass 2 probes every row MAP-SIDE with :func:`_sketch_probe` — the
    min over depth rows of the row's counters against the integer
    threshold ``ceil(ppm·n/1e6)``, for every key type. CMS never
    underestimates, so rows whose estimate clears the threshold are a
    guaranteed SUPERSET of the true heavy hitters — and only those
    candidate rows enter the exact groupBy. The final filter re-tests the
    EXACT count, so the output is exact regardless of sketch collisions.

    Why not :func:`~funcify_feature_eng_spark.operators.profiling.
    key_skew_report`? That one shuffles every distinct key (fine for
    top-k diagnostics); at 100 TB with billions of distinct keys this
    operator's shuffle carries candidates only — with a sane width the
    long tail never leaves the mappers (map-side partial aggregation
    bounds the candidate shuffle at candidates x partitions).

    Output: ``(value_col, n_count:bigint, n_total:bigint,
    share_ppm:bigint)`` — exact counts, exact floor ppm. Deterministic
    and oracle-reproducible (plain GROUP BY ... HAVING in any engine).
    NULLs drop (no frequency). ``min_share_ppm`` in [1, 1e6]; the ppm
    grid assumes n <= ~9e12 (LONG), the repo-wide convention.

    ``sketch`` optionally supplies a prebuilt counter table in the
    :func:`cms_sketch` shape ``(d, bucket, cnt)`` — same width/depth —
    skipping pass 1. This is how a STREAMING sketch feeds the same exact
    readout: ``streaming/runner.py::cms_monitor_stream`` maintains these
    counters live; hand its current state here with the same corpus and
    the output is still exact. The sketch MUST be the sketch of exactly
    ``df``'s rows (n_total and the candidate threshold both derive from
    its d=0 slice): a sketch of fewer rows can undercount a true heavy
    hitter out of the candidate set, one of more rows inflates the
    threshold — both directions can silently drop true heavy hitters.

    Reference anchor: no frequency tier in the reference (its registry is
    exact per-feature metadata, ``materializer`` module) — SURVEY §2
    extension beside cms_sketch.
    """
    import numpy as np

    from .util import exact_floor_div, spread_small_input

    if not (1 <= int(min_share_ppm) <= 1_000_000):
        raise ValueError(
            f"heavy_hitters: min_share_ppm must be in [1, 1e6], got {min_share_ppm}"
        )
    if width * depth > (1 << 22):
        raise ValueError(
            f"heavy_hitters: width*depth = {width * depth} exceeds the broadcast "
            "cap (1<<22 counters); a wider sketch should be a pre-aggregated table"
        )
    ppm = int(min_share_ppm)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sk = sketch if sketch is not None else cms_sketch(
        df, value_col, width=width, depth=depth
    )
    # the counters as a dense (depth, width) grid, collected ONCE (bounded
    # by the cap above); each value increments exactly one bucket per depth
    # row, so the d=0 slice sums to n — no second pass over the data
    tbl = sk.select("d", "bucket", "cnt").toArrow()
    d_a = tbl.column("d").to_numpy(zero_copy_only=False).astype(np.int64)
    b_a = tbl.column("bucket").to_numpy(zero_copy_only=False).astype(np.int64)
    c_a = tbl.column("cnt").to_numpy(zero_copy_only=False).astype(np.int64)
    cms = np.zeros((depth, width), dtype=np.int64)
    cms[d_a, b_a] = c_a
    n_tot = int(cms[0].sum())
    # ceil(ppm * n / 1e6): candidates must clear the integer threshold the
    # exact test uses
    thr = (n_tot * ppm + 999_999) // 1_000_000
    # hash by the value column: parallelizes the probe on few-split inputs
    # AND is reused by the exact groupBy right after (no-op at scale)
    v = F.col(value_col)
    nn = spread_small_input(
        df.filter(v.isNotNull()).select(v.alias(value_col)), value_col
    )
    est_clears = _sketch_probe(
        nn, value_col, (), {(): cms}, width, depth,
        lambda grid, P: np.take_along_axis(grid, P, axis=1).min(axis=0) >= thr,
    )
    cand = nn.filter(est_clears).select(
        v.alias(value_col), F.lit(n_tot).cast("long").alias("__tot")
    )
    return (
        cand.groupBy(value_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_count"),
            F.first("__tot").alias("n_total"),
        )
        # exact re-test on DECIMAL (count*1e6 and ppm*n both near-LONG)
        .filter(
            dec(F.col("n_count")) * F.lit(1_000_000)
            >= F.lit(ppm) * dec(F.col("n_total"))
        )
        .select(
            value_col,
            "n_count",
            "n_total",
            exact_floor_div(
                dec(F.col("n_count")) * F.lit(1_000_000), dec(F.col("n_total"))
            ).alias("share_ppm"),
        )
    )


def bloom_prefilter_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    *,
    how: str = "inner",
    m_bits: int = 1 << 20,
    depth: int = 3,
) -> DataFrame:
    """Equi-join with an explicit runtime row filter: build a
    :func:`bloom_sketch` of the RIGHT side's join keys, probe the LEFT
    side MAP-SIDE against the broadcast sketch, and shuffle only the rows
    that might match into the exact join. Bloom has no false negatives,
    so no matching row is lost; false positives are removed by the exact
    join — the OUTPUT equals ``left.join(right, on, how)`` exactly, only
    the shuffle volume changes.

    This is the 100 TB join pattern Spark's own runtime-bloom filter
    (spark.sql.optimizer.runtime.bloomFilter.enabled) applies opportunistically,
    made EXPLICIT and deterministic: when the left side is a wide fact
    table and the right side matches a small fraction of its keys, the
    left side's non-matching rows never leave the mappers. Worth it when
    |right keys| << |left rows| and the join would otherwise shuffle the
    full left side; useless when most left rows match (the probe keeps
    everything) — size ``m_bits >= ~10x`` the right key count for ~1% FP
    at depth 3.

    ``how`` is restricted to ``inner`` / ``semi`` (``left_semi``): an
    outer flavor must keep non-matching rows, which is exactly what the
    prefilter drops. Composite keys hash through one chained xxhash64
    column on both sides (the bloom is over the combined key). NULL keys
    never match an equi-join and the probe already maps them to False.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if not keys:
        raise ValueError("bloom_prefilter_join: empty join key list")
    hows = {"inner": "inner", "semi": "left_semi", "left_semi": "left_semi"}
    if how not in hows:
        raise ValueError(
            f"bloom_prefilter_join: how must be inner or semi (got {how!r}); "
            "outer joins must keep the rows a prefilter drops"
        )
    if len(keys) == 1:
        kcol = keys[0]
        lprobe, rbuild, probe_col, tmp = left, right, kcol, None
    else:
        # one combined hash key on both sides; NULL in any component makes
        # the equi-join false anyway, so hashing NULL-containing tuples to
        # a shared bucket costs only a (removed) false positive
        tmp = "__bpj_k"
        null_any = None
        for k in keys:
            c = F.col(k).isNull()
            null_any = c if null_any is None else (null_any | c)
        lprobe = left.withColumn(
            tmp, F.when(null_any, F.lit(None)).otherwise(F.xxhash64(*keys))
        )
        rbuild = right.withColumn(
            tmp, F.when(null_any, F.lit(None)).otherwise(F.xxhash64(*keys))
        )
        probe_col = tmp
    # the probe is a pure map chain over the fact side: on a few-split
    # input the scan, the Python probe and the filter would all run inside
    # ONE task — spread by the join key first (hash repartition, no sort;
    # no-op at scale where the fact side has more splits than cores)
    from .util import spread_small_input

    lprobe = spread_small_input(lprobe, keys[0] if len(keys) == 1 else tmp)
    sk = bloom_sketch(rbuild, probe_col, m_bits=m_bits, depth=depth)
    filt = bloom_contains(
        sk,
        lprobe,
        probe_col,
        m_bits=m_bits,
        depth=depth,
        out_col="__bpj_maybe",
    )
    pre = filt.filter(F.col("__bpj_maybe")).drop("__bpj_maybe")
    if tmp is not None:
        pre = pre.drop(tmp)
    return pre.join(right, keys, hows[how])
