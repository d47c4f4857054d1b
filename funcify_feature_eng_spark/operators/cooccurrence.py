"""Co-occurrence graphs + exact triangle / clustering-coefficient analytics.

"Which items appear together" is the other graph the pipeline needs beside
the dup graph (operators/graph.py): parts co-ordered in a basket, tools
co-invoked in a conversation, documents co-cited by a query. This module
builds the co-occurrence edge list and computes the classic local graph
features — degree, exact triangle count, clustering coefficient — with the
shapes that survive 100 TB:

- **Pairs are generated per group from a collected item set** (ONE shuffle
  onto group grain, map-side combined), never by a row-level self-join —
  and the per-group set is size-guarded BEFORE the quadratic pair
  expansion (``max_group``; error or documented skip), the same
  loud-before-quadratic posture as blocked_edit_pairs and the n-gram
  hot-gram cap.
- **One lazy item-set base** (``_item_sets``): edges, per-item counts and
  ``item_lift``'s group total all derive from the same per-group sets, so
  every count lives in the retained-groups universe. The call runs no job
  and holds no storage; a ``max_group`` overflow raises on action.
- **Triangle counting uses degree orientation** (each undirected edge is
  directed from its (degree, id)-smaller endpoint): every wedge is
  enumerated at its lowest-degree apex, so per-node fan-out is bounded by
  the oriented out-degree — O(sqrt(m)) on any graph (Suri & Vassilvitskii,
  WWW'11 "Counting Triangles and the Curse of the Last Reducer"). A plain
  neighbor-join would square the hottest node's degree; orientation is
  what kills that reducer.
- Everything is integer-exact: counts are longs, the clustering
  coefficient is an exact floor ppm (``2·tri·1e6 / (deg·(deg−1))``) on
  the repo-wide fixed-point grid — reproducible bit-for-bit by an
  independent engine.

Reference parity anchor: the reference has no graph tier at all (its
closest shape is per-entity batching, ``materializer/.../
BatchedDataElementCallable.kt``); this extends the graph family beside
connected components (SURVEY §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["co_occurrence_edges", "item_lift", "item_neighbors", "triangle_stats"]

_PPM = 1_000_000


def _item_sets(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group: int,
    on_oversize: str,
) -> DataFrame:
    """One ``(__g, __items)`` row per retained group, ``__items`` its sorted
    distinct non-NULL items — the base every co-occurrence output derives
    from."""
    if on_oversize not in ("error", "skip"):
        raise ValueError(f"on_oversize must be 'error'|'skip' (got {on_oversize!r})")
    from .util import spread_small_input

    g, i = F.col(group_col), F.col(item_col)
    # the per-group set build is an ObjectHashAggregate whose PARTIAL pass
    # runs on the scan splits — a single-split input serializes it on one
    # core (guide §6); pre-hash by the group key (exchange reused by the
    # groupBy, no-op at scale)
    grouped = (
        spread_small_input(
            df.filter(g.isNotNull() & i.isNotNull())
            .select(g.alias("__g"), i.alias("__i")),
            "__g",
        )
        .groupBy("__g")
        .agg(F.array_sort(F.collect_set("__i")).alias("__items"))
    )
    if on_oversize == "skip":
        grouped = grouped.filter(F.size("__items") <= F.lit(int(max_group)))
    return grouped


def _pair_counts(sets: DataFrame, min_count: int, max_group: int) -> DataFrame:
    """``(item_a, item_b, n_groups)`` over an :func:`_item_sets` base."""
    if min_count < 1:
        raise ValueError(f"co_occurrence_edges: min_count must be >= 1, got {min_count}")
    n = F.size("__items")
    # inline guard: evaluated before any pair expands, names the group. It
    # sits on the pair branch only: were the per-item counts guarded too,
    # two stages could fail at once, which surfaces as one unconverted
    # STAGE_MATERIALIZATION_MULTIPLE_FAILURES error.
    sets = sets.withColumn(
        "__items",
        F.when(n <= F.lit(int(max_group)), F.col("__items")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"co_occurrence_edges: group exceeds max_group="
                        f"{max_group} (pair expansion is size^2) — thin "
                        "upstream, raise max_group, or pass "
                        "on_oversize='skip'; offending group: "
                    ),
                    F.col("__g").cast("string"),
                    F.lit(" with "),
                    n.cast("string"),
                    F.lit(" items"),
                )
            )
        ),
    )
    # pair expansion as JVM HOFs over the sorted set: element x at index k
    # pairs with every later element — items are distinct and sorted, so
    # (x, y) is automatically canonical and unique within the group
    pairs = F.flatten(
        F.transform(
            F.col("__items"),
            lambda x, k: F.transform(
                F.slice(F.col("__items"), k + F.lit(2), F.size("__items")),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    exploded = sets.select(F.explode(pairs).alias("__p")).select(
        F.col("__p.item_a"), F.col("__p.item_b")
    )
    out = exploded.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups")
    )
    if min_count > 1:
        out = out.filter(F.col("n_groups") >= F.lit(int(min_count)))
    return out


def _item_counts(sets: DataFrame, item: str, n: str) -> DataFrame:
    """Per-item group counts ``(<item>, <n>)`` over an :func:`_item_sets` base."""
    return (
        sets.select(F.explode("__items").alias(item))
        .groupBy(item)
        .agg(F.count(F.lit(1)).cast("bigint").alias(n))
    )


def co_occurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    min_count: int = 1,
    max_group: int = 1_000,
    on_oversize: str = "error",
) -> DataFrame:
    """Undirected co-occurrence edges ``(item_a, item_b, n_groups)``:
    distinct item pairs sharing a group, with the number of distinct groups
    both appear in. ``item_a < item_b`` canonical ordering; duplicate
    (group, item) rows collapse first (collect_set), so a basket listing
    the same part twice counts once. NULL group/item rows are excluded.

    ``min_count`` keeps only pairs co-occurring in at least that many
    groups — the standard thinning knob that turns a hairball into a
    signal graph. ``on_oversize``: ``"error"`` (default) raises on a group
    with more than ``max_group`` distinct items (its pair expansion is
    size²); ``"skip"`` drops oversized groups whole — documented
    degradation, never a silent quadratic.
    """
    sets = _item_sets(df, group_col, item_col, max_group, on_oversize)
    return _pair_counts(sets, min_count, max_group)


def item_neighbors(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    k: int = 10,
    min_count: int = 1,
    max_group: int = 1_000,
    on_oversize: str = "error",
) -> DataFrame:
    """Top-``k`` most-similar items per item — the "users who bought X also
    bought Y" co-occurrence recommender, integer-exact.

    Similarity is cosine over the binary group-incidence vectors,
    ``cos(i,j) = n_both / sqrt(n_i · n_j)``, carried as the exact integer
    ``cosine2_ppm = floor(n_both² · 1e6 / (n_i · n_j))`` (squared cosine on
    the repo-wide fixed-point ppm grid — the square is monotone in the
    cosine, so ranks are identical and no transcendental sqrt enters the
    result). Neighbors rank by ``(cosine2_ppm DESC, n_both DESC, neighbor
    ASC)`` — fully tie-broken, reproducible bit-for-bit.

    Output: ``(item, neighbor, n_both:bigint, n_item:bigint,
    n_neighbor:bigint, cosine2_ppm:bigint, rank:int)``, ``rank`` 1..k.

    Physical shape: lazy — the call runs no job and holds no storage; a
    ``max_group`` overflow surfaces when the result is acted on. The edge
    list and the per-item group counts are both derived from ONE per-group
    item-set base (one shuffle onto group grain, size-guarded pair
    expansion — never a row-level self-join); the symmetric view is one
    two-row explode per edge (not a re-expansion per direction); top-k is
    a row_number window on item grain. At 100 TB the cost is the edge
    list's — counts and the window add O(items) and O(edges·2).
    """
    if k < 1:
        raise ValueError(f"item_neighbors: k must be >= 1, got {k}")
    from pyspark.sql import Window

    from .util import exact_floor_div

    sets = _item_sets(df, group_col, item_col, max_group, on_oversize)
    edges = _pair_counts(sets, min_count, max_group)
    cnt = _item_counts(sets, "item", "n_item")
    # both directions from ONE pass over the edges: a union of two selects
    # would expand the pairs (and raise an oversize group) once per side
    a, b = F.col("item_a"), F.col("item_b")
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(a.alias("item"), b.alias("neighbor")),
                F.struct(b.alias("item"), a.alias("neighbor")),
            )
        ).alias("__d"),
        F.col("n_groups").alias("n_both"),
    ).select("__d.item", "__d.neighbor", "n_both")
    scored = (
        sym.join(cnt, on="item")
        .join(
            cnt.select(
                F.col("item").alias("neighbor"), F.col("n_item").alias("n_neighbor")
            ),
            on="neighbor",
        )
        .withColumn(
            # cast each factor BEFORE multiplying: n_both² · 1e6 in LONG
            # would silently wrap past n_both ≈ 3e6 under non-ANSI
            # arithmetic (n_i · n_j likewise) — DECIMAL(38) holds ~1e24
            # comfortably
            "cosine2_ppm",
            exact_floor_div(
                F.col("n_both").cast("decimal(38,0)")
                * F.col("n_both").cast("decimal(38,0)")
                * F.lit(_PPM).cast("decimal(38,0)"),
                F.col("n_item").cast("decimal(38,0)")
                * F.col("n_neighbor").cast("decimal(38,0)"),
            ),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cosine2_ppm").desc(), F.col("n_both").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= F.lit(int(k)))
        .select(
            "item", "neighbor", "n_both", "n_item", "n_neighbor",
            "cosine2_ppm", "rank",
        )
    )


def triangle_stats(
    edges: DataFrame,
    src: str = "item_a",
    dst: str = "item_b",
) -> DataFrame:
    """Per-node ``(node, degree, triangles, clustering_ppm)`` over an
    undirected simple graph given as an edge list (any orientation;
    duplicates, reversals, and self-loops are canonicalized away first).

    ``triangles`` = exact triangles through the node; ``clustering_ppm`` =
    ``floor(2·triangles·1e6 / (degree·(degree−1)))`` — the local
    clustering coefficient on the integer ppm grid, NULL for degree < 2
    (undefined, not 0: a degree-1 node has no wedge to close).

    Wedges enumerate at the (degree, id)-smallest endpoint of each edge —
    the degree-orientation bound (module doc) that keeps the hottest
    node's fan-out O(sqrt(m)).
    """
    from .util import exact_floor_div, release

    s, d = F.col(src), F.col(dst)
    # the canonical edge set is referenced by THREE consumers (degree,
    # orientation, wedge closing) and the degree table by three more; left
    # lazy, each reference would replay the caller's whole edge pipeline
    # (e.g. the co-occurrence expansion) — eager localCheckpoint once,
    # release before returning (the dedup-family convention, see
    # operators/dedup.py): what survives is the node-grain output,
    # itself checkpointed so it never re-derives the released bases.
    canon = (
        edges.filter(s.isNotNull() & d.isNotNull() & (s != d))
        .select(F.least(s, d).alias("u"), F.greatest(s, d).alias("v"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        canon.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .localCheckpoint()
    )
    # orient each edge from its (degree, id)-smaller endpoint
    e = (
        canon.join(deg.withColumnRenamed("node", "u"), on="u")
        .withColumnRenamed("degree", "__du")
        .join(deg.withColumnRenamed("node", "v"), on="v")
        .withColumnRenamed("degree", "__dv")
        .select(
            F.when(
                (F.col("__du") < F.col("__dv"))
                | ((F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("lo"), F.col("v").alias("hi")),
            )
            .otherwise(F.struct(F.col("v").alias("lo"), F.col("u").alias("hi")))
            .alias("__e")
        )
        .select(F.col("__e.lo").alias("apex"), F.col("__e.hi").alias("leaf"))
    )
    # wedges at the apex: pairs of out-neighbors; close them against the
    # canonical undirected edge set
    a = e.select(F.col("apex"), F.col("leaf").alias("__x"))
    b = e.select(F.col("apex"), F.col("leaf").alias("__y"))
    wedges = a.join(b, on="apex").filter(F.col("__x") < F.col("__y"))
    tri = wedges.join(
        canon.select(F.col("u").alias("__x"), F.col("v").alias("__y")),
        on=["__x", "__y"],
        how="inner",
    )
    per_node = (
        tri.select(
            F.explode(F.array("apex", "__x", "__y")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    out = deg.join(per_node, on="node", how="left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0).cast("bigint")).alias("triangles"),
    )
    two_tri_ppm = (F.col("triangles") * F.lit(2 * _PPM)).cast("decimal(38,0)")
    wedge_cnt = (F.col("degree") * (F.col("degree") - 1)).cast("decimal(38,0)")
    out = out.withColumn(
        "clustering_ppm",
        F.when(
            F.col("degree") >= 2, exact_floor_div(two_tri_ppm, wedge_cnt)
        ),
    ).localCheckpoint()
    release(canon)
    release(deg)
    return out


def item_lift(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    min_count: int = 1,
    max_group: int = 1_000,
    on_oversize: str = "error",
) -> DataFrame:
    """Exact association strength per co-occurring pair: **lift** and
    **Jaccard**, both on the repo-wide integer ppm grid.

    ``lift(a,b) = P(a,b) / (P(a)·P(b)) = n_both·N / (n_a·n_b)`` where N is
    the number of distinct non-NULL groups (with ``on_oversize="skip"``,
    every count is over the retained groups only). Lift > 1 means the pair
    co-occurs more than independence predicts; it is the market-basket
    association measure, and ``log(lift)`` IS pointwise mutual information
    — so ranking by ``lift_ppm`` ranks by PMI with no transcendental in
    the result. ``jaccard_ppm = n_both·1e6 / (n_a + n_b − n_both)`` is the
    set-overlap companion. Both carried as exact floor ppm on
    DECIMAL(38,0) intermediates (n_both·N·1e6 overflows LONG past
    ~3e6-group corpora; decimal holds ~1e38).

    Output: ``(item_a, item_b, n_both:bigint, n_a:bigint, n_b:bigint,
    n_groups_total:bigint, lift_ppm:bigint, jaccard_ppm:bigint)`` with the
    canonical ``item_a < item_b`` ordering inherited from
    :func:`co_occurrence_edges`.

    Physical shape: lazy — the call runs no job and holds no storage; a
    ``max_group`` overflow surfaces when the result is acted on. The edge
    list (size-guarded per-group pair expansion), the per-item counts and
    N all derive from ONE per-group item-set base; N is its row count, a
    ONE-ROW aggregate attached by broadcast crossJoin (no collect). At
    100 TB the cost is the edge list's — everything after is O(edges)
    map-side.

    Reference parity anchor: no graph/association tier in the reference
    (closest: per-entity batching, ``materializer/.../
    BatchedDataElementCallable.kt``) — SURVEY §2 extension beside
    item_neighbors.
    """
    from .util import exact_floor_div

    sets = _item_sets(df, group_col, item_col, max_group, on_oversize)
    edges = _pair_counts(sets, min_count, max_group)
    cnt = _item_counts(sets, "__item", "__n")
    total = sets.agg(F.count(F.lit(1)).cast("bigint").alias("n_groups_total"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return (
        edges.join(
            cnt.select(F.col("__item").alias("item_a"), F.col("__n").alias("n_a")),
            on="item_a",
        )
        .join(
            cnt.select(F.col("__item").alias("item_b"), F.col("__n").alias("n_b")),
            on="item_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "item_a",
            "item_b",
            F.col("n_groups").alias("n_both"),
            "n_a",
            "n_b",
            "n_groups_total",
        )
        .withColumn(
            "lift_ppm",
            exact_floor_div(
                dec(F.col("n_both"))
                * dec(F.col("n_groups_total"))
                * dec(F.lit(_PPM)),
                dec(F.col("n_a")) * dec(F.col("n_b")),
            ),
        )
        .withColumn(
            "jaccard_ppm",
            exact_floor_div(
                dec(F.col("n_both")) * dec(F.lit(_PPM)),
                dec(F.col("n_a") + F.col("n_b") - F.col("n_both")),
            ),
        )
    )
