"""Distributed connected components — dup-cluster assembly for dedup.

Near-dup detection (MinHash/SimHash) emits PAIRS; retention policies need
CLUSTERS (keep one representative per connected component of the dup graph).

Algorithm: minimum-label propagation with POINTER JUMPING (path doubling) —
each round first takes the neighbor minimum (one propagation hop), then
shortcuts every label through the label table itself (``comp <- label(comp)``,
the Shiloach–Vishkin contraction step). The shortcut squares the distance a
label travels per round, so convergence is O(log diameter) rounds instead of
the O(diameter) of plain propagation — a 1M-hop boilerplate chain (real at
web-corpus scale with low thresholds) finishes in ~20 rounds, not 1M. This is
the same bound the alternating small-star/large-star scheme achieves (Kiveris
et al., "Connected Components in MapReduce and Beyond", SOCC'14) with a
simpler invariant: ``label(x) <= x`` always, labels are always node ids.

Each round is a bounded number of shuffles on node id; convergence is a
driver-side count of changed labels (O(1) per round, never a data collect).
Every round's label table is ``localCheckpoint``-ed (eager) to truncate the
lazy lineage — and the PREVIOUS round's checkpoint is released by its own
handle (``util.release``), so a long-lived session (driver gate, bench loop)
neither accumulates executor storage across rounds or calls nor loses
checkpoints that other work in the session owns. Hitting ``max_iters``
without convergence raises by default (silent wrong labels would make
downstream retention over-keep duplicates undetected).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import release


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 25,
    on_nonconverged: str = "raise",
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """(node, component) for every node appearing in an edge with two
    non-NULL endpoints; the component id is the MINIMUM node id in the
    component (canonical, deterministic).

    **Small-graph fast path**: when the (symmetrized, distinct) edge count
    is ≤ ``driver_threshold``, the edges are collected and labeled with a
    driver-side union–find (path compression + union-by-min) — O(E·α)
    in milliseconds, versus O(log diameter) distributed rounds whose cost
    at small scale is pure stage latency. 10^6 edges is ~16 MB on the
    driver — the same legitimacy class as IVF centroid init. Dup graphs
    are usually SMALL even when the corpus is huge (pairs survive LSH +
    verification); the distributed pointer-jumping loop remains the path
    for genuinely large graphs and is what the chain/convergence tests
    pin (they pass ``driver_threshold=0``).

    ``max_iters`` bounds distributed rounds; with pointer jumping the
    requirement is ~log2(diameter) + 2, so the default 25 covers any graph
    whose diameter fits in a long. If the loop still exits with changes
    pending, ``on_nonconverged`` decides: ``"raise"`` (default —
    unconverged labels are silently-wrong data) or ``"warn"`` (return the
    partial labels and emit a loud warning).
    """
    spark = edges.sparkSession
    s, d = F.col(src), F.col(dst)
    # an edge with a NULL endpoint drops (the pagerank / label_propagation
    # rule); self-loops stay, so an isolated self-looped node is reported
    kept = edges.filter(s.isNotNull() & d.isNotNull())
    sym = (
        kept.select(s.alias("a"), d.alias("b"))
        .unionByName(kept.select(d.alias("a"), s.alias("b")))
        .distinct()
        .persist()
    )
    # localCheckpoint materializes via the RDD path, which hides the (often
    # tiny) label table from AQE's runtime partition coalescing — so every
    # per-round join would shuffle to the session's full partition count no
    # matter how small the graph. Size the loop's shuffle partitioning from
    # the measured edge count instead (the count also forces sym's persist),
    # and restore the session conf afterwards. At web scale the edge count
    # keeps this at the session default; on a small dup graph the rounds
    # become a handful of single-task stages instead of 32-task barriers.
    n_edges = sym.count()
    if n_edges <= driver_threshold:
        try:
            # the id type of the endpoint union, as the distributed path
            return _cc_driver_union_find(spark, sym, sym.schema["a"].dataType)
        finally:
            sym.unpersist()
    try:
        session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:  # e.g. "auto" under some AQE configurations
        session_parts = spark.sparkContext.defaultParallelism
    # right-size the per-round shuffles from the measured edge count
    # (localCheckpoint hides tables from AQE coalescing, so without this a
    # 500-row dup graph would run 32-task barrier stages every round). The
    # count is applied with EXPLICIT repartition(loop_parts, key) inside the
    # loop — never by mutating the session-global shuffle-partition conf,
    # which would silently shrink any concurrent query (e.g. a running
    # stream) sharing this SparkSession.
    loop_parts = max(1, min(session_parts, n_edges // 50_000 + 1))
    try:
        return _cc_loop(sym, max_iters, on_nonconverged, loop_parts)
    finally:
        sym.unpersist()


def _cc_driver_union_find(spark, sym, id_type):
    """Driver-side union–find over a collected small edge set: path
    compression + union-by-min gives the same canonical min-id labels as
    the distributed loop (value-identical — shared gate oracle)."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    # one collect job — the row count is bounded by driver_threshold
    for row in sym.collect():
        a, b = row["a"], row["b"]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union-by-min keeps the canonical label invariant directly
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    rows = [(n, find(n)) for n in parent]
    schema = StructType([
        StructField("node", id_type), StructField("comp", id_type)
    ])
    return spark.createDataFrame(rows, schema)


def _cc_loop(sym, max_iters, on_nonconverged, loop_parts):
    # every shuffle boundary in the loop is pinned to loop_parts by an
    # explicit repartition ON THE UPCOMING KEY: the join/agg then finds its
    # required hash partitioning already satisfied, so no second exchange is
    # added and partial aggregation still runs per partition
    labels = (
        sym.select(F.col("a").alias("node"))
        .repartition(loop_parts, "node")
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    changed = -1
    for _ in range(max_iters):
        # 1) propagation hop: node <- min(comp over neighbors ∪ self)
        nbr = (
            sym.repartition(loop_parts, "b")
            .join(labels.withColumnRenamed("node", "b").repartition(loop_parts, "b"), on="b")
            .repartition(loop_parts, "a")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        prop = (
            labels.repartition(loop_parts, "node")
            .join(nbr, on="node", how="left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
                F.col("comp").alias("old_comp"),
            )
        )
        # 2) pointer jumping: comp <- label(comp). comp is always a node id
        # (labels are minima over node ids) and label(x) <= x, so the lookup
        # self-join both always hits and only ever decreases the label —
        # doubling the propagation distance covered per round.
        lookup = prop.select(
            F.col("node").alias("comp"), F.col("comp").alias("comp2")
        ).repartition(loop_parts, "comp")
        # carry the pre-round label through the join so convergence is a
        # flag count on the (already materialized) checkpoint — one job per
        # round, not a second label-vs-label join job
        new_labels = (
            prop.repartition(loop_parts, "comp")
            .join(lookup, on="comp", how="left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("comp2", "comp")).alias("comp"),
                F.col("old_comp"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("comp") != F.col("old_comp")).count()
        # the superseded round's checkpoint is dead — release it now
        release(labels)
        labels = new_labels.drop("old_comp")
        if changed == 0:
            break
    if changed != 0:
        msg = (
            f"connected_components did not converge within max_iters={max_iters} "
            f"({changed} labels still changing) — component ids are WRONG; "
            "raise max_iters (rounds needed ≈ log2(graph diameter) + 2)"
        )
        if on_nonconverged == "warn":
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
        else:
            raise RuntimeError(msg)
    return labels


def keep_best_per_cluster(
    docs: DataFrame,
    components: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Retention policy: within each dup cluster keep the highest-quality
    document (ties break on the smaller id); singletons (docs with no dup
    pair) are kept as-is. Returns the surviving rows of ``docs``."""
    joined = docs.join(
        components.withColumnRenamed("node", id_col), on=id_col, how="left"
    )
    grp = F.coalesce(F.col("comp"), F.col(id_col))
    best = (
        joined.withColumn("__grp", grp)
        .groupBy("__grp")
        .agg(
            F.max_by(
                F.col(id_col),
                F.struct(F.col(quality_col).alias("q"), (-F.col(id_col)).alias("nid")),
            ).alias("__keep")
        )
    )
    return (
        joined.withColumn("__grp", grp)
        .join(best, on="__grp")
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__grp", "__keep", "comp")
    )


def _integer_id_type(dt) -> bool:
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    return isinstance(dt, (ByteType, ShortType, IntegerType, LongType))


def _pagerank_schema(id_type):
    from pyspark.sql.types import LongType, StructField, StructType

    return StructType([
        StructField("node", id_type),
        StructField("rank_e12", LongType(), False),
        StructField("out_degree", LongType(), False),
    ])


def _pagerank_driver(spark, e, id_type, n_iters, num, den):
    """Driver-side exact replay of the pinned fixed-point PageRank fold
    over a collected small edge set, in NumPy int64. Ranks never exceed
    the total mass 1e12, so every product stays under 2^63 when
    num·1e12 and den·max(outdeg) do; per-node contribution sums stay
    under the mass. When either product would not fit (a user-supplied
    damping fraction with huge terms), returns None so the caller runs
    the DECIMAL(38) distributed loop instead of wrapping silently. Same
    canonical outputs as the distributed loop — pinned by
    tests/test_pagerank.py::test_driver_fast_path_equals_distributed."""
    import numpy as np
    import pandas as pd

    e12 = 10**12
    i64_max = np.iinfo(np.int64).max
    if num * e12 > i64_max:
        return None
    ep = e.toPandas()
    s = ep["s"].to_numpy(np.int64)
    d = ep["d"].to_numpy(np.int64)
    nodes = np.unique(np.concatenate([s, d]))
    n = len(nodes)
    s_idx = np.searchsorted(nodes, s)
    d_idx = np.searchsorted(nodes, d)
    outdeg = np.bincount(s_idx, minlength=n).astype(np.int64)
    if den * int(outdeg.max()) > i64_max:
        return None
    base = ((den - num) * e12) // (den * n)
    r = np.full(n, e12 // n, dtype=np.int64)
    order = np.argsort(d_idx, kind="stable")
    ds, ss = d_idx[order], s_idx[order]
    den_out = den * outdeg[ss]
    seg_starts = np.flatnonzero(np.r_[True, ds[1:] != ds[:-1]])
    seg_nodes = ds[seg_starts]
    for _ in range(int(n_iters)):
        contrib = (num * r[ss]) // den_out
        sums = np.add.reduceat(contrib, seg_starts)
        r = np.full(n, base, dtype=np.int64)
        r[seg_nodes] += sums
    out = pd.DataFrame({"node": nodes, "rank_e12": r, "out_degree": outdeg})
    return spark.createDataFrame(out, _pagerank_schema(id_type))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    n_iters: int = 10,
    damping_num: int = 85,
    damping_den: int = 100,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """PageRank with PINNED integer fixed-point semantics — reproducible
    bit-for-bit by any engine (the Kaplan-Meier posture applied to an
    iterative algorithm; floats would drift across libm/summation orders).

    Semantics (the cross-engine contract):

    - Directed simple graph: NULL endpoints and self-loops drop, duplicate
      (src, dst) edges collapse. Nodes = union of endpoints.
    - ``r_0(v) = floor(1e12 / N)`` on the 1e-12 fixed-point grid.
    - ``r_{k+1}(v) = floor((den-num)·1e12 / (den·N)) + sum over in-edges
      (u,v) of floor(num·r_k(u) / (den·outdeg(u)))`` — every division is
      an integer floor, every sum exact.
    - Dangling mass is NOT redistributed (the standard "lost mass"
      simplification, pinned: ranks need not sum to 1e12). Exactly
      ``n_iters`` iterations run — no float convergence test.

    Output: ``(node, rank_e12:bigint, out_degree:bigint)``.

    Physical shape: the edge set joins out-degrees ONCE and is eagerly
    checkpointed; each iteration is one join (ranks onto edge sources) +
    one aggregate (contributions onto destinations) + one left join back
    onto the static node table — O(n_iters) shuffles total, each
    superseded round released by handle as the next one is checkpointed
    (the connected_components loop discipline). Per-step products stay in
    DECIMAL(38): num·r ≤ 8.5e13 but den·outdeg can reach den·N.
    """
    if n_iters < 1:
        raise ValueError(f"pagerank: n_iters must be >= 1, got {n_iters}")
    if not (0 < damping_num < damping_den):
        raise ValueError(
            f"pagerank: need 0 < damping_num < damping_den, got "
            f"{damping_num}/{damping_den}"
        )
    from .util import exact_floor_div

    spark = edges.sparkSession
    s, d = F.col(src), F.col(dst)
    e = (
        edges.filter(s.isNotNull() & d.isNotNull() & (s != d))
        .select(s.alias("s"), d.alias("d"))
        .distinct()
        .localCheckpoint()
    )
    # small-graph fast path (the connected_components posture): thinned
    # similarity/co-occurrence graphs are usually tiny even when the
    # corpus is not, and 8-10 distributed rounds of join+agg+join are
    # pure stage latency there. ≤1e6 collected edges is ~16 MB on the
    # driver; the NumPy replay is bit-exact (see _pagerank_driver) and
    # the distributed loop below remains the genuinely-large-graph path
    # (tests pin it via driver_threshold=0).
    m_edges = e.count()
    endpoints = e.select(F.col("s").alias("node")).unionByName(
        e.select(F.col("d").alias("node"))
    )
    # the id type of the endpoint union, as the distributed path
    id_type = endpoints.schema["node"].dataType
    if m_edges == 0:
        # empty graph: empty frame with the declared schema, e released
        release(e)
        return spark.createDataFrame([], _pagerank_schema(id_type))
    if m_edges <= driver_threshold and _integer_id_type(id_type):
        try:
            ranked = _pagerank_driver(
                spark, e, id_type, n_iters, damping_num, damping_den
            )
        except BaseException:
            release(e)
            raise
        if ranked is not None:
            release(e)
            return ranked
    nodes = endpoints.distinct().localCheckpoint()
    n = nodes.count()
    outdeg = e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("out_degree")
    )
    # static per-iteration inputs: edges with the source's out-degree, and
    # the node table with degree attached — checkpoint once
    ed = (
        e.join(outdeg.withColumnRenamed("node", "s"), on="s")
        .localCheckpoint()
    )
    node_deg = (
        nodes.join(outdeg, on="node", how="left")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0).cast("bigint")).alias("out_degree"),
        )
        .localCheckpoint()
    )
    release(e)
    release(nodes)

    e12 = 10**12
    base = ((damping_den - damping_num) * e12) // (damping_den * n)
    ranks = node_deg.select(
        "node", F.lit(e12 // n).cast("bigint").alias("rank_e12")
    ).localCheckpoint()
    for _ in range(int(n_iters)):
        contribs = (
            ed.join(ranks.withColumnRenamed("node", "s"), on="s")
            .select(
                F.col("d").alias("node"),
                exact_floor_div(
                    F.lit(damping_num).cast("decimal(38,0)")
                    * F.col("rank_e12").cast("decimal(38,0)"),
                    F.lit(damping_den).cast("decimal(38,0)")
                    * F.col("out_degree").cast("decimal(38,0)"),
                ).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").cast("bigint").alias("__in"))
        )
        prev, ranks = ranks, (
            node_deg.select("node")
            .join(contribs, on="node", how="left")
            .select(
                "node",
                (
                    F.lit(base).cast("bigint")
                    + F.coalesce(F.col("__in"), F.lit(0).cast("bigint"))
                ).alias("rank_e12"),
            )
            .localCheckpoint()
        )
        release(prev)
    # checkpointed once more because node_deg is released below
    out = ranks.join(node_deg, on="node").select(
        "node", "rank_e12", "out_degree"
    ).localCheckpoint()
    release(ranks)
    release(ed)
    release(node_deg)
    return out


def _label_propagation_driver(spark, e, id_type, n_iters):
    """Driver-side exact replay of the pinned synchronous LPA fold over a
    collected small symmetrized edge set. Dense node indices are assigned
    in sorted-id order, so index comparisons reproduce the id-order
    smallest-label tie-break bit-for-bit; the per-node argmax is
    (count DESC, label ASC), identical to the distributed
    min(struct(-cnt, label)). Pinned by tests/test_pagerank.py::
    test_lpa_driver_fast_path_equals_distributed."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    ep = e.toPandas()
    s = ep["s"].to_numpy(np.int64)
    d = ep["d"].to_numpy(np.int64)
    nodes = np.unique(np.concatenate([s, d]))
    n = len(nodes)
    s_idx = np.searchsorted(nodes, s)
    d_idx = np.searchsorted(nodes, d)
    lab = np.arange(n, dtype=np.int64)
    for _ in range(int(n_iters)):
        key = d_idx * np.int64(n) + lab[s_idx]
        uk, cnt = np.unique(key, return_counts=True)
        vn, vl = uk // n, uk % n
        order = np.lexsort((vl, -cnt, vn))
        vn_o = vn[order]
        first = np.flatnonzero(np.r_[True, vn_o[1:] != vn_o[:-1]])
        new_lab = np.empty(n, dtype=np.int64)
        # symmetrized graph: every node has >= 1 in-edge, so every node
        # receives votes and new_lab is fully assigned
        new_lab[vn_o[first]] = vl[order][first]
        lab = new_lab
    out = pd.DataFrame({"node": nodes, "label": nodes[lab]})
    schema = StructType([
        StructField("node", id_type), StructField("label", id_type)
    ])
    return spark.createDataFrame(out, schema)


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    n_iters: int = 3,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Community detection by synchronous label propagation with PINNED
    deterministic semantics (the :func:`pagerank` posture: classic LPA
    breaks ties randomly and is run-order dependent — useless as a
    cross-engine contract):

    - Undirected simple graph: the edge set is symmetrized, NULL
      endpoints and self-loops drop, duplicates collapse. Nodes = union
      of endpoints; node ids must be orderable (they seed the labels).
    - ``label_0(v) = v``.
    - ``label_{k+1}(v)`` = the most frequent label among v's neighbors'
      ``label_k`` (the node's own label does NOT vote — pure neighbor
      majority); ties break to the SMALLEST label. Synchronous: every
      node updates from the same snapshot. Exactly ``n_iters``
      iterations, no convergence test.

    Output: ``(node, label)`` — nodes sharing a label after the last
    iteration are one community.

    Physical shape: one join (labels onto edge sources) + one
    (node, label)-grain count + one argmax per iteration — the argmax is
    ``min(struct(-cnt, label))``, an ordinary aggregate, no window.
    O(n_iters) shuffles; each superseded round released by handle (the
    connected_components loop discipline)."""
    if n_iters < 1:
        raise ValueError(f"label_propagation: n_iters must be >= 1, got {n_iters}")
    spark = edges.sparkSession
    s, d = F.col(src), F.col(dst)
    base = edges.filter(s.isNotNull() & d.isNotNull() & (s != d)).select(
        s.alias("s"), d.alias("d")
    )
    e = (
        base.unionByName(base.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint()
    )
    # small-graph fast path (the connected_components / pagerank posture)
    m_edges = e.count()
    # the id type of the endpoint union, as the distributed path
    id_type = e.schema["s"].dataType
    if 0 < m_edges <= driver_threshold and _integer_id_type(id_type):
        try:
            return _label_propagation_driver(spark, e, id_type, n_iters)
        finally:
            release(e)
    nodes = e.select(F.col("s").alias("node")).distinct().localCheckpoint()
    labels = nodes.select("node", F.col("node").alias("label")).localCheckpoint()
    for _ in range(int(n_iters)):
        votes = (
            e.join(labels.withColumnRenamed("node", "s"), on="s")
            .groupBy(F.col("d").alias("node"), "label")
            .agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
        )
        prev, labels = labels, (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("__cnt")).alias("__neg"), F.col("label"))
                ).alias("__best")
            )
            .select("node", F.col("__best.label").alias("label"))
            .localCheckpoint()
        )
        release(prev)
    release(e)
    release(nodes)
    return labels
