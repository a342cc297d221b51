"""Bridges, articulation points, and biconnected components of an
undirected graph — the Tarjan–Vishkin construction as round-parallel
DataFrame joins (r15, reversing the r12 "bridges/articulation" audit
exclusion on evidence, the SCC-in-r13 / MST-in-r14 precedent).

GDS parity note: the reference defers all graph compute to its GDS
server (reference ``pipeline.py:56-95``); published semantics only.
Tarjan's low-link IS DFS-lineage sequential — the exclusion was right
about that — but Tarjan & Vishkin (SIAM J. Comput. 1985) showed
biconnectivity needs no DFS: ANY rooted spanning tree plus preorder
intervals and subtree low/high extrema suffice, and every ingredient
is a round-parallel primitive this repo already ships:

1. **Components + BFS spanning tree**: star-CC gives each node its
   component min as root; a multi-source BFS over the edge list builds
   parent pointers (parent = MIN frontier neighbor — deterministic),
   one skinny equi-join per level, rounds = root eccentricity.
2. **Preorder intervals WITHOUT an Euler tour**: subtree sizes
   bottom-up (one aggregate per depth level), then preorder numbers
   top-down (pre(child) = pre(parent) + 1 + Σ sizes of smaller-id
   siblings — the sibling offset is ONE window per parent). Global
   contiguity across trees comes from per-root base offsets. tin(v) =
   pre(v), tout(v) = tin(v) + size(v) − 1: subtree(v) IS the interval
   [tin, tout] — the contiguity preorder guarantees.
3. **Subtree extrema via a SPARSE TABLE, not per-pair joins**:
   m_low(w) = min(tin(w), tin of w's non-tree neighbors), m_high the
   max twin; low(v)/high(v) = min/max of m over the subtree interval.
   The sparse table is ⌈log₂ V⌉ levels, each ONE positional self-join
   (S_k[i] = op(S_{k-1}[i], S_{k-1}[i+2^{k-1}])); each query is two
   equi-joins at the level picked by an EXACT ≤64-row broadcast
   length-range table (no float log2).
4. **Bridge test** (valid for ANY spanning tree — it is literally the
   cut test): tree edge (p, v) is a bridge iff NO non-tree edge leaves
   subtree(v): low(v) ≥ tin(v) AND high(v) ≤ tout(v).
5. **Articulation points via the Tarjan–Vishkin auxiliary graph**
   (the per-child low-link shortcut is DFS-only — a BFS tree has
   cross edges, so blocks must be computed honestly): aux vertices =
   non-root nodes v (≡ tree edge (p(v), v)); aux edges: (R1) each
   non-tree edge {x, y} with x, y UNRELATED (disjoint intervals)
   links v_x — v_y; (R2) v — p(v) linked iff subtree(v) has a
   non-tree edge leaving subtree(p(v)) (low(v) < tin(p(v)) OR
   high(v) > tout(p(v))). Connected components of the aux graph
   (star-CC again) are exactly the biconnected components; a vertex
   is an articulation point iff its incident tree edges span ≥ 2
   blocks (for the root: its children's edges span ≥ 2).

Scale shape: state is one skinny row per node (+ V·⌈log₂V⌉ sparse
rows); loops are depth-bounded (BFS + sizes + preorder: 3 × tree
depth rounds — the bfs_hop_distance diameter regime, loud budget) and
log-bounded (sparse levels, star-CC); no collect beyond loud-guard
counts and the driver-scale depth/size scalars; every join is a
skinny equi-join. Output sets (bridges, articulation points, block
partition) are GRAPH INVARIANTS — independent of the tree the engine
happened to build — which is what makes them oracle-checkable against
a tree-free reachability replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .graph import NODE_ID, SOURCE_ID, TARGET_ID
from .graph_algo import connected_components_star
from ._materialize import fixpoint, materialize, materialize_count


def _canon_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected edge list (u < v), nulls/self-loops/
    parallels dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(
            F.col("u").isNotNull()
            & F.col("v").isNotNull()
            & (F.col("u") != F.col("v"))
        )
        .distinct()
    )


def _bfs_tree(e: DataFrame, max_depth: int) -> DataFrame:
    """Multi-source BFS from each component's min node over the
    canonical edge list → ``(n, comp, parent, depth)`` (parent NULL at
    roots). parent = MIN frontier neighbor: deterministic, and in a
    tree-to-be each node is settled exactly once."""
    nodes = (
        e.select(F.col("u").alias(NODE_ID))
        .unionByName(e.select(F.col("v").alias(NODE_ID)))
        .distinct()
    )
    comp = connected_components_star(
        nodes,
        e.select(
            F.col("u").alias(SOURCE_ID), F.col("v").alias(TARGET_ID)
        ),
    ).transform(materialize)
    sym = e.select(F.col("u").alias("_a"), F.col("v").alias("_b")).unionByName(
        e.select(F.col("v").alias("_a"), F.col("u").alias("_b"))
    )
    settled = comp.filter(F.col(NODE_ID) == F.col("component")).select(
        F.col(NODE_ID).alias("n"),
        F.col("component").alias("comp"),
        F.lit(None).cast(comp.schema[NODE_ID].dataType).alias("parent"),
        F.lit(0).alias("depth"),
    ).transform(materialize)
    frontier = settled.select("n")
    # range(max_depth + 1): the top-of-loop emptiness probe needs one
    # iteration beyond the deepest level (the repo-wide
    # exactly-at-budget off-by-one class)
    for d in range(1, max_depth + 2):
        # r15: checkpoint + drain probe fused into one job; the settled
        # set stays a lazy union of checkpointed levels (children are
        # checkpoints — no recompute, no per-level copy job)
        cand, n_cand = materialize_count(
            sym.join(frontier.select(F.col("n").alias("_a")), "_a")
            .join(
                settled.select(F.col("n").alias("_b")), "_b", "left_anti"
            )
            .groupBy(F.col("_b").alias("n"))
            .agg(F.min("_a").alias("parent"))
        )
        if n_cand == 0:
            break
        step = (
            cand.join(
                settled.select(F.col("n").alias("parent"), F.col("comp")),
                "parent",
            )
            .select("n", "comp", "parent", F.lit(d).alias("depth"))
            # each level checkpoints; the union of levels stays lazy
            .transform(materialize)
        )
        settled = settled.unionByName(step)
        frontier = cand.select("n")
    else:
        raise RuntimeError(
            f"biconnectivity: BFS still expanding after {max_depth} "
            "levels — raise max_depth (rounds = root eccentricity); a "
            "truncated tree would silently misclassify bridges"
        )
    return settled


def _preorder(tree: DataFrame, max_depth: int) -> DataFrame:
    """``(n, comp, parent, depth, size, tin, tout)``: subtree sizes
    bottom-up, then GLOBALLY CONTIGUOUS preorder numbers top-down (per
    tree, offset by per-root bases so intervals never collide across
    components)."""
    dmax = tree.agg(F.max("depth")).first()[0] or 0

    def _fold_level(sized: DataFrame, r: int) -> DataFrame:
        # round r folds depth dmax − r into the parents one level up
        contrib = (
            sized.filter(F.col("depth") == dmax - r)
            .groupBy(F.col("parent").alias("n"))
            .agg(F.sum("size").alias("_cs"))
        )
        return (
            sized.join(contrib, "n", "left_outer")
            .withColumn("size", F.col("size") + F.coalesce("_cs", F.lit(0)))
            .drop("_cs")
        )

    sized = fixpoint(
        tree.withColumn("size", F.lit(1).cast("long")),
        _fold_level,
        name="biconnectivity subtree sizes",
        max_rounds=dmax,
    )
    # sibling offset: Σ sizes of same-parent siblings with smaller id
    w_sib = (
        W.partitionBy("parent")
        .orderBy(F.asc("n"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    sized = sized.withColumn(
        "_off",
        F.when(
            F.col("parent").isNotNull(),
            F.coalesce(F.sum("size").over(w_sib), F.lit(0)),
        ),
    ).transform(materialize)
    # per-root global bases: one cumulative window over the ≤#components
    # roots table (the bucket_offsets documented trade — driver-scale
    # rows, constant pmod spec so nothing WARNs or folds away)
    w_root = (
        W.partitionBy(F.pmod(F.xxhash64(F.col("comp")), F.lit(1)))
        .orderBy(F.asc("comp"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    bases = (
        sized.filter(F.col("parent").isNull())
        .select("comp", "size")
        .withColumn("_base", F.coalesce(F.sum("size").over(w_root), F.lit(0)))
        .select("comp", "_base")
    )
    pre = (
        sized.filter(F.col("parent").isNull())
        .join(F.broadcast(bases), "comp")
        .select(
            "n", "comp", "parent", "depth", "size",
            (F.col("_base") + 1).cast("long").alias("tin"),
        )
        .transform(materialize)
    )
    assigned = pre
    for d in range(1, dmax + 1):
        step = (
            sized.filter(F.col("depth") == d)
            .join(
                assigned.select(
                    F.col("n").alias("parent"), F.col("tin").alias("_pt")
                ),
                "parent",
            )
            .select(
                "n", "comp", "parent", "depth", "size",
                (F.col("_pt") + 1 + F.col("_off")).cast("long").alias("tin"),
            )
            .transform(materialize)
        )
        pre = pre.unionByName(step)
        assigned = step
    return pre.withColumn(
        "tout", (F.col("tin") + F.col("size") - 1).cast("long")
    ).transform(materialize)


def _sparse_extrema(
    nodes: DataFrame, n_rows: int
) -> tuple[DataFrame, DataFrame]:
    """Sparse range-min/max table over m_low/m_high in tin order →
    (table ``(k, pos, lo, hi)``, levels ``(k, len_lo, len_hi)``).
    ⌈log₂ n⌉ levels, each ONE positional self-join; the levels table
    maps an interval LENGTH to its query level exactly (integer
    ranges, no float log2)."""
    spark = nodes.sparkSession
    n = max(1, n_rows)
    n_levels = n.bit_length() - 1  # levels k ≥ 1 with 2^k ≤ n
    levels = [
        (k, 2**k, min(2 ** (k + 1) - 1, n), 2**k) for k in range(n_levels + 1)
    ]

    # the table is the union of every level so far; round r adds level
    # k = r + 1 from level r, and the replaced union is released
    def _level(tbl: DataFrame, r: int) -> DataFrame:
        prev = tbl.filter(F.col("k") == r)
        shifted = prev.select(
            (F.col("pos") - F.lit(2**r)).alias("pos"),
            F.col("lo").alias("_l2"),
            F.col("hi").alias("_h2"),
        )
        return tbl.unionByName(
            prev.join(shifted, "pos", "left_outer").select(
                F.lit(r + 1).alias("k"),
                "pos",
                F.least("lo", F.coalesce("_l2", "lo")).alias("lo"),
                F.greatest("hi", F.coalesce("_h2", "hi")).alias("hi"),
            )
        )

    tbl = fixpoint(
        nodes.select(
            F.lit(0).alias("k"),
            F.col("tin").alias("pos"),
            F.col("m_low").alias("lo"),
            F.col("m_high").alias("hi"),
        ),
        _level,
        name="biconnectivity sparse table",
        max_rounds=n_levels,
    )
    lv = spark.createDataFrame(
        levels, "k int, len_lo long, len_hi long, span long"
    )
    return tbl, lv


def biconnectivity_state(
    edges: DataFrame,
    *,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
    max_depth: int = 128,
    max_cc_iter: int = 25,
) -> dict[str, DataFrame]:
    """Shared state for :func:`bridges` / :func:`articulation_points`
    / :func:`biconnected_components` → dict of checkpointed frames:
    ``pre`` (n, comp, parent, depth, size, tin, tout, low, high),
    ``tree`` (parent, n canonical tree edges), ``nontree`` (u, v),
    ``aux`` (n, auxcomp — blocks keyed by the child node of each tree
    edge). Computed once; the catalog memoizes it per session."""
    e = _canon_edges(edges, src, dst).transform(materialize)
    spark = e.sparkSession
    if e.limit(1).count() == 0:
        empty_pre = spark.createDataFrame(
            [],
            "n long, comp long, parent long, depth int, size long, "
            "tin long, tout long, low long, high long",
        )
        return {
            "pre": empty_pre,
            "tree": spark.createDataFrame([], "parent long, n long"),
            "nontree": spark.createDataFrame([], "u long, v long"),
            "aux": spark.createDataFrame([], "n long, auxcomp long"),
        }
    tree = _bfs_tree(e, max_depth)
    pre = _preorder(tree, max_depth)
    n_rows = pre.count()
    tree_e = pre.filter(F.col("parent").isNotNull()).select("parent", "n")
    nontree = e.join(
        tree_e.select(
            F.least("parent", "n").alias("u"),
            F.greatest("parent", "n").alias("v"),
        ),
        ["u", "v"],
        "left_anti",
    ).transform(materialize)
    # m_low/m_high: own tin folded with non-tree neighbor tins
    tins = pre.select("n", "tin")
    nt_sym = nontree.select(
        F.col("u").alias("n"), F.col("v").alias("_o")
    ).unionByName(nontree.select(F.col("v").alias("n"), F.col("u").alias("_o")))
    nt_ext = (
        nt_sym.join(tins.select(F.col("n").alias("_o"), F.col("tin").alias("_ot")), "_o")
        .groupBy("n")
        .agg(F.min("_ot").alias("_nl"), F.max("_ot").alias("_nh"))
    )
    base = (
        pre.join(nt_ext, "n", "left_outer")
        .withColumn("m_low", F.least("tin", F.coalesce("_nl", F.col("tin"))))
        .withColumn("m_high", F.greatest("tin", F.coalesce("_nh", F.col("tin"))))
        .drop("_nl", "_nh")
        .transform(materialize)
    )
    tbl, lv = _sparse_extrema(base, n_rows)
    q = base.join(
        F.broadcast(lv),
        (F.col("size") >= F.col("len_lo"))
        & (F.col("size") <= F.col("len_hi")),
    )
    left_q = q.select(
        "n", F.col("k").alias("_k"), F.col("tin").alias("_p1"),
        (F.col("tout") - F.col("span") + 1).alias("_p2"),
    )
    t1 = tbl.select(
        F.col("k").alias("_k"), F.col("pos").alias("_p1"),
        F.col("lo").alias("_lo1"), F.col("hi").alias("_hi1"),
    )
    t2 = tbl.select(
        F.col("k").alias("_k"), F.col("pos").alias("_p2"),
        F.col("lo").alias("_lo2"), F.col("hi").alias("_hi2"),
    )
    ext = (
        left_q.join(t1, ["_k", "_p1"])
        .join(t2, ["_k", "_p2"])
        .select(
            "n",
            F.least("_lo1", "_lo2").alias("low"),
            F.greatest("_hi1", "_hi2").alias("high"),
        )
    )
    pre = base.drop("m_low", "m_high").join(ext, "n").transform(materialize)
    # Tarjan–Vishkin auxiliary graph on non-root nodes v ≡ tree edge
    # (parent(v), v)
    iv = pre.select("n", "tin", "tout")
    r1 = (
        nontree.join(
            iv.select(
                F.col("n").alias("u"),
                F.col("tin").alias("_tu"),
                F.col("tout").alias("_ou"),
            ),
            "u",
        )
        .join(
            iv.select(
                F.col("n").alias("v"),
                F.col("tin").alias("_tv"),
                F.col("tout").alias("_ov"),
            ),
            "v",
        )
        # unrelated ⟺ disjoint preorder intervals
        .filter(
            ~((F.col("_tu") <= F.col("_tv")) & (F.col("_tv") <= F.col("_ou")))
            & ~((F.col("_tv") <= F.col("_tu")) & (F.col("_tu") <= F.col("_ov")))
        )
        .select(F.col("u").alias(SOURCE_ID), F.col("v").alias(TARGET_ID))
    )
    nonroot = pre.filter(F.col("parent").isNotNull())
    r2 = (
        nonroot.alias("c")
        .join(
            nonroot.select(
                F.col("n").alias("parent"),
                F.col("tin").alias("_pt"),
                F.col("tout").alias("_po"),
            ).alias("p"),
            "parent",
        )
        .filter((F.col("low") < F.col("_pt")) | (F.col("high") > F.col("_po")))
        .select(
            F.col("n").alias(SOURCE_ID), F.col("parent").alias(TARGET_ID)
        )
    )
    aux_nodes = nonroot.select(F.col("n").alias(NODE_ID))
    aux_edges = r1.unionByName(r2)
    # star-CC labels only nodes that appear in edges; isolated aux
    # vertices (bridge edges) keep themselves as their own block
    cc = connected_components_star(
        aux_nodes, aux_edges, max_iter=max_cc_iter
    )
    aux = (
        aux_nodes.join(
            cc.withColumnRenamed("component", "auxcomp"), NODE_ID, "left_outer"
        )
        .select(
            F.col(NODE_ID).alias("n"),
            F.coalesce("auxcomp", F.col(NODE_ID)).alias("auxcomp"),
        )
        .transform(materialize)
    )
    return {"pre": pre, "tree": tree_e, "nontree": nontree, "aux": aux}


def bridges(
    edges: DataFrame,
    *,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
    max_depth: int = 128,
    state: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """→ ``(edge_u, edge_v)``, canonical u < v: every bridge of the
    undirected graph (edges whose removal disconnects their
    component). Tree edge (p, v) is a bridge iff no non-tree edge
    leaves subtree(v) — the cut test, valid for ANY spanning tree;
    non-tree edges are never bridges (they close a cycle)."""
    st = state or biconnectivity_state(
        edges, src=src, dst=dst, max_depth=max_depth
    )
    pre = st["pre"]
    return (
        pre.filter(
            F.col("parent").isNotNull()
            & (F.col("low") >= F.col("tin"))
            & (F.col("high") <= F.col("tout"))
        )
        .select(
            F.least("parent", "n").alias("edge_u"),
            F.greatest("parent", "n").alias("edge_v"),
        )
    )


def articulation_points(
    edges: DataFrame,
    *,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
    max_depth: int = 128,
    state: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """→ ``(nodeId,)``: every articulation point (vertices whose
    removal disconnects their component) — a vertex belongs to ≥ 2
    biconnected components iff its incident TREE edges span ≥ 2 aux
    components (blocks at v are exactly {block(e_v)} ∪ {block(e_c) per
    child c}: every non-tree edge at v shares a block with one of
    them)."""
    st = state or biconnectivity_state(
        edges, src=src, dst=dst, max_depth=max_depth
    )
    pre, aux = st["pre"], st["aux"]
    child_blocks = (
        pre.filter(F.col("parent").isNotNull())
        .join(aux, "n")
        .select(F.col("parent").alias("n"), "auxcomp")
    )
    # own edge's block joins the tally only for nodes that HAVE
    # children (a leaf's single own block can never reach 2; the root
    # has no own block and is judged on its children alone — both fall
    # out of the same semi-join)
    own_block = aux.join(
        child_blocks.select("n").distinct(), "n", "semi"
    ).select("n", "auxcomp")
    return (
        child_blocks.unionByName(own_block)
        .groupBy("n")
        .agg(F.count_distinct("auxcomp").alias("_nb"))
        .filter(F.col("_nb") >= 2)
        .select(F.col("n").alias(NODE_ID))
    )


def biconnected_components(
    edges: DataFrame,
    *,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
    max_depth: int = 128,
    state: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """→ ``(edge_u, edge_v, bcc_id)``: every edge labeled with its
    biconnected component, ``bcc_id`` = the MIN tin of the child
    endpoints of the block's tree edges — deterministic and
    tree-independent AS A PARTITION (labels depend on the tree; the
    grouping does not). Non-tree edge (x, y) joins the block of the
    deeper endpoint's tree edge (its cycle runs through it)."""
    st = state or biconnectivity_state(
        edges, src=src, dst=dst, max_depth=max_depth
    )
    pre, tree_e, nontree, aux = (
        st["pre"], st["tree"], st["nontree"], st["aux"],
    )
    label = (
        aux.join(pre.select("n", "tin"), "n")
        .groupBy("auxcomp")
        .agg(F.min("tin").alias("_bl"))
    )
    lab_of = aux.join(label, "auxcomp").select("n", "_bl")
    t = (
        tree_e.join(lab_of, "n")
        .select(
            F.least("parent", "n").alias("edge_u"),
            F.greatest("parent", "n").alias("edge_v"),
            F.col("_bl").alias("bcc_id"),
        )
    )
    deeper = F.when(F.col("_du") >= F.col("_dv"), F.col("u")).otherwise(
        F.col("v")
    )
    nt = (
        nontree.join(
            pre.select(F.col("n").alias("u"), F.col("depth").alias("_du")),
            "u",
        )
        .join(
            pre.select(F.col("n").alias("v"), F.col("depth").alias("_dv")),
            "v",
        )
        .select("u", "v", deeper.alias("n"))
        .join(lab_of, "n")
        .select(
            F.col("u").alias("edge_u"),
            F.col("v").alias("edge_v"),
            F.col("_bl").alias("bcc_id"),
        )
    )
    return t.unionByName(nt)
