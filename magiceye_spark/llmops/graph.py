"""Distributed connected components over near-duplicate pair graphs.

Near-dup detection (Jaccard / MinHash-LSH / SimHash / containment) yields
PAIRS; corpus curation needs CLUSTERS — the transitive closure, so that
A~B, B~C lands A, B, C in ONE dedup group even when A~C itself is below
threshold (the chain case symmetric pair filters structurally miss).
"Keep one doc per cluster" is the canonical final step of every
large-scale dedup pipeline (e.g. the Lee et al. 2107.06499 / Gopher
dedup recipes), and it is a GRAPH problem, not a groupBy.

Reference parity: the reference (a schema-diff engine,
src/action/run/steps/check.rs:17-398) has no graph operators; this module
is part of the §2.4 LLM-pipeline mandate (dedup → clusters → keepers).

Algorithm: one closure engine, :func:`connected_components`, which every
closure in the package calls — the Jaccard cluster operators below, the
store admission verdict (:func:`indexed_admission_rejects`), and the
pair and LSH-bucket clustering of :mod:`.dedup`. It has two paths, picked
by the edge count against ``SMALL_GRAPH_EDGE_CAP``:

* small graphs: union-find over the collected edge list on the driver,
  returned as a LocalRelation;
* larger graphs: iterative min-label propagation with pointer jumping
  (path compression), the DataFrame rendering of Pregel-style connected
  components. Each node starts labeled with itself; each round every
  node takes the min label across itself and its neighbors (one hash
  join edge⋈label + one groupBy min — both shuffle on node id, so AQE
  reuses the exchange); then labels are compressed through themselves
  (``comp ← comp(comp)``), which makes label information travel 2^k hops
  after k rounds instead of k — O(log diameter) rounds instead of
  O(diameter).

Both paths label a node with the minimum node id of its component, and
``tests/test_r10_ops.py`` pins them equal. Near-dup graphs are shallow
(duplicates cluster around source templates; the shipped corpus measures
diameter 7 at sf0.001 AND sf0.01), but the pointer jump is what makes the
loop safe at 100 TB where chains through hub documents can be arbitrarily
deep: 20 rounds cover diameter ~2^20. Each round is two bounded shuffles
over the EDGE list plus one over the (smaller) label list; the driver
sees only one scalar per round (the Σlabel convergence witness — labels
are min-monotone, so the sum strictly decreases until the fixpoint) — no
row data ever leaves the executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magiceye_spark.io import local_frame


#: Directed-symmetric-edge count at or below which the closure runs
#: driver-side (union-find over the collected edge list) instead of as a
#: distributed fixpoint. The fixpoint pays O(log diameter) rounds, each a
#: Spark job of fixed scheduling latency; at the sf0.1 corpus graph
#: (272,690 pairs → 545k directed edges) driver union-find took 0.36 s plus
#: a 1.4 s bounded collect against 10.7 s of distributed rounds. The cap
#: bounds the collect at ≤1M pair rows × 16 B ≈ 16 MB, far under driver
#: memory and maxResultSize; corpus-scale graphs above it keep the
#: distributed plan. Read at call time, so a test forces the distributed
#: path with ``monkeypatch.setattr(graph, "SMALL_GRAPH_EDGE_CAP", 0)``.
SMALL_GRAPH_EDGE_CAP = 2_000_000


def _edge_tuples(und: DataFrame) -> list[tuple[int, int]]:
    """The bounded small-graph edge collect as plain (int, int) tuples via
    ONE Arrow batch — ``collect()`` materializes a pyspark Row object per
    edge, which at the 1M-pair cap costs hundreds of MB of Python heap
    (and GC churn) for two longs of payload; the Arrow path lands the two
    columns as int lists (~tens of MB at cap) in one driver transfer."""
    tbl = und.toArrow()
    return list(zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()))


def _unionfind_components(edge_rows):
    """Driver-side exact closure for small graphs: union-find with path
    compression + union by size over the collected symmetric edge list,
    then per-component min-node labels — BYTE-IDENTICAL to the
    distributed fixpoint's output contract (min node id per component).
    Bounded by ``SMALL_GRAPH_EDGE_CAP`` at the call site; never invoked
    on corpus-scale graphs."""
    parent: dict = {}
    size: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edge_rows:
        if u not in parent:
            parent[u], size[u] = u, 1
        if v not in parent:
            parent[v], size[v] = v, 1
        ru, rv = find(u), find(v)
        if ru != rv:
            if size[ru] < size[rv]:
                ru, rv = rv, ru
            parent[rv] = ru
            size[ru] += size[rv]
    comp_min: dict = {}
    roots = {n: find(n) for n in parent}
    for n, r in roots.items():
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    return [(n, comp_min[r]) for n, r in roots.items()]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    comp_col: str = "comp_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of the undirected graph given as an edge list.

    Returns one row per node that appears in ``edges`` (nodes with no
    edges are singletons by definition and are not emitted — callers
    wanting them can union an anti-join of the vertex table afterwards,
    or add a self-edge per node): ``(node, comp_col)``, both long, where
    ``comp_col`` is the MINIMUM node id in the component — deterministic,
    and directly usable as the "keeper" id in keep-one-per-cluster dedup.
    Ids are compared as longs (``cast("long")``), so they must be
    integral.

    EAGER: convergence is data-dependent, so this runs Spark jobs at call
    time and returns the final materialized label frame: a LocalRelation
    from driver-side union-find when the graph is within
    ``SMALL_GRAPH_EDGE_CAP``, else the distributed fixpoint, which
    converges in O(log diameter) rounds and raises ``RuntimeError`` if
    ``max_iter`` rounds don't reach it rather than returning silently
    wrong labels. Every persisted frame is released on every exit, the
    raising ones included.
    """
    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    # Materialize the RAW directed edge list once (one cache, one count):
    # the small-graph test and the driver-side collect both run over it
    # directly, so the union+distinct+repartition shuffles exist only on
    # the distributed path, where the fixpoint rounds amortize them.
    # Union-find is orientation- and multiplicity-agnostic, so collecting
    # the raw pairs (instead of the symmetrized distinct edges) yields
    # identical labels.
    und = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).persist()
    sym = seed = None
    try:
        n_und = und.count()
        if 2 * n_und <= SMALL_GRAPH_EDGE_CAP:
            # The collect is BOUNDED by the cap and arrives as ONE Arrow
            # batch of two long columns (raw non-distinct edges, so
            # duplicate-heavy lists collect every copy — still
            # cap-bounded). The labels go back as an Arrow LocalRelation:
            # the plain createDataFrame path would ship them through
            # parallelize + a Python worker per consuming job
            # (io.local_frame docstring).
            out = _unionfind_components(_edge_tuples(und))
            return local_frame(spark, out, f"node long, {comp_col} long")
        fwd = und.select("u", "v")
        rev = und.select(F.col("v").alias("u"), F.col("u").alias("v"))
        # Size the ROUNDS to the graph: each round is joins + a checkpoint,
        # and near-cap graphs at full session width pay pure scheduling
        # overhead per round. One partition per ~4k directed edges (sized
        # from the 2·n_und upper bound of the symmetrized count — sizing
        # only, labels unaffected), capped at session parallelism.
        par_eff = max(2, min(par, 2 * n_und // 4000 + 1))
        # symmetrize + dedup parallel edges (keeps join fan-out minimal),
        # partition by join key once (from the cached raw edges), reuse
        # every round; materialized here so `und` can be released before
        # the rounds
        sym = fwd.union(rev).distinct().repartition(par_eff, "u").persist()
        sym.count()
        und.unpersist()
        seed = labels = (
            sym.select(F.col("u").alias("node"))
            .distinct()
            .withColumn("comp", F.col("node"))
            .persist()
        )
        prev_sum = None
        for _ in range(max_iter):
            nb_min = (
                sym.join(labels, sym["v"] == labels["node"])
                .groupBy("u")
                .agg(F.min("comp").alias("nb"))
            )
            new = labels.join(nb_min, labels["node"] == nb_min["u"], "left").select(
                labels["node"],
                F.least(F.col("comp"), F.coalesce(F.col("nb"), F.col("comp"))).alias(
                    "comp"
                ),
            )
            # comp ← comp(comp): label values are node ids (mins over the
            # node set), so every comp has a row in `new` — inner join is
            # total. After k rounds labels travel 2^k hops. (A second jump
            # per round was tried in r9 and measured flat: convergence
            # here is bound by min-label PROPAGATION through the graph —
            # the nb_min step — not by label-chain depth, so deeper
            # jumping buys nothing and costs a shuffle join at corpus
            # scale.)
            thru = new.select(
                F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
            )
            new = new.join(thru, new["comp"] == thru["p_node"]).select(
                "node", F.col("p_comp").alias("comp")
            )
            # localCheckpoint, not persist: persist() caches *results* but
            # the logical plan still grows — the pointer-jump self-join
            # DOUBLES it every round, which is exponential in iterations
            # and OOMs the driver during analysis long before any data
            # moves. Checkpointing truncates lineage so round k's plan is
            # O(1) regardless of k. (On a real cluster with flaky
            # executors, swap for reliable `checkpoint()` + checkpointDir;
            # recomputing a lost localCheckpoint block is impossible
            # because the lineage is gone.)
            labels = new.repartition(par_eff, "node").localCheckpoint(eager=True)
            seed.unpersist()  # the checkpoint holds the labels now
            # convergence witness: every step takes a MIN across self +
            # neighbors (+ pointer jump, also a min), so per-node labels
            # never increase — Σcomp strictly decreases until the fixpoint.
            # One scalar agg over the checkpointed frame per round, instead
            # of a join+count against the previous labels.
            new_sum = labels.agg(
                F.sum(F.col("comp").cast("decimal(38,0)"))
            ).collect()[0][0]
            if new_sum == prev_sum:
                return labels.select("node", F.col("comp").alias(comp_col))
            prev_sum = new_sum
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (20 pointer-jump rounds cover diameter ~2^20 — "
            "a non-converging run at that bound indicates label churn from "
            "nondeterministic input, not a deep graph)"
        )
    finally:
        for frame in (und, sym, seed):
            if frame is not None:
                frame.unpersist()


# ------------------------------------------------- dup-cluster operators

def near_dup_pairs(
    docs: DataFrame, threshold: float = 0.8, length_tol: int = 60
) -> DataFrame:
    """The (doc_a, doc_b) near-dup pair relation every graph-family
    operator consumes — computed ONCE here so callers running several
    closure-based ops over the same corpus (components + keep-one +
    delta-admit is the typical pipeline) can share one pair computation
    (persist this and pass it as ``pairs=``) instead of re-shingling and
    re-joining per op. Pair generation is the oracle-checkable all-pairs
    twin (:func:`magiceye_spark.llmops.dedup.jaccard_near_dups`); at
    corpus scale substitute ``minhash_lsh_pairs`` edges — every consumer
    below is generator-agnostic."""
    from magiceye_spark.llmops import dedup

    return dedup.jaccard_near_dups(
        docs, threshold=threshold, length_tol=length_tol
    ).select("doc_a", "doc_b")


def dup_graph_components(
    docs: DataFrame,
    threshold: float = 0.8,
    length_tol: int = 60,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, comp_id) for every document participating in at least one
    Jaccard near-dup pair: the transitive closure of the pair relation.
    ``comp_id`` is the minimum doc_id of the cluster — the keeper under
    keep-lowest dedup policy. ``pairs`` (any (doc_a, doc_b) frame —
    :func:`near_dup_pairs`, MinHash-LSH candidates, a persisted edge set)
    skips pair generation; the closure step is identical either way.
    """
    if pairs is None:
        pairs = near_dup_pairs(docs, threshold=threshold, length_tol=length_tol)
    cc = connected_components(pairs.select("doc_a", "doc_b"), src="doc_a", dst="doc_b")
    return cc.select(F.col("node").alias("doc_id"), "comp_id")


def dup_cluster_stats(
    docs: DataFrame,
    threshold: float = 0.8,
    length_tol: int = 60,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-cluster rollup of the transitive closure: size, id span, and
    the docs removed under keep-one policy. ``comp_id`` doubles as the
    keeper doc_id (minimum of the cluster by construction)."""
    comps = dup_graph_components(
        docs, threshold=threshold, length_tol=length_tol, pairs=pairs
    )
    return comps.groupBy("comp_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("doc_id").alias("max_doc_id"),
        (F.count(F.lit(1)) - F.lit(1)).cast("bigint").alias("n_removed"),
    )


def dedup_keep_per_cluster(
    docs: DataFrame,
    threshold: float = 0.8,
    length_tol: int = 60,
    pairs: DataFrame | None = None,
    comps: DataFrame | None = None,
) -> DataFrame:
    """The deduplicated corpus after TRANSITIVE closure: every document
    that is either in no near-dup pair, or the minimum-id member of its
    cluster. This is strictly stronger than pairwise keep-lowest
    (``doc_a < doc_b`` drop-the-right-side), which over-keeps the middle
    of chains: with A~B, B~C and no A~C pair, pairwise keeps {A, C} but
    the closure keeps {A} only. One left join against the label frame,
    which holds only docs that had at least one pair — AQE broadcasts it
    when the dup rate is low and shuffles on doc_id when it isn't (don't
    force a broadcast: at corpus scale a high-dup crawl makes the closure
    itself huge). ``pairs``: precomputed edge set (see
    :func:`near_dup_pairs`); ``comps``: the precomputed closure itself —
    a pipeline that runs components + keep-one + delta-admit over one
    corpus computes the (EAGER, multi-round) closure once and feeds it to
    every consumer."""
    if comps is None:
        comps = dup_graph_components(
            docs, threshold=threshold, length_tol=length_tol, pairs=pairs
        )
    return (
        docs.join(comps, "doc_id", "left")
        .where(F.col("comp_id").isNull() | (F.col("comp_id") == F.col("doc_id")))
        .select("doc_id", "lang", "source", "n_chars")
    )


def _sql_edges_cte(threshold: float, length_tol: int) -> str:
    return f"""
toksets AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS toks
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM toksets a JOIN toksets b
    ON a.lang = b.lang AND a.doc_id < b.doc_id
   AND ABS(a.n_chars - b.n_chars) <= {length_tol}
  WHERE LENGTH(list_intersect(a.toks, b.toks))
        / CAST(LENGTH(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= {threshold}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(node, comp) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
),
comps AS (
  SELECT node AS doc_id, MIN(comp) AS comp_id FROM reach GROUP BY node
)"""


def sql_dup_components(threshold: float = 0.8, length_tol: int = 60) -> str:
    """DuckDB oracle: min reachable node per node via recursive CTE —
    the set-semantics UNION bounds the fixpoint; MIN over the reach set
    equals the component minimum on an undirected (symmetrized) edge
    list. O(component²) intermediate rows: fine at oracle scale, which
    is exactly why the Spark side iterates instead."""
    return (
        "WITH RECURSIVE "
        + _sql_edges_cte(threshold, length_tol)
        + "\nSELECT doc_id, comp_id FROM comps"
    )


def sql_dedup_keep_per_cluster(threshold: float = 0.8, length_tol: int = 60) -> str:
    return (
        "WITH RECURSIVE "
        + _sql_edges_cte(threshold, length_tol)
        + """
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d LEFT JOIN comps c ON d.doc_id = c.doc_id
WHERE c.comp_id IS NULL OR c.comp_id = d.doc_id"""
    )


def sql_dup_cluster_stats(threshold: float = 0.8, length_tol: int = 60) -> str:
    return (
        "WITH RECURSIVE "
        + _sql_edges_cte(threshold, length_tol)
        + """
SELECT comp_id,
       COUNT(*) AS n_members,
       MAX(doc_id) AS max_doc_id,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_removed
FROM comps GROUP BY comp_id"""
    )


# ------------------------------------------------- triangle counting

def triangle_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over the
    undirected graph given as an edge list: ``(node, deg, n_triangles,
    clustering)``.

    Near-dup graphs separate two regimes with the same pair count:
    template families (cliques — every variant resembles every other,
    clustering → 1) versus hub chains (a boilerplate fragment linking
    otherwise-unrelated docs, clustering → 0). The coefficient is the
    standard curation signal for "safe to collapse the whole cluster to
    one keeper" vs "the cluster is an artifact of one shared span".

    Scale: wedge enumeration uses the DEGREE-ORDERED orientation (each
    edge points from its (deg, id)-smaller endpoint to the larger; wedges
    form only at the smallest vertex of each triangle), the standard
    trick that bounds per-node wedge fan-out by graph arboricity instead
    of max degree — a million-edge hub produces zero wedges at the hub.
    Every triangle is enumerated exactly once, as three hash joins on the
    oriented edge list. The oracle counts the same triangle set from the
    naive ``a<b`` closure — orientation changes the join geometry, never
    the set.
    """
    fwd = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    rev = edges.select(
        F.col(dst).cast("long").alias("u"), F.col(src).cast("long").alias("v")
    )
    sym = fwd.union(rev).distinct()
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    ).persist()
    # orient each undirected edge from its (deg, id)-smaller endpoint:
    # carry the head's (deg, id) so the wedge join can order v1 < v2 in
    # the SAME total order without re-joining degrees
    half = sym.where(F.col("u") < F.col("v"))
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    keyed = half.join(du, "u").join(dv, "v")
    lo_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = keyed.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("tail"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("head"),
        F.when(lo_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_head"),
    ).persist()
    try:
        e1 = oriented.select(
            F.col("tail").alias("x"),
            F.col("head").alias("y"),
            F.col("deg_head").alias("dy"),
        )
        e2 = oriented.select(
            F.col("tail").alias("x"),
            F.col("head").alias("z"),
            F.col("deg_head").alias("dz"),
        )
        wedges = e1.join(e2, "x").where(
            (F.col("dy") < F.col("dz"))
            | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
        )
        closer = oriented.select(
            F.col("tail").alias("y"), F.col("head").alias("z")
        )
        tris = wedges.join(closer, ["y", "z"]).select("x", "y", "z")
        node_tris = (
            tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
        out = deg.join(node_tris, "node", "left").select(
            "node",
            "deg",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            F.when(
                F.col("deg") >= 2,
                F.lit(2.0)
                * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
        # the two persisted inputs feed a single lazy consumer; localCheckpoint
        # materializes now so we can release them before returning
        return out.localCheckpoint(eager=True)
    finally:
        oriented.unpersist()
        deg.unpersist()


def dup_graph_triangles(
    docs: DataFrame,
    threshold: float = 0.8,
    length_tol: int = 60,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Triangle count + local clustering coefficient per near-dup-graph
    node: ``(doc_id, deg, n_triangles, clustering)``. Distinguishes
    clique-like template families (collapse freely) from hub/chain
    clusters glued by one shared fragment (inspect before collapsing).
    Same Jaccard pair relation as :func:`dup_graph_components`; at corpus
    scale feed MinHash-LSH pairs — the oriented wedge join is unchanged.
    ``pairs``: precomputed edge set, see :func:`near_dup_pairs`."""
    if pairs is None:
        pairs = near_dup_pairs(docs, threshold=threshold, length_tol=length_tol)
    ts = triangle_stats(pairs.select("doc_a", "doc_b"), src="doc_a", dst="doc_b")
    return ts.select(
        F.col("node").alias("doc_id"), "deg", "n_triangles", "clustering"
    )


def sql_dup_triangles(threshold: float = 0.8, length_tol: int = 60) -> str:
    """DuckDB oracle: naive a<b<c triangle closure over the shared pair
    CTE (pairs already satisfy doc_a < doc_b) — same triangle set as the
    degree-oriented Spark join; O(Σdeg²) wedges is fine at oracle scale."""
    return (
        "WITH RECURSIVE "
        + _sql_edges_cte(threshold, length_tol)
        + """,
tris AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.doc_b = e2.doc_a
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
node_tris AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT a AS node FROM tris
    UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris
  ) GROUP BY node
),
deg AS (SELECT a AS node, COUNT(*) AS deg FROM edges GROUP BY a)
SELECT d.node AS doc_id,
       d.deg,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN 2.0 * COALESCE(t.n_triangles, 0)
                 / CAST(d.deg * (d.deg - 1) AS DOUBLE)
            ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN node_tris t ON d.node = t.node"""
    )


# ------------------------------------------------- PageRank centrality

def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 5,
) -> DataFrame:
    """PageRank over the symmetrized edge list: ``(node, deg, pagerank)``.

    Fixed ``iters`` power iterations of
    ``r ← (1-d)/N + d·Σ_{v∈nb(u)} r(v)/deg(v)`` — the undirected
    (symmetrized) graph has no dangling nodes by construction, so no
    teleport-mass correction term is needed. Each iteration is one hash
    join (edges ⋈ ranks on the neighbor id) plus one groupBy — both
    shuffle on node id over a frame pre-partitioned once and reused, the
    same loop discipline as :func:`connected_components` (localCheckpoint
    per round truncates the growing lineage; EAGER by nature).

    Determinism: a per-group float SUM is shuffle-order-nondeterministic
    in Spark, so each node's neighbor contributions are collected,
    sorted by neighbor id, and folded left-to-right — bit-for-bit
    reproducible and exactly mirrored by DuckDB's ordered aggregate
    ``SUM(x ORDER BY v)`` in the oracle. The sort is per-node over its
    neighbor list (bounded by max degree), not a global sort.
    """
    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    fwd = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    rev = edges.select(
        F.col(dst).cast("long").alias("u"), F.col(src).cast("long").alias("v")
    )
    sym = fwd.union(rev).distinct().repartition(par, "v").persist()
    nodes = (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .repartition(par, "node")
        .persist()
    )
    try:
        n = float(nodes.count())  # eager: N feeds the literal teleport term
        ranks = nodes.select(
            "node", "deg", (F.lit(1.0) / F.lit(n)).alias("pagerank")
        )
        base = F.lit(1.0) - F.lit(damping)  # IEEE (1.0 - d), same as the SQL text
        for _ in range(iters):
            contribs = sym.join(ranks, sym["v"] == ranks["node"]).select(
                sym["u"].alias("dst_node"),
                sym["v"].alias("src_node"),
                (F.col("pagerank") / F.col("deg").cast("double")).alias("contrib"),
            )
            summed = contribs.groupBy("dst_node").agg(
                F.aggregate(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("src_node").alias("s"),
                                F.col("contrib").alias("c"),
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["c"],
                ).alias("s")
            )
            ranks = (
                nodes.join(summed, nodes["node"] == summed["dst_node"], "left")
                .select(
                    "node",
                    "deg",
                    (
                        base / F.lit(n)
                        + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                    ).alias("pagerank"),
                )
                .repartition(par, "node")
                .localCheckpoint(eager=True)
            )
        return ranks
    finally:
        sym.unpersist()
        nodes.unpersist()


def dup_pagerank(
    docs: DataFrame,
    threshold: float = 0.8,
    length_tol: int = 60,
    damping: float = 0.85,
    iters: int = 5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """PageRank centrality over the Jaccard near-dup graph:
    ``(doc_id, deg, pagerank)`` for every doc with at least one pair.

    Ranks the MOST CENTRAL variant of each duplicate cluster — the
    principled alternative to keep-lowest-id when curating which copy of
    a template family survives dedup (the highest-rank member is the one
    most other variants resemble). Same edge relation as
    :func:`dup_graph_components`; at corpus scale feed MinHash-LSH pairs
    instead — the iteration is unchanged. ``pairs``: precomputed edge
    set, see :func:`near_dup_pairs`."""
    if pairs is None:
        pairs = near_dup_pairs(docs, threshold=threshold, length_tol=length_tol)
    pr = pagerank(
        pairs.select("doc_a", "doc_b"),
        src="doc_a",
        dst="doc_b",
        damping=damping,
        iters=iters,
    )
    return pr.select(F.col("node").alias("doc_id"), "deg", "pagerank")


def sql_dup_pagerank(
    threshold: float = 0.8,
    length_tol: int = 60,
    damping: float = 0.85,
    iters: int = 5,
) -> str:
    """DuckDB oracle: the power iteration UNROLLED into ``iters`` chained
    CTEs (fixed iteration count needs no recursion), with the per-node
    contribution sum ordered by neighbor id — ``SUM(x ORDER BY v)`` is a
    sequential IEEE fold in DuckDB, bit-matching the Spark side's
    sorted-list fold. The unused reach/comps CTEs from the shared edge
    builder are pruned by DuckDB (CTEs instantiate only when referenced)."""
    blocks = []
    prev = "r0"
    for k in range(1, iters + 1):
        blocks.append(f"""
it{k} AS (
  SELECT d.node, d.deg,
         (1.0 - {damping}) / (SELECT n FROM nn)
           + {damping} * COALESCE(s.s, 0.0) AS pagerank
  FROM deg d LEFT JOIN (
    SELECT e.u AS node,
           SUM(r.pagerank / CAST(r.deg AS DOUBLE) ORDER BY e.v) AS s
    FROM sym e JOIN {prev} r ON e.v = r.node
    GROUP BY e.u
  ) s ON d.node = s.node
)""")
        prev = f"it{k}"
    return (
        "WITH RECURSIVE "
        + _sql_edges_cte(threshold, length_tol)
        + f""",
sym AS (SELECT DISTINCT a AS u, b AS v FROM edges),
deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY u),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT node, deg, 1.0 / (SELECT n FROM nn) AS pagerank FROM deg),"""
        + ",".join(blocks)
        + f"\nSELECT node AS doc_id, deg, pagerank FROM {prev}"
    )


# ------------------------------------------------- delta-ingest admission

def indexed_admission_rejects(pairs: DataFrame, stored_ids: DataFrame) -> DataFrame:
    """The shared closure-verdict core of persistent-store delta admission
    (:func:`sigstore.delta_dedup_admit_indexed`,
    :func:`hamstore.delta_hamming_admit_indexed` and
    :func:`annindex.delta_ann_admit_indexed`, all through
    :func:`store.admit` — one implementation so the admission RULE cannot
    diverge between stores): given the delta-touching near-dup ``pairs``
    (doc_a, doc_b) and the store's ``stored_ids`` (doc_id), return the
    REJECTED incoming doc_ids — an incoming doc is rejected iff its
    component over the pair graph contains a stored doc, or it is not the
    minimum-id incoming member of its all-incoming component. Docs absent
    from ``pairs`` are singletons and are never rejected (the caller's
    anti-join admits them).

    The labels come from :func:`connected_components` (a LocalRelation
    for the small per-batch graphs), and the rule is applied once,
    in-plan: the stored ids are semi-joined to the graph's nodes, so the
    store scan streams past a small build side, and ``has_existing`` /
    ``min_incoming`` are window aggregates over ``comp_id``. Ids are
    compared as longs (``cast("long")`` on both the pairs and the stored
    ids), so int and long id columns give the same verdict, and the result
    is a ``doc_id long`` column either way. Ids must therefore be
    integral; the anti-join on the caller's id column casts back as
    needed."""
    comps = connected_components(pairs, "doc_a", "doc_b").withColumnRenamed(
        "node", "doc_id"
    )
    stored = (
        stored_ids.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(comps, "doc_id", "left_semi")
        .withColumn("_stored", F.lit(True))
    )
    return (
        comps.join(stored, "doc_id", "left")
        .selectExpr("doc_id", "comp_id", "_stored IS NULL AS is_incoming")
        .selectExpr(
            "doc_id",
            "is_incoming",
            "bool_or(NOT is_incoming) OVER (PARTITION BY comp_id) AS has_existing",
            "min(IF(is_incoming, doc_id, NULL)) OVER (PARTITION BY comp_id)"
            " AS min_incoming",
        )
        .where("is_incoming AND (has_existing OR doc_id != min_incoming)")
        .select("doc_id")
    )


def delta_dedup_admit(
    docs: DataFrame,
    incoming_pct: int = 30,
    threshold: float = 0.8,
    length_tol: int = 60,
    salt: str = "ingest-v1",
    incoming_col: str | None = None,
    pairs: DataFrame | None = None,
    comps: DataFrame | None = None,
) -> DataFrame:
    """Batch delta-ingest dedup: which INCOMING documents may join an
    EXISTING corpus? A doc is admitted iff its transitive near-dup
    cluster (over the UNION graph) contains no existing doc AND it is
    the minimum-id incoming member of that cluster (singletons trivially
    qualify). Closure, not pairwise: an incoming doc chained to an
    existing one through another incoming doc is a dup of corpus content
    and must be rejected even though it has no direct edge to the corpus
    — the case per-pair checks miss.

    The existing/incoming sides are carved from ``docs`` by the same
    deterministic md5 coin as :func:`~magiceye_spark.llmops.pipeline.hash_split`
    (content-independent, engine-reproducible), ``incoming_pct`` percent
    incoming — or, when ``incoming_col`` names an existing boolean
    column, directly from the caller's batch flag (the production shape:
    the incoming side IS the new ingest batch). The pair relation is computed ONCE over the union — exactly
    the all-pairs Jaccard twin — so the oracle reuses the shared edges
    CTE; at corpus scale feed MinHash-LSH pairs between the incoming
    batch and the (pre-signed) corpus index into
    :func:`connected_components` the same way.

    Output: the admitted incoming rows with the CALLER's columns — the
    operator only requires (doc_id, text), so the projection must not
    assume any corpus schema beyond that (registry row keeps the oracle's
    lean 4-column projection).
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    if incoming_col is not None:
        flagged = docs.withColumn("is_incoming", F.col(incoming_col))
    else:
        flagged = docs.withColumn("is_incoming", bucket >= (100 - incoming_pct))
    if comps is None:
        comps = dup_graph_components(
            docs, threshold=threshold, length_tol=length_tol, pairs=pairs
        )
    labeled = flagged.join(comps, "doc_id", "left")
    verdicts = (
        labeled.where(F.col("comp_id").isNotNull())
        .groupBy("comp_id")
        .agg(
            F.max(F.when(~F.col("is_incoming"), 1).otherwise(0)).alias("has_existing"),
            F.min(F.when(F.col("is_incoming"), F.col("doc_id"))).alias("min_incoming"),
        )
    )
    return (
        labeled.where(F.col("is_incoming"))
        .join(verdicts, "comp_id", "left")
        .where(
            F.col("comp_id").isNull()
            | ((F.col("has_existing") == 0) & (F.col("doc_id") == F.col("min_incoming")))
        )
        .select(*docs.columns)
    )


def sql_delta_dedup_admit(
    incoming_pct: int = 30,
    threshold: float = 0.8,
    length_tol: int = 60,
    salt: str = "ingest-v1",
) -> str:
    return (
        "WITH RECURSIVE "
        + _sql_edges_cte(threshold, length_tol)
        + f""",
flagged AS (
  SELECT doc_id, lang, source, n_chars,
         CAST(CONCAT('0x', substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
           >= (100 - {incoming_pct}) AS is_incoming
  FROM documents
),
labeled AS (
  SELECT f.*, c.comp_id FROM flagged f LEFT JOIN comps c ON f.doc_id = c.doc_id
),
verdicts AS (
  SELECT comp_id,
         MAX(CASE WHEN NOT is_incoming THEN 1 ELSE 0 END) AS has_existing,
         MIN(CASE WHEN is_incoming THEN doc_id END) AS min_incoming
  FROM labeled WHERE comp_id IS NOT NULL GROUP BY comp_id
)
SELECT l.doc_id, l.lang, l.source, l.n_chars
FROM labeled l LEFT JOIN verdicts v ON l.comp_id = v.comp_id
WHERE l.is_incoming
  AND (l.comp_id IS NULL OR (v.has_existing = 0 AND l.doc_id = v.min_incoming))"""
    )


# ------------------------------------------------- leakage-safe splitting

def leakage_safe_split(
    docs: DataFrame,
    train_pct: int = 90,
    threshold: float = 0.8,
    length_tol: int = 60,
    salt: str = "split-v1",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Train/eval split at NEAR-DUP-CLUSTER granularity: the split coin is
    tossed on ``split_unit`` = the doc's transitive dedup-cluster id
    (``comp_id`` from :func:`dup_graph_components`; the doc's own id for
    singletons), so two documents connected by ANY chain of near-dup
    pairs always land on the same side — by construction, zero straddling
    pairs. This is the prevention counterpart of ``leakage_pairs`` /
    ``split_leakage_audit``, which only *detect* eval docs with training
    near-twins after a doc-granular split has already leaked.

    Same determinism contract as :func:`magiceye_spark.llmops.pipeline.
    hash_split`: md5(salt ∥ unit) mod 100 — reproducible across engines,
    runs, and cluster layouts; the salt versions the split; new data
    joins its cluster's side forever (as long as the closure is rebuilt
    before assignment, the delta-ingest pattern of ``delta_dedup_admit``).

    Scale shape: the closure is the iterative pointer-jump components
    (O(log diameter) bounded shuffles over the EDGE list); assignment is
    one left join of docs against the label frame (only docs with >= 1
    pair) plus a map-side hash — no new shuffle class beyond what dedup
    already paid. EAGER like the closure it builds on.
    ``pairs``: precomputed edge set, see :func:`near_dup_pairs`.
    """
    comps = dup_graph_components(
        docs, threshold=threshold, length_tol=length_tol, pairs=pairs
    )
    unit = F.coalesce(F.col("comp_id"), F.col("doc_id"))
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), unit.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        docs.join(comps, "doc_id", "left")
        .select(
            "doc_id",
            unit.alias("split_unit"),
            F.when(bucket < train_pct, F.lit("train"))
            .otherwise(F.lit("eval"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


def sql_leakage_safe_split(
    train_pct: int = 90,
    threshold: float = 0.8,
    length_tol: int = 60,
    salt: str = "split-v1",
) -> str:
    return (
        "WITH RECURSIVE "
        + _sql_edges_cte(threshold, length_tol)
        + f"""
SELECT d.doc_id,
       COALESCE(c.comp_id, d.doc_id) AS split_unit,
       CASE WHEN CAST(CONCAT('0x', substr(md5('{salt}' || CAST(COALESCE(c.comp_id, d.doc_id) AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < {train_pct}
            THEN 'train' ELSE 'eval' END AS split
FROM documents d LEFT JOIN comps c ON d.doc_id = c.doc_id
ORDER BY d.doc_id"""
    )
