"""Connected components over a near-duplicate pair graph → dedup
clusters with canonical representatives.

Near-dup detection (MinHash/SimHash/Jaccard/embedding) emits PAIRS; a
dedup pipeline needs GROUPS — the transitive closure — so that "keep
one document per cluster" is well defined even when A~B and B~C but A
and C were never compared.  (Reference scope note: the reference engine
has no graph step; this is part of the training-data extension surface,
like the pair generators in dedup.py.)

Algorithm: minimum-label propagation.  Every node starts labeled with
its own id; each round, every node takes the min of its own label and
its neighbors' labels; fixpoint = components.  Rounds needed = graph
diameter, and near-dup graphs are short-diameter by construction
(clusters are quasi-cliques of mutually-similar documents), so the loop
converges in a handful of rounds.  For adversarial long-chain graphs
(e.g. drift chains of noised near-copies, each member similar only to
its neighbors — surfaced by the round-6 scaling probe) propagation
would need diameter rounds, so when the round budget is exhausted the
loop switches to the literature's alternating large-star/small-star
rounds (:func:`_star_components`, Kiveris et al., "Connected
Components in MapReduce and Beyond"), which converge in O(log n)
rounds on ANY graph; the simple propagation stays the fast path
because the quasi-clique graphs dedup actually produces finish it in
a handful of one-join-one-aggregate rounds.

Scale shape per round: one shuffle join (labels ⋈ edges on node) + one
hash aggregate (min label per node).  Two materialization mechanisms,
deliberately different: ``edges`` is cached and materialized through a
DataFrame action so AQE plans the expensive upstream pair pipeline
(localCheckpoint executes via the RDD path, which bypasses AQE's
runtime broadcast conversions — 3× slower at sf0.1); the per-round
label tables ARE localCheckpoint'ed, because each round references the
previous labels twice (union + join) and without lineage truncation
the logical plan doubles per round — the driver OOMs analyzing a
12-round plan long before the data hurts.  Convergence costs one action
per round (inherent to any driver-coordinated fixpoint): an exact
changed-rows anti-join of the new labels against the previous round's —
id-type-generic (string document ids are common: URLs, UUIDs) and one
full round cheaper than a monotone-sum invariant, which can only
observe a fixpoint one confirming round after reaching it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pedsnetdcc_spark.util import shuffle_partitions


def _symmetrize(df: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Both orientations of every edge in ONE pass over ``df`` — a
    self-union would execute the (potentially expensive) upstream pair
    pipeline once per branch; exploding from a single scan halves it."""
    both = F.explode(
        F.array(
            F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
            F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
        )
    )
    return df.select(both.alias("__e")).select("__e.u", "__e.v")


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Components of the undirected pair graph: ``(node, component)``
    with ``component`` = min node id reachable from ``node``.  Only
    nodes appearing in ``pairs`` are returned (isolated documents are
    their own cluster — join back with a coalesce, see
    :func:`assign_clusters`).
    """
    # ONE exchange for the whole fixpoint (round-14, guide §2.4): the
    # symmetric edge table is hash-partitioned by the DESTINATION
    # endpoint ``v`` before the dedup and cached that way.  Every
    # per-round message aggregate groups by ``v`` (the incoming-label
    # min per node), and HashPartitioning(v) satisfies the clustering
    # the dedup (u,v) and the aggregate (v) both require, so neither
    # the dedup nor ANY round's aggregate adds an Exchange — rounds
    # reuse the one partitioning established here.  The width is the
    # session's configured shuffle parallelism (explicit, so AQE
    # cannot coalesce it away under the small label tables and
    # re-serialize the rounds).
    n_part = shuffle_partitions(pairs.sparkSession)
    edges = (
        _symmetrize(pairs, src, dst)
        .repartition(n_part, "v")
        .dropDuplicates()
        .cache()
    )
    # Materialize the cache through a DataFrame action so AQE plans the
    # (potentially expensive) pair pipeline — executing it lazily from
    # inside a localCheckpoint would go through the RDD path, which
    # bypasses AQE's runtime broadcast conversions (measured 3× slower
    # at sf0.1).  Every later round then reads edges from memory.
    edges.count()
    # Per-round label tables are localCheckpoint'ed: each round's plan
    # references the previous round's labels TWICE (union + join), so
    # without lineage truncation the logical plan doubles per round and
    # the driver OOMs analyzing it long before the data hurts.  The
    # checkpointed data is two slim columns — the RDD-path execution
    # cost is negligible, and the expensive upstream is already cached.
    # Seed labels with the 1-hop neighborhood min straight from the
    # edge list (min over {node} ∪ neighbors) — a whole propagation
    # round folded into the init aggregate for free, so quasi-clique
    # graphs finish after a single confirming round.  Grouped by the
    # DESTINATION ``v`` (symmetric edges make min-over-in-neighbors ==
    # min-over-out-neighbors), so the seed aggregate rides the cached
    # ``v`` partitioning with no exchange — and the seed labels come
    # out hash-partitioned by node, which every round's label join
    # below reuses.
    # eager=False throughout: the action that immediately follows each
    # checkpoint (the seed's count, each round's changed-rows count)
    # materializes it in the SAME job, where eager=True would run a
    # separate materialization job first — one driver action per round
    # instead of two (measured 3.85 → 3.37 s on the sf0.1
    # dedup_clusters bench; 2-hop rounds were also tried and lost, the
    # join work dominates over round overhead at this size).
    labels = (
        edges.groupBy(F.col("v").alias("node"))
        .agg(F.least(F.min("u"), F.first("v")).alias("component"))
        .localCheckpoint(eager=False)
    )

    # Convergence = exact changed-rows test, computed INLINE in each
    # round's label join (a ``new < old`` flag on the updated labels —
    # round-14; it replaced an equivalent anti-join of new vs previous
    # labels).  Labels only ever decrease, so zero changed
    # rows ⟺ fixpoint.  Chosen over the earlier monotone-sum invariant
    # (Σ component, decimal-accumulated) for two measured reasons: the
    # sum needs one extra CONFIRMING round (it only observes that the
    # round it just ran changed nothing — 5.0 s → 3.8 s on the sf0.1
    # dedup_clusters bench), and it is id-type-generic — casting string
    # ids (URLs, UUIDs) to decimal yields NULL, degenerating the sum
    # check to None == None after a single round and silently
    # under-merging any component of diameter > ~3.

    # The checkpointed-round plans never see AQE, so make the one join
    # decision AQE would have made statically: the label table's size is
    # known exactly (nodes in the pair graph — small relative to the
    # corpus by construction), so broadcast it under the cutoff and no
    # round ever shuffles the edge table.
    n_nodes = labels.count()
    if n_nodes == 0:  # empty pair set: nothing to propagate
        edges.unpersist()
        return labels
    broadcast_labels = n_nodes <= 8_000_000

    # Round shape (round-14, guide §2.4 — share one exchange across
    # rounds): the incoming-label min per node aggregates over the
    # cached ``v``-partitioned edges (broadcast label join preserves
    # the streamed side's partitioning; the rename is a projection, so
    # the aggregate needs NO exchange), then ONE node-keyed join folds
    # min-with-own-label AND the changed-rows convergence test into
    # the same pass — both sides are hash-partitioned by node at the
    # same width, so the join is exchange-free too.  Per round:
    # zero Exchanges on the broadcast path (previously one node-keyed
    # exchange of labels ∪ messages per round) and still exactly one
    # action.  Labels only ever decrease, so ``new < old`` on any row
    # ⟺ the anti-join this replaces would be non-empty.
    for _ in range(max_iter):
        prev = labels
        lab_u = labels.withColumnRenamed("node", "u")
        msgs_min = (
            edges.join(F.broadcast(lab_u) if broadcast_labels else lab_u, "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("component").alias("__m"))
        )
        upd = (
            prev.join(msgs_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("__m", "component")
                ).alias("component"),
                (F.coalesce("__m", "component") < F.col("component")).alias(
                    "__chg"
                ),
            )
            .localCheckpoint(eager=False)
        )
        changed = upd.where("__chg").count()
        labels = upd.select("node", "component")
        if changed == 0:
            edges.unpersist()
            return labels
    # Diameter exceeded the round budget — a long-chain graph (e.g.
    # drift chains of noised near-copies, each member similar only to
    # its neighbors).  Switch to the O(log n)-round alternating-star
    # algorithm instead of failing; the quasi-clique fast path above
    # stays untouched for the graphs dedup actually produces.
    # Contract the graph through the partial labels first: edges whose
    # endpoints already share a label collapse to self-loops (dropped
    # inside the star rounds), so the max_iter completed propagation
    # rounds SHRINK the star input instead of being discarded — the
    # star algorithm resolves only the unconverged quotient graph.
    lab_u = labels.select(F.col("node").alias("u"), F.col("component").alias("lu"))
    lab_v = labels.select(F.col("node").alias("v"), F.col("component").alias("lv"))
    contracted = (
        edges.join(F.broadcast(lab_u) if broadcast_labels else lab_u, "u")
        .join(F.broadcast(lab_v) if broadcast_labels else lab_v, "v")
        .select(F.col("lu").alias("u"), F.col("lv").alias("v"))
    )
    roots = _star_components(_symmetrize(contracted))
    # node -> root(label(node)).  A label whose group is already fully
    # converged is isolated in the quotient (the star output omits it):
    # keep its propagation label — which also preserves nodes appearing
    # only in self-pairs, matching the fast path's contract that every
    # node of ``pairs`` is returned.
    lbl_root = roots.select(
        F.col("node").alias("component"), F.col("component").alias("__root")
    )
    final = labels.join(
        F.broadcast(lbl_root) if broadcast_labels else lbl_root, "component", "left"
    ).select("node", F.coalesce("__root", "component").alias("component"))
    edges.unpersist()
    return final


def _star_components(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") — converges in
    O(log n) rounds on ANY graph, including paths, where plain
    min-label propagation needs diameter rounds.

    ``edges`` must contain BOTH orientations of every undirected edge.
    Each round: large-star points every neighbor larger than ``u`` at
    ``u``'s neighborhood minimum, small-star does the same for the
    smaller neighbors (operating on larger→smaller oriented edges);
    the fixpoint is a star forest, read out as (node, component).

    Round cost is the same shape as a propagation round (one aggregate
    + one join over the edge set), and the per-round edge tables are
    lineage-truncated exactly like the label tables above.

    Self-loops are dropped, so nodes appearing ONLY in self-loop edges
    are absent from the output — the fallback caller coalesces against
    its propagation labels to preserve them.
    """

    def canonical(e: DataFrame) -> DataFrame:
        return e.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).where(F.col("u") != F.col("v")).distinct()

    cur = canonical(edges).localCheckpoint(eager=False)
    for _ in range(max_rounds):
        # large-star: for each u over the symmetric view, attach every
        # LARGER neighbor to m = min({u} ∪ Γ(u))
        sym = _symmetrize(cur)
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star: orient larger→smaller; attach u and its smaller
        # neighbors to the minimum of that in-neighborhood
        lo = canonical(large).localCheckpoint(eager=False)
        directed = lo.select(F.col("v").alias("u"), F.col("u").alias("v"))
        mins2 = directed.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            directed.join(mins2, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                        F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                    )
                ).alias("__e")
            )
            .select("__e.u", "__e.v")
        )
        nxt = canonical(small).localCheckpoint(eager=False)
        same_size = nxt.count() == lo.count() == cur.count()
        if same_size and nxt.join(cur, ["u", "v"], "left_anti").count() == 0:
            # fixpoint: a star forest with the component MINIMUM as the
            # center — in canonical (u=least, v=greatest) orientation
            # the root is u; leaves label u, the root labels itself
            return (
                nxt.select(F.col("v").alias("node"), F.col("u").alias("component"))
                .unionByName(
                    nxt.select(F.col("u").alias("node"), F.col("u").alias("component"))
                )
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
        cur = nxt
    raise RuntimeError(
        f"alternating-star rounds did not converge in {max_rounds} rounds"
    )


def assign_clusters(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    cluster_col: str = "cluster_id",
    max_iter: int = 25,
) -> DataFrame:
    """Every row of ``df`` labeled with its dedup cluster id: the min
    id of its connected component in the pair graph, or its own id when
    it appears in no pair.  ``keep = (id == cluster_id)`` then selects
    one canonical document per cluster."""
    comp = connected_components(pairs, src, dst, max_iter).withColumnRenamed(
        "node", id_col
    )
    return (
        df.join(comp, id_col, "left")
        .withColumn(cluster_col, F.coalesce(F.col("component"), F.col(id_col)))
        .drop("component")
    )


def select_survivors(
    df: DataFrame,
    cluster_col: str,
    order_by: list,
    keep_col: str = "is_survivor",
) -> DataFrame:
    """Flag ONE canonical row per dedup cluster — the quality-ranked
    survivor selection step that turns cluster labels into a deduped
    corpus (``filter(is_survivor)``).  ``order_by`` ranks rows within a
    cluster best-first (e.g. ``[F.col("quality").desc(), F.col("id")]``
    — always end with a unique id so the choice is deterministic).

    The min-id convention (``id == cluster_id``) keeps an ARBITRARY
    member; real curation keeps the best one (longest, highest quality
    score, most recent crawl) — the "keep best document per cluster"
    step of published dedup pipelines.

    Scale shape: one window over ``cluster_col`` (a single hash
    exchange on the cluster key; clusters are near-dup families, so
    partitions are small and skew-free).  The flag column keeps the
    non-survivors addressable (for lineage/reporting); a caller that
    only wants the deduped corpus can instead filter
    ``row_number() = 1`` directly, which Spark 4 rewrites to
    WindowGroupLimit (per-partition top-1)."""
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col).orderBy(*order_by)
    return df.withColumn(keep_col, F.row_number().over(w) == F.lit(1))
