"""Connected components over an edge list (EXT: dedup-cluster resolution).

The canonical last step of near-duplicate removal at 100 TB: pair finders
(MinHash-LSH `functions/dedup.py:near_dup_pairs_minhash`, n-gram Jaccard
`ngram_jaccard_pairs`, embedding LSH) emit *pairs*; turning pairs into
keep/drop decisions needs the transitive closure — if A~B and B~C, then
{A,B,C} is one duplicate cluster even when A and C never matched directly.

Spark has no built-in graph operator, so this is iterative min-label
propagation with pointer jumping (Shiloach-Vishkin shortcutting):

* state: one (id, comp) label per vertex, initialized comp = id;
* step:  every vertex takes the min of its own label and its neighbors'
  labels, then follows that label one hop through the label table
  (comp <- comp[comp]) — one neighbor join + one groupBy + one narrow
  self-join per iteration;
* stop:  when an iteration changes no label (driver-side count — the one
  place a driver round-trip is inherent, same as any iterative algorithm's
  convergence test).

Scale posture: the pointer jump doubles the hop distance closed per
round, so convergence needs O(log diameter) iterations (real near-dup
graphs are overwhelmingly tiny star/clique clusters, so 2-4 iterations);
each iteration shuffles only the narrow (id, comp) label frame — 8-byte
rows regardless of document payload width.  `localCheckpoint` truncates
the lineage each round so the plan doesn't grow with iteration count
(without it, iteration N replays all N-1 prior joins).  On every graph
shape measured (shallow near-dup stars, random graphs, long chains) this
ran at least as fast as Kiveris et al.'s large-star/small-star algorithm
with identical labels, so it is the only connected-components path.

No reference-repo analogue (the reference has no graph surface); cited in
SURVEY.md §2.12 EXT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..checkpointing import checkpoint_frame

__all__ = [
    "connected_components",
    "dedup_clusters",
]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    checkpoint: str | None = "local",
) -> DataFrame:
    """Resolve undirected connected components from an edge list.

    Returns one row per distinct vertex with columns ``(id, comp)`` where
    ``comp`` is the smallest vertex id reachable from ``id`` (the
    deterministic canonical cluster representative).

    ``max_iterations`` bounds the driver loop.  Each pass is min-label
    propagation (one hop per pass) followed by a pointer jump through the
    label table (``comp <- comp[comp]``), so the closed distance doubles
    per round and convergence needs O(log diameter) passes — the default
    25 covers any graph up to diameter ~2^25.  Raises ``RuntimeError`` if
    the bound is hit without convergence rather than silently returning
    partial labels.

    Vertex ids may be any orderable type (long, string hash ids, ...):
    ``min``/``least`` use the column's native ordering and no cast is
    applied.  Vertices that appear only in self-loops are dropped.

    ``checkpoint`` selects how the per-iteration frames are materialized
    ("local" default; "reliable" survives executor loss on a real cluster
    — see ``checkpointing.checkpoint_frame``).
    """
    # Undirected: materialize both directions once; drop self-loops.  The
    # eager checkpoint here is load-bearing: ``edges`` is often the output
    # of an expensive pipeline (e.g. the n-gram Jaccard pair join), and
    # without truncation that whole pipeline would re-execute inside EVERY
    # iteration's neighbor join plus the initial label build — measured 3x
    # end-to-end cost on the q94 canonicalization pass.
    #
    # Hash-partition AND sort the edge list on the join key BEFORE the
    # checkpoint: LogicalRDD captures outputPartitioning/outputOrdering, so
    # every iteration's sort-merge join reuses them and the edge side (the
    # BIG side — |edges| >= |vertices| on near-dup graphs) joins with zero
    # exchange and zero sort; only the per-iteration label frame shuffles.
    # Without this, the full edge list re-shuffled O(diameter) times.
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = checkpoint_frame(
        fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .repartition("b")
        .sortWithinPartitions("b"),
        checkpoint,
    )

    labels = checkpoint_frame(
        sym.select(F.col("a").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp")),
        checkpoint,
    )

    for _ in range(max_iterations):
        # Min label over each vertex's CLOSED neighborhood in one
        # aggregate: the neighbor join's output is unioned with a
        # synthetic (a=id, b=id, comp) self row from the label frame, so
        # min(comp) per vertex is the update rule directly and the old
        # per-round `labels LEFT JOIN nbr_min` back-attach disappears —
        # 2 exchanges per round instead of 3 (r10, guide §2.4).  The
        # self row (the only one with b == a; sym drops self loops)
        # doubles as the convergence observable: own label =
        # min(comp WHERE b == a).
        #
        # Lazy checkpoint + full count: the convergence probe is the action
        # that materializes (and lineage-truncates) the new labels — one
        # job per iteration instead of an eager-checkpoint job followed by
        # a probe job.  (A limit(1) probe would be cheaper per se, but it
        # short-circuits materialization and would leave the checkpoint
        # unpopulated for the next round.)
        contrib = sym.join(labels.withColumnRenamed("id", "b"), "b").select(
            "a", "b", "comp"
        ).union(
            labels.select(
                F.col("id").alias("a"), F.col("id").alias("b"), "comp"
            )
        )
        # LAZY checkpoint: the pointer jump below reads nbr_min twice,
        # and column pruning gives the two reads different aggregates
        # (the parent side drops __own), so exchange reuse cannot merge
        # them and the neighbor join would run twice per round.  The
        # checkpoint computes it once, when the probe below runs.
        nbr_min = checkpoint_frame(
            contrib.groupBy("a").agg(
                F.min("comp").alias("comp"),
                F.min(
                    F.when(F.col("b") == F.col("a"), F.col("comp"))
                ).alias("__own"),
            ).withColumnRenamed("a", "id"),
            checkpoint,
            eager=False,
        )
        # POINTER JUMP (r11, guide §1.2 "the distributed algorithm"):
        # follow the freshly aggregated label one hop through the label
        # table itself (comp <- comp[comp]).  Every comp value is a
        # vertex id whose own row carries a label <= itself, so the hop
        # only ever lowers labels toward the component minimum — the
        # labels stay exactly the reachable-min invariant min-label
        # maintains, but the hop distance closed per round DOUBLES:
        # O(log diameter) rounds instead of O(diameter) (Shiloach-
        # Vishkin shortcutting; measured 7 -> 4 rounds on the q264
        # hamming graph).  The extra |V|-row self-join is one narrow
        # exchange against a round saved: strictly fewer shuffled bytes
        # for any graph with diameter > 2.  Also raises the practical
        # diameter bound under ``max_iterations`` from ~25 to ~2^25.
        parent = nbr_min.select(
            F.col("id").alias("__p"), F.col("comp").alias("__pc")
        )
        new_labels = checkpoint_frame(
            nbr_min.join(parent, F.col("comp") == F.col("__p"), "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("__pc", F.col("comp"))
                ).alias("comp"),
                "__own",
            ),
            checkpoint,
            eager=False,
        )
        # the termination test stays sound under the jump: converged
        # means post-jump comp == own everywhere, and own >= pre-jump
        # >= post-jump forces the neighborhood pass itself stable too
        changed = new_labels.filter(F.col("comp") < F.col("__own")).count()
        labels = new_labels.drop("__own")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations "
        f"(graph diameter exceeds ~2^{max_iterations}; raise max_iterations)"
    )


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
    left_col: str,
    right_col: str,
    checkpoint: str | None = "local",
) -> DataFrame:
    """Pairs → keep/drop decision per document.

    ``pairs`` is any near-dup pair frame (e.g. ``near_dup_pairs_minhash``
    output); ``all_ids`` supplies the full id universe so singletons (docs
    with no near-dup) appear with themselves as keeper.  Returns
    ``(id, cluster, keep)`` where ``keep`` marks the minimum id of each
    transitive cluster — the row a dedup pass would retain.  Clusters
    come from :func:`connected_components`.
    """
    comp = connected_components(
        pairs, src=left_col, dst=right_col, checkpoint=checkpoint
    )
    universe = all_ids.select(F.col(id_col).alias("id")).distinct()
    labeled = universe.join(comp, "id", "left").select(
        "id", F.coalesce("comp", F.col("id")).alias("cluster")
    )
    return labeled.select(
        "id", "cluster", (F.col("id") == F.col("cluster")).alias("keep")
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle count by degree orientation (the compact-forward /
    node-iterator algorithm of Schank & Wagner / Chiba-Nishizeki) — the
    standard scalable formulation: orient every undirected edge from its
    lower-(degree, id) endpoint to the higher, enumerate wedges by
    joining oriented edges head-to-tail, and keep wedges whose closing
    edge exists.  Under the total orientation each triangle is counted
    EXACTLY once, and every vertex's out-degree is O(sqrt(m)) on any
    graph, so the wedge join never explodes on hub vertices — the reason
    this beats the naive 3-way edge join at 100 TB where one celebrity
    node would otherwise fan out degree² wedges.

    Input may contain duplicates, self-loops, or both directions of an
    edge — all normalized away.  Three shuffles: degree agg, wedge join,
    closing-edge semi join (broadcast when small).  Returns one row
    ``(n_vertices, n_edges, n_triangles)``.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    withdeg = (
        und.join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
    )
    oriented = withdeg.select(
        F.when(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
            F.struct(F.col("a").alias("s"), F.col("b").alias("t")),
        )
        .otherwise(F.struct(F.col("b").alias("s"), F.col("a").alias("t")))
        .alias("e")
    ).select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
    wedges = (
        oriented.select(F.col("s").alias("u"), F.col("t").alias("v1"))
        .join(
            oriented.select(F.col("s").alias("v1"), F.col("t").alias("v2")),
            "v1",
        )
        .select("u", "v2")
    )
    closed = wedges.join(
        oriented.select(F.col("s").alias("u"), F.col("t").alias("v2")),
        ["u", "v2"],
        "left_semi",
    )
    return (
        closed.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_vertices"))))
        .crossJoin(F.broadcast(und.agg(F.count(F.lit(1)).alias("n_edges"))))
        .select("n_vertices", "n_edges", "n_triangles")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint: str | None = "local",
    reset: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank (power method, no dangling-mass
    redistribution — leaked mass is the standard simplification when the
    score is used as a RANKING signal, and it keeps every iteration a
    single closed-form join both engines can replay).

    ``p_0(v) = 1/n``;
    ``p_{k+1}(v) = (1-d)/n + d * sum over in-edges of p_k(u)/outdeg(u)``.

    Distributed shape mirrors :func:`connected_components`: the edge list
    is hash-partitioned by ``src`` and checkpointed ONCE, so every
    iteration's contribution join probes a stationary, exchange-free
    build side and only the (vertex, rank) frame — 16 bytes/row — moves
    per round.  Fixed ``iterations`` (no convergence probe) keeps the
    driver out of the loop entirely.  Returns ``(id, rank)`` (8dp).

    ``reset`` turns this into PERSONALIZED PageRank (random walk with
    restart): a (id, weight) frame — weights should sum to 1 — replaces
    the uniform teleport, so both the init and the (1-d) restart term
    concentrate on the seed set.  Same per-iteration plan; the seed
    frame joins once up front.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    verts = (
        e.select(F.col("s").alias("id"))
        .unionAll(e.select(F.col("t").alias("id")))
        .distinct()
    )
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("od"))
    ready = checkpoint_frame(
        e.join(outdeg, "s").repartition(F.col("s")), checkpoint
    )
    n = verts.count()
    if reset is None:
        seeded = verts.select("id", F.lit(1.0 / n).alias("__w"))
    else:
        seeded = verts.join(
            reset.select("id", F.col("weight").alias("__w")), "id", "left"
        ).select("id", F.coalesce("__w", F.lit(0.0)).alias("__w"))
    seeded = checkpoint_frame(seeded.repartition(F.col("id")), checkpoint)
    ranks = seeded.select("id", F.col("__w").alias("rank"))
    for _ in range(iterations):
        contribs = (
            ready.join(ranks.withColumnRenamed("id", "s"), "s")
            .groupBy("t")
            .agg(F.sum(F.col("rank") / F.col("od")).alias("c"))
        )
        ranks = (
            seeded.join(contribs.withColumnRenamed("t", "id"), "id", "left")
            .select(
                "id",
                (
                    F.lit(1.0 - damping) * F.col("__w")
                    + damping * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("id", F.round("rank", 8).alias("rank"))


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) with FULLY DETERMINISTIC update order: every node starts as its
    own label; each round a node adopts the MOST FREQUENT label among its
    neighbors, ties broken by the SMALLEST label (classic LPA leaves tie
    handling to randomness — the deterministic tie-break is what makes
    the trajectory engine-replayable and test-pinnable).  Nodes keep
    their current label only when they have no neighbors.

    Edges are treated as undirected (symmetrized + deduped once).  Each
    of the fixed ``iterations`` rounds is one (node, neighbor-label)
    count shuffle + one per-node argmax — the (vertex, label) frame is
    8+8 bytes however big the graph, the same per-round traffic shape as
    :func:`pagerank`.  All arithmetic is integer: no cross-engine float
    risk anywhere.

    Returns (id, label) — nodes sharing a label form one community.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    labels = sym.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    w = Window.partitionBy("id").orderBy(F.desc("cnt"), "nbr_label")
    for _ in range(iterations):
        nbr = sym.join(
            labels.withColumnRenamed("id", "b").withColumnRenamed(
                "label", "nbr_label"
            ),
            "b",
        )
        counted = nbr.groupBy(F.col("a").alias("id"), "nbr_label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        labels = (
            counted.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("id", F.col("nbr_label").alias("label"))
        )
    return labels
