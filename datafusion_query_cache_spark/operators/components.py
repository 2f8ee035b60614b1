"""Connected components + canonical-document selection for dedup pipelines.

The missing third stage of near-dedup: candidate PAIRS (MinHash/SimHash/
embedding LSH, :mod:`.dedup` / :mod:`.similarity`) form a similarity graph;
transitively-connected docs are one duplicate *cluster*; the pipeline keeps
one canonical doc per cluster. (The reference engine has no graph stage —
this is part of the beyond-reference training-data surface the brief asks
for; pair generation parity is covered by the `op_minhash_pairs` /
`op_ngram_jaccard` oracle queries.)

Algorithm: iterative min-label propagation with pointer jumping
(label(u) ← min over {label(u)} ∪ {label(v): v∈Γ(u)} ∪ {label(label(u))}).
The neighbor-min step alone converges in O(diameter) rounds; the
pointer-jump step (path halving) makes long chains collapse in O(log n)
rounds — the same round complexity as the large-star/small-star MapReduce
formulation (Kiveris et al., "Connected Components in MapReduce and
Beyond"), but expressed as two shuffles per round of plain DataFrame
joins/aggregations, so Catalyst/AQE handle skew and partial aggregation.

Scale notes (100 TB):
* State per round is one (id, component) row per node and the symmetrized
  edge list — both shuffled on id. No per-component fan-in hotspot: the
  min-label aggregation is a map-side-combinable ``min``.
* Each round ``localCheckpoint``s the new label frame — without lineage
  truncation the plan doubles per iteration and analysis time explodes
  long before data size matters. On a real cluster prefer
  ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` (reliable
  storage) for fault tolerance; local mode uses localCheckpoint.
* Dedup similarity graphs are overwhelmingly singletons + small dense
  clusters, so rounds-to-converge is ~2-3 in practice; ``max_iter`` is a
  guard, not a tuning knob.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spread import exec_session, is_small_input, on_session


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: Optional[DataFrame] = None,
    node_col: Optional[str] = None,
    max_iter: int = 50,
    nodes_cover_edges: bool = False,
) -> DataFrame:
    """Label each node with the MINIMUM node id reachable from it (the
    canonical component id). Returns ``(id, component)``.

    ``edges`` is an undirected pair list (each pair once, either order).
    ``nodes`` (optional) adds isolated nodes — docs with no near-dup pair —
    which come back as singleton components (``component = id``).
    ``nodes_cover_edges=True`` asserts ``nodes`` is a DISTINCT superset of
    every edge endpoint (true whenever edges come from pairing rows of the
    node table itself, the dedup case).

    r17 opt (guide §2.3 — don't move bytes the computation never needs):
    the label-propagation loop iterates over EDGE ENDPOINTS ONLY. Isolated
    nodes are by definition their own singleton component, so carrying
    them through every round's three joins (the pre-r17 shape seeded the
    loop with ALL of ``nodes``) multiplied each round's shuffles by
    |corpus| / |near-dup docs| — at 100 TB that ratio is enormous (dedup
    graphs are overwhelmingly singletons). They are now attached with ONE
    anti-join after convergence.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # localCheckpoint, not persist: it TRUNCATES the logical plan. The edge
    # list often arrives with a deep lineage (the whole LSH pipeline); a
    # merely-cached frame still drags that full tree through Catalyst on
    # every iteration reference — multi-second plan time per round —
    # while a checkpointed frame re-plans from a flat LogicalRDD.
    sym = sym.filter(F.col("u") != F.col("v")).distinct().localCheckpoint(
        eager=True
    )

    labels = sym.select(F.col("u").alias("id")).distinct()
    labels = labels.select("id", F.col("id").alias("component"))
    labels = labels.localCheckpoint(eager=True)

    # r17 opt: with AQE on, EVERY exchange of every round's three joins is
    # materialized as its own Spark stage-job (~7 jobs/round measured) —
    # pure scheduling overhead when the label/edge frames are small, which
    # dedup graphs almost always are (each job carried <1k rows here).
    # Run the loop with AQE off when the symmetrized edge list is small;
    # big graphs keep AQE's skew-join splitting, where it earns its jobs.
    #
    # r18: the smallness gate reads the checkpointed plan's SIZE ESTIMATE
    # (LogicalRDD carries the origin plan's stats — driver metadata, no
    # job) instead of the r17 ``sym.count()``, which paid a dedicated
    # O(edges) Spark job on EVERY call just to pick the scope — and a
    # byte threshold respects row width where the old 10M-row one did
    # not. And the AQE-off loop now runs on the per-parent CLONE session
    # (spread.exec_session) rather than flipping the caller's session
    # conf, which leaked AQE-off into concurrent unrelated queries (r17
    # advice). The returned label frame is rebound to the CALLER's
    # session, so downstream plans keep the caller's configuration.
    spark = edges.sparkSession
    run = spark
    if is_small_input(sym):
        try:
            clone = exec_session(spark)
            if clone is not None:
                sym, labels = on_session(sym, clone), on_session(labels, clone)
                run = clone
        except Exception:
            run = spark  # the loop runs on the caller's session, AQE on
    labels = _propagate(sym, labels, max_iter)
    if run is not spark:
        labels = on_session(labels, spark)
    if nodes is not None:
        # isolated nodes: one anti-join, never iterated (see the r17 opt
        # note above). ``nodes_cover_edges`` nodes are a superset of the
        # endpoints, so the union below is exactly the old full label set;
        # without the flag, endpoints missing from ``nodes`` still label
        # themselves through the loop, as before.
        nc = node_col or nodes.columns[0]
        singles = nodes.select(F.col(nc).alias("id"))
        if not nodes_cover_edges:
            # the pre-r17 shape deduped the union of nodes + endpoints;
            # a non-covering nodes frame may carry duplicate ids, which
            # must not become duplicate singleton rows (the covering
            # contract already promises DISTINCT nodes — no shuffle there)
            singles = singles.distinct()
        singles = singles.join(
            labels.select("id"), "id", "left_anti"
        ).select("id", F.col("id").alias("component"))
        labels = labels.unionByName(singles)
    return labels


def _propagate(sym: DataFrame, labels: DataFrame, max_iter: int) -> DataFrame:
    """The min-label + pointer-jump rounds over the endpoint label set."""
    for _ in range(max_iter):
        # neighbor min: min label over Γ(u)  (map-side combinable)
        nbr = (
            sym.join(labels, sym["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("component").alias("nbr_min"))
        )
        cand = (
            labels.join(nbr, labels["id"] == nbr["u"], "left")
            .select(
                "id",
                "component",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("c1"),
            )
        )
        # pointer jump: label of my label (path halving)
        hop = cand.select(
            F.col("id").alias("pid"), F.col("c1").alias("pcomp")
        )
        new = (
            cand.join(hop, cand["c1"] == hop["pid"], "left")
            .select(
                "id",
                "component",
                F.least(
                    F.col("c1"), F.coalesce(F.col("pcomp"), F.col("c1"))
                ).alias("new_component"),
            )
        )
        # LAZY checkpoint: the convergence count below materializes the
        # checkpointed RDD and computes `changed` in ONE job — eager=True
        # spent a separate job per round on materialization alone (r17
        # opt: one fewer Spark job per round, same truncation semantics)
        new = new.localCheckpoint(eager=False)
        changed = new.agg(
            F.sum((F.col("new_component") != F.col("component")).cast("long"))
        ).collect()[0][0]
        labels = new.select("id", F.col("new_component").alias("component"))
        if not changed:
            break
    return labels


def near_dedup_keep(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    quality_col: Optional[str] = None,
) -> DataFrame:
    """Drop near-duplicates: keep ONE canonical doc per similarity cluster.

    Canonical = highest ``quality_col`` (ties → lowest id) when given, else
    lowest id. Docs in no pair survive untouched. Returns the surviving
    rows of ``docs`` plus ``cluster_id`` and ``cluster_size``.

    Plan: components over the pair graph (log-round label propagation),
    then one ``min_by``/``max_by`` aggregation per cluster and a semi-join
    back — never shuffles document text, only (id, cluster) pairs.
    """
    comp = connected_components(
        pairs,
        src=src,
        dst=dst,
        nodes=docs.select(id_col),
        node_col=id_col,
        # pairs are rows of docs paired with each other; doc_id is the key
        nodes_cover_edges=True,
    )
    if quality_col is not None:
        ranked = comp.join(
            docs.select(F.col(id_col).alias("id"), F.col(quality_col).alias("__q")),
            "id",
        )
        keep = ranked.groupBy("component").agg(
            F.expr("min_by(id, struct(-__q, id))").alias("keep_id"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
    else:
        keep = comp.groupBy("component").agg(
            F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("cluster_size")
        )
    return docs.join(
        keep.select(
            F.col("keep_id").alias(id_col),
            F.col("component").alias("cluster_id"),
            "cluster_size",
        ),
        id_col,
    )
