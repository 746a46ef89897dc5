"""Canonicalization: connected components over the match graph (G3).

The reference emits every above-threshold pair directly (test.py:368)
and relies on the threshold for one-to-one-ness; the north_star
specifies explicit cluster resolution.

Distributed algorithm: min-label propagation WITH pointer jumping —
each round every node adopts the min label in its neighbourhood, and
labels are then short-circuited through one label-on-label self-join
(label(x) := label(label(x))), which doubles the propagation distance
per round. Convergence is O(log diameter) rounds (the same asymptotics
as the large-star/small-star construction of Kiveris et al., SoCC 2014,
achieved here by jumping rather than by edge rewriting). Exhausting
max_iter without a fixpoint raises instead of silently returning split
components. localCheckpoint per round cuts lineage (same hazard class
as G1 — SURVEY.md §4.2).

Alignment match graphs are near-bipartite with tiny components (2-4
rounds typical); the driver union-find handles the common
entity-universe-sized case with zero shuffle rounds.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    driver_threshold: int = 500_000,
) -> DataFrame:
    """edges(ent1, ent2) -> (entity, canon_id) with canon_id = the
    lexicographic min entity of the component.

    Scale-adaptive (same shape as Spark's broadcast-join threshold):
    a match graph under `driver_threshold` edges is solved exactly
    with a driver-side union-find (one collect, zero shuffle rounds);
    larger graphs run the distributed pointer-jumping loop. Alignment
    match graphs are tiny relative to the corpus (entity-universe-
    sized), so the driver path is the common case even at 10^12 turns.
    The 500k default keeps the collected Rows in the low hundreds of
    MB of py4j traffic (round-1 review sized 2M Rows as too hot).

    The size probe and the driver-path fetch are ONE bounded job:
    limit(threshold+1).collect() — at most threshold+1 Rows ever reach
    the driver, an under-threshold graph is already in hand (no second
    pass), and an over-threshold one routes to the distributed loop
    after a short-circuited scan instead of paying a full count."""
    # Arrow transfer (toPandas) instead of py4j Row collect: the probe
    # moves the same <= threshold+1 rows, minus the Row-object overhead
    # (measured ~2x on a 140k-edge graph)
    head = edges.select("ent1", "ent2").limit(driver_threshold + 1).toPandas()
    if len(head) <= driver_threshold:
        return _union_find_pairs(
            head["ent1"].tolist(), head["ent2"].tolist(), edges.sparkSession
        )
    return _distributed_cc(edges, max_iter)


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Unbounded driver union-find: the reference the distributed
    loop is tested against."""
    pdf = edges.select("ent1", "ent2").toPandas()
    return _union_find_pairs(
        pdf["ent1"].tolist(), pdf["ent2"].tolist(), edges.sparkSession
    )


def _union_find_pairs(e1: list, e2: list, spark) -> DataFrame:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for ra, rb in zip(e1, e2):
        a, b = find(ra), find(rb)
        if a != b:
            # min label becomes the root (canon_id = component min)
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
        parent.setdefault(a, a)
        parent.setdefault(b, b)
    out = pa.table({"entity": list(parent), "canon_id": [find(x) for x in parent]})
    # an Arrow table becomes a LocalRelation, empty or not; a list of
    # tuples (or an empty pandas frame) is re-pickled by a PythonRDD
    return spark.createDataFrame(out, "entity string, canon_id string")


def _distributed_cc(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Min-label propagation + pointer jumping: O(log diameter) rounds.

    Each round: (1) every node takes the min label over its neighbours
    and itself; (2) labels short-circuit through label(label(x)) — the
    pointer-jumping step that doubles effective propagation distance,
    so a chain of length 2^max_iter converges within max_iter rounds.
    Raises on max_iter exhaustion without fixpoint rather than return
    silently split components."""
    sym = (
        edges.select(F.col("ent1").alias("a"), F.col("ent2").alias("b"))
        .unionByName(edges.select(F.col("ent2").alias("a"), F.col("ent1").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    # label(x) = min(x, min neighbour)
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("label"))
        .select(F.col("a").alias("entity"), F.least("label", "entity").alias("label"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        # (1) propagate: new label = min over neighbours' labels and own
        nbr_labels = sym.join(
            labels.withColumnRenamed("entity", "b"), "b"
        ).select(F.col("a").alias("entity"), "label")
        new_labels = (
            labels.unionByName(nbr_labels)
            .groupBy("entity")
            .agg(F.min("label").alias("label"))
            # cut lineage before the self-join: avoids Catalyst's
            # union-constraint attribute ambiguity AND keeps the plan
            # from doubling per round
            .localCheckpoint(eager=True)
        )
        # (2) pointer jump: label(x) := label(label(x))
        jumped = (
            new_labels.alias("x")
            .join(
                new_labels.select(
                    F.col("entity").alias("label"), F.col("label").alias("ll")
                ),
                "label",
                "left",
            )
            .select("entity", F.least(F.coalesce("ll", "label"), "label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = not (
            jumped.alias("n")
            .join(labels.alias("o"), "entity")
            .filter(F.col("n.label") != F.col("o.label"))
            .isEmpty()
        )
        labels = jumped
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} pointer-"
            f"jumping rounds (graph diameter > 2^{max_iter}?) — raising "
            "rather than returning split components"
        )
    return labels.select("entity", F.col("label").alias("canon_id"))


def _kg_views(canon: DataFrame) -> dict[str, DataFrame]:
    """kg_triples (the canonical triple table itself), kg_entities and
    kg_edges, all derived from `canon` (subj, pred, obj, kind)."""
    kg_entities = (
        canon.select(F.col("subj").alias("entity"))
        .unionByName(canon.select(F.col("obj").alias("entity")))
        .distinct()
    )
    kg_edges = canon.filter(F.col("kind") == "Subclass").select(
        F.col("subj").alias("child"), F.col("obj").alias("parent")
    )
    return {"kg_triples": canon, "kg_entities": kg_entities, "kg_edges": kg_edges}


def materialize_kg(
    triples: DataFrame, clusters: DataFrame
) -> dict[str, DataFrame]:
    """Rewrite triples onto canonical ids and emit deduplicated
    kg_entities / kg_edges / kg_triples tables (north_rule graph
    materialization)."""
    c = clusters
    prefixed = triples.select(
        F.concat_ws("#", "src", "subj").alias("subj_key"),
        F.concat_ws("#", "src", "obj").alias("obj_key"),
        "pred",
        "kind",
    )
    canon = (
        prefixed.join(
            c.select(F.col("entity").alias("subj_key"), F.col("canon_id").alias("subj_canon")),
            "subj_key",
            "left",
        )
        .join(
            c.select(F.col("entity").alias("obj_key"), F.col("canon_id").alias("obj_canon")),
            "obj_key",
            "left",
        )
        .select(
            F.coalesce("subj_canon", "subj_key").alias("subj"),
            "pred",
            F.coalesce("obj_canon", "obj_key").alias("obj"),
            "kind",
        )
        .dropDuplicates()
        # lazy checkpoint: kg_triples, kg_entities (twice) and kg_edges
        # all derive from this KG-sized table — materialize the rewrite
        # join + dedup once instead of once per derived table
        .localCheckpoint(eager=False)
    )
    return _kg_views(canon)


def materialize_kg_delta(
    standing_kg_triples: DataFrame,
    standing_clusters: DataFrame,
    clusters: DataFrame,
    new_triples: DataFrame,
) -> dict[str, DataFrame]:
    """Incremental twin of materialize_kg: O(|KG| + |increment|), not
    O(corpus).

    Valid because incremental clustering only ADDS edges, so connected
    components only MERGE — every entity's new canon is a function of
    its old canon (new = min of the merged component that absorbed
    old). The standing canonical triple table can therefore be
    REMAPPED through a tiny (old_canon -> new_canon) broadcast map
    (entities previously unassigned count their own key as old canon),
    unioned with the canon rows of the new triples, and re-deduped —
    the dedup now runs over KG-sized + increment-sized data instead of
    re-scanning and re-deduplicating every source triple of the
    standing corpus, which at 10^12 turns is the difference between
    touching the KG and rewriting the world. Equality with the full
    materialize_kg over the union is pinned by
    tests/test_incremental.py (single and chained increments)."""
    newa = clusters.select("entity", F.col("canon_id").alias("new_canon"))
    olda = standing_clusters.select(
        "entity", F.col("canon_id").alias("old_canon")
    )
    remap = (
        newa.join(olda, "entity", "left")
        .withColumn("old_canon", F.coalesce("old_canon", "entity"))
        .select("old_canon", "new_canon")
        .filter(F.col("old_canon") != F.col("new_canon"))
        .dropDuplicates()
    )

    def _remap(df, col):
        return (
            df.join(
                F.broadcast(remap.withColumnRenamed("old_canon", col)),
                col,
                "left",
            )
            .withColumn(col, F.coalesce("new_canon", col))
            .drop("new_canon")
        )

    # joins move the key column to the front — restore the canonical
    # (subj, pred, obj, kind) order so chained results stay congruent
    # with materialize_kg output
    remapped = _remap(_remap(standing_kg_triples, "subj"), "obj").select(
        "subj", "pred", "obj", "kind"
    )
    new_rows = materialize_kg(new_triples, clusters)["kg_triples"]
    canon = remapped.unionByName(new_rows).dropDuplicates()
    return _kg_views(canon)


def one_to_one_filter(
    scores: DataFrame,
    threshold: float | None = None,
    per_source_pair: bool = False,
) -> DataFrame:
    """Symmetric-best one-to-one alignment resolution.

    The reference relies on the tuned threshold for one-to-one-ness
    (it emits every pair >= threshold, test.py:368); the north_star
    names greedy 1:1 resolution as the canonicalization intent. Exact
    greedy matching is inherently sequential; the standard distributed
    one-pass approximation keeps a pair iff it is the argmax for BOTH
    of its endpoints (symmetric best match) — every kept pair would
    also be kept by greedy, so precision only improves. Ties break by
    the partner id for determinism.

    per_source_pair=True scopes the argmax to each (source of ent1,
    source of ent2) pair — the reference aligns ONE ontology pair at a
    time, so in a multi-source fusion run an entity may keep one
    partner PER other source, not one partner globally (a global
    argmax silently discards ~ (S-2)/(S-1) of the true matches when S
    sources all align with each other).
    """
    from pyspark.sql import Window

    s = scores
    if threshold is not None:
        s = s.filter(F.col("score") >= threshold)
    p1 = ["ent1"]
    p2 = ["ent2"]
    if per_source_pair:
        s = s.withColumn("__s1", F.substring_index("ent1", "#", 1)).withColumn(
            "__s2", F.substring_index("ent2", "#", 1)
        )
        p1 = ["ent1", "__s2"]
        p2 = ["ent2", "__s1"]
    w1 = Window.partitionBy(*p1).orderBy(
        F.col("score").desc(), F.col("ent2").asc()
    )
    w2 = Window.partitionBy(*p2).orderBy(
        F.col("score").desc(), F.col("ent1").asc()
    )
    return (
        s.withColumn("r1", F.row_number().over(w1))
        .withColumn("r2", F.row_number().over(w2))
        .filter((F.col("r1") == 1) & (F.col("r2") == 1))
        .drop("r1", "r2", "__s1", "__s2")
    )


def validate_kg(
    clusters: DataFrame,
    accepted: DataFrame | None = None,
    kg_triples: DataFrame | None = None,
    kg_entities: DataFrame | None = None,
) -> DataFrame:
    """Distributed invariant audit of a standing KG — the post-commit
    check a 10^12-turn deployment runs after every increment/retraction
    before publishing the snapshot (cheap: every check is KG- or
    match-graph-sized aggregation, never corpus-sized).

    Returns a long-format DataFrame (invariant string, violations
    bigint); a healthy KG is all zeros. Invariants:

    - entity_multi_cluster: an entity assigned to >1 canonical id —
      the cluster table is not a partition.
    - canon_not_min: a cluster whose canon_id is not its lexicographic
      min member — violates connected_components' id contract (and
      would break materialize_kg_delta's merge-remap assumption that
      ids only ever move DOWN to the absorbed component's min).
    - cross_cluster_accepted: an accepted edge whose endpoints sit in
      different clusters (or one endpoint unassigned) — CC was not run
      to closure over the accepted set (exactly the hazard a torn
      resume or a mis-merged increment would introduce).
    - dup_kg_triples: duplicate rows in the canonical triple table —
      the delta-materialization re-dedup was skipped or incomplete.
    - dangling_kg_ref: a kg_triples subj/obj absent from kg_entities —
      the entity table is stale relative to the triple table.
    - unresolved_kg_ref: a kg_triples subj/obj that the cluster table
      maps to a DIFFERENT canonical id — a triple that escaped the
      canonical rewrite (the failure mode of a missed remap in
      materialize_kg_delta).
    """
    checks: list[DataFrame] = []

    def add(name: str, df_count: DataFrame) -> None:
        # df_count is a global agg: exactly one row, never null
        checks.append(
            df_count.select(
                F.lit(name).alias("invariant"),
                F.col("violations").cast("long").alias("violations"),
            )
        )

    add(
        "entity_multi_cluster",
        clusters.groupBy("entity")
        .agg(F.countDistinct("canon_id").alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("violations")),
    )
    add(
        "canon_not_min",
        clusters.groupBy("canon_id")
        .agg(F.min("entity").alias("m"))
        .filter(F.col("m") != F.col("canon_id"))
        .agg(F.count(F.lit(1)).alias("violations")),
    )
    if accepted is not None:
        c1 = clusters.select(
            F.col("entity").alias("ent1"), F.col("canon_id").alias("c1")
        )
        c2 = clusters.select(
            F.col("entity").alias("ent2"), F.col("canon_id").alias("c2")
        )
        add(
            "cross_cluster_accepted",
            accepted.select("ent1", "ent2")
            .join(c1, "ent1", "left")
            .join(c2, "ent2", "left")
            .filter(
                F.col("c1").isNull()
                | F.col("c2").isNull()
                | (F.col("c1") != F.col("c2"))
            )
            .agg(F.count(F.lit(1)).alias("violations")),
        )
    if kg_triples is not None:
        add(
            "dup_kg_triples",
            kg_triples.groupBy(*kg_triples.columns)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .agg(F.count(F.lit(1)).alias("violations")),
        )
        refs = kg_triples.select(F.col("subj").alias("ref")).unionByName(
            kg_triples.select(F.col("obj").alias("ref"))
        )
        if kg_entities is not None:
            add(
                "dangling_kg_ref",
                refs.distinct()
                .join(
                    kg_entities.select(F.col("entity").alias("ref")),
                    "ref",
                    "left_anti",
                )
                .agg(F.count(F.lit(1)).alias("violations")),
            )
        add(
            "unresolved_kg_ref",
            refs.distinct()
            .join(
                clusters.select(
                    F.col("entity").alias("ref"), "canon_id"
                ),
                "ref",
            )
            .filter(F.col("canon_id") != F.col("ref"))
            .agg(F.count(F.lit(1)).alias("violations")),
        )
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out
