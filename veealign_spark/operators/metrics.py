"""Evaluation metrics + single-pass threshold sweep (A8, A9).

The reference evaluates P/R/F at every threshold in a 0.001-step grid,
re-scanning all pairs per step (train.py:195-235 — O(steps * pairs)).
Re-expressed as ONE pass: a cumulative tp/n sweep down the score order
— a plain single window at or below the adaptive size threshold (one
partition is correct and fastest there), two-level above it (range-
partition by score desc, per-partition running counts, per-partition
offset census — NO single-partition exchange); picking the argmax-F1
threshold is then a scan of the curve. O(pairs log pairs) total,
parallel across partitions on the scale path.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from veealign_spark.operators import adaptive


def pr_metrics(predicted: DataFrame, gold: DataFrame) -> DataFrame:
    """A8: one-row (tp, fp, fn, precision, recall, f1, f2, f05) for an
    accepted-pair set vs gold (formulas at train.py:219-224)."""
    p = predicted.select("ent1", "ent2").dropDuplicates().withColumn(
        "pred", F.lit(1)
    )
    g = gold.select("ent1", "ent2").dropDuplicates().withColumn("act", F.lit(1))
    # one full-outer join + one aggregate = ONE job for all three
    # counts (semi/anti/anti was three)
    row = (
        p.join(g, ["ent1", "ent2"], "full")
        .fillna(0, ["pred", "act"])
        .agg(
            F.sum(F.col("pred") * F.col("act")).alias("tp"),
            F.sum(F.col("pred") * (1 - F.col("act"))).alias("fp"),
            F.sum((1 - F.col("pred")) * F.col("act")).alias("fn"),
        )
        .first()
    )
    tp, fp, fn = int(row["tp"] or 0), int(row["fp"] or 0), int(row["fn"] or 0)
    spark = predicted.sparkSession
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0

    def fb(beta: float) -> float:
        b2 = beta * beta
        return (
            (1 + b2) * prec * rec / (b2 * prec + rec) if (prec + rec) else 0.0
        )

    row = {"tp": tp, "fp": fp, "fn": fn, "precision": prec, "recall": rec,
           "f1": fb(1.0), "f2": fb(2.0), "f05": fb(0.5)}
    return spark.createDataFrame(
        pa.Table.from_pylist([row]),
        "tp long, fp long, fn long, precision double, recall double, f1 double, f2 double, f05 double",
    )


def pr_curve(
    scores: DataFrame, gold: DataFrame, small_rows: int | None = None
) -> DataFrame:
    """A9 (single-pass form): full precision/recall curve.

    scores(ent1, ent2, score) + gold -> one row per distinct score
    (threshold candidate) with cumulative tp/fp and P/R/F1 as if the
    threshold were set at that score.

    Size-adaptive (adaptive.small_input_rows; the connected_components
    driver_threshold pattern): at or below the threshold the cumsum is
    a plain ``Window.orderBy(score desc)`` — one partition is correct
    and fastest for a curve-sized table — and above it the two-level
    device (range-partition + per-partition running sums + a P-row
    driver offset census) keeps the whole score table out of any
    single-partition Exchange. The labeled join is materialized once
    (lazy localCheckpoint + count — one job) so the size probe and the
    curve share one upstream compute; checkpoint blocks are context-
    cleaned on release, unlike persist(), which pinned them in the
    cache registry for the session lifetime.
    """
    if small_rows is None:
        small_rows = adaptive.small_input_rows()
    labeled = scores.join(
        gold.select("ent1", "ent2").withColumn("y", F.lit(1)),
        ["ent1", "ent2"],
        "left",
    ).fillna(0, ["y"]).localCheckpoint(eager=False)
    # the gold census and the size probe are independent jobs —
    # overlap them (concurrent submission from two driver threads)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as _ex:
        _g = _ex.submit(
            lambda: gold.select("ent1", "ent2").dropDuplicates().count()
        )
        _n = _ex.submit(labeled.count)
        n_gold, n_labeled = _g.result(), _n.result()
    spark = scores.sparkSession
    if n_labeled <= small_rows:
        w = Window.orderBy(F.col("score").desc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = labeled.withColumn("tp", F.sum("y").over(w)).withColumn(
            "n", F.count(F.lit(1)).over(w)
        )
    else:
        # two-level cumulative counts — the same device as scalable_rank
        n_parts = max(spark.sparkContext.defaultParallelism, 2)
        parts = (
            labeled.repartitionByRange(n_parts, F.col("score").desc())
            .sortWithinPartitions(F.col("score").desc())
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True)  # pin partition ids across reuse
        )
        w = (
            Window.partitionBy("__pid")
            .orderBy(F.col("score").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        census = (
            parts.groupBy("__pid")
            .agg(F.sum("y").alias("tp_tot"), F.count(F.lit(1)).alias("n_tot"))
            .collect()
        )
        pids, offs_tp, offs_n, off_tp, off_n = [], [], [], 0, 0
        for r in sorted(census, key=lambda r: r["__pid"]):
            pids.append(r["__pid"])
            offs_tp.append(off_tp)
            offs_n.append(off_n)
            off_tp += r["tp_tot"]
            off_n += r["n_tot"]
        off_df = spark.createDataFrame(
            pa.table({"__pid": pids or [0], "__off_tp": offs_tp or [0], "__off_n": offs_n or [0]}),
            "__pid int, __off_tp long, __off_n long",
        )
        cum = (
            parts.join(F.broadcast(off_df), "__pid")
            .withColumn("tp", F.sum("y").over(w) + F.col("__off_tp"))
            .withColumn("n", F.count(F.lit(1)).over(w) + F.col("__off_n"))
        )
    curve = (
        # ties: keep the last row per score so every threshold includes
        # ALL pairs at that score (>= semantics, test.py:368)
        cum.groupBy("score")
        .agg(F.max("tp").alias("tp"), F.max("n").alias("n"))
        .withColumn("fp", F.col("n") - F.col("tp"))
        .withColumn("precision", F.col("tp") / F.col("n"))
        # max(n_gold, 1): an empty gold makes recall 0, not an ANSI
        # divide-by-zero error
        .withColumn("recall", F.col("tp") / F.lit(float(max(n_gold, 1))))
    )
    return curve.withColumn(
        "f1",
        F.when(
            F.col("precision") + F.col("recall") > 0,
            2 * F.col("precision") * F.col("recall")
            / (F.col("precision") + F.col("recall")),
        ).otherwise(F.lit(0.0)),
    ).select("score", "tp", "fp", "n", "precision", "recall", "f1")


def best_threshold(scores: DataFrame, gold: DataFrame) -> tuple[float, float]:
    """Argmax-F1 threshold from the curve (train.py:608-611 semantics:
    model selection maximizes F1; grid step collapses to the exact
    attained score levels, which dominate any grid)."""
    row = (
        pr_curve(scores, gold)
        .orderBy(F.col("f1").desc(), F.col("score").desc())
        .select("score", "f1")
        .first()
    )
    return (float(row["score"]), float(row["f1"])) if row else (1.0, 0.0)


def best_threshold_by_group(
    labeled: DataFrame, group_col: str = "grp"
) -> DataFrame:
    """Per-group argmax-F1 threshold — the library form of the
    per-pair threshold mode (plans/oaei_eval.py evaluate_track
    per_pair_threshold=True; OAEI local-optimum convention).

    labeled(group_col, score, y) -> one row per group:
    (group_col, thr, tp, n, f1) where thr is the attainable score
    level maximizing F1 within the group (ties: highest score, i.e.
    fewest emissions), tp/n the cumulative counts at that level and f1
    the attained value.

    Scale shape: levels aggregate per (group, score) with map-side
    combine; both the cumulative sweep and the argmax pick are windows
    PARTITIONED BY the group — work parallelizes across groups and no
    single-partition exchange appears for any number of groups. Within
    one group the state is level-count-sized, the same bound as one
    pr_curve. Aggregating to distinct levels first also makes every
    cumulative row attainable (a mid-level row is not a real >=
    threshold — the r5 level-last fix)."""
    g = F.col(group_col)
    levels = labeled.groupBy(group_col, "score").agg(
        F.sum("y").alias("tp_s"), F.count(F.lit(1)).alias("n_s")
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gold = labeled.groupBy(group_col).agg(F.sum("y").alias("n_gold"))
    cum = (
        levels.withColumn("tp", F.sum("tp_s").over(w_cum))
        .withColumn("n", F.sum("n_s").over(w_cum))
        .join(gold, [group_col])
        .withColumn("p_c", F.col("tp") / F.col("n"))
        .withColumn("r_c", F.col("tp") / F.greatest("n_gold", F.lit(1)))
        .withColumn(
            "f1",
            F.when(
                F.col("p_c") + F.col("r_c") > 0,
                2 * F.col("p_c") * F.col("r_c")
                / (F.col("p_c") + F.col("r_c")),
            ).otherwise(F.lit(0.0)),
        )
    )
    w_best = Window.partitionBy(group_col).orderBy(
        F.col("f1").desc(), F.col("score").desc()
    )
    return (
        cum.withColumn("__rn", F.row_number().over(w_best))
        .filter(F.col("__rn") == 1)
        .select(g, F.col("score").alias("thr"), "tp", "n", "f1")
    )
