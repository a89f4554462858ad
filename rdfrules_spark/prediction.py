"""Triple prediction + KGC evaluation (reference core:prediction/).

predict_triples     rule body bindings -> candidate head triples, tagged
                    Positive / PcaPositive / Negative exactly per reference
                    core:prediction/Instantiation.scala:37-53:
                      in KG                          -> Positive
                      head entity absent on the head predicate's
                      higherCardinalitySide          -> PcaPositive
                      otherwise                      -> Negative
score_predictions   per-triple aggregation over contributing rules:
                    NoisyOr (1 - prod(1-conf), NoisyOrScorer.scala:9-24) and
                    Maximum (MaximumScorer.scala:8-23); top contributing
                    rules kept like aggregator/TopRules.scala.
prediction_tasks    group candidates into (?,p,e)/(e,p,?) tasks on the head
                    predicate's lower-cardinality side
                    (PredictionTasksBuilder.scala:9-55) + per-task top-k
                    candidate ranking (Select.scala:8-33 TopK strategy).
evaluate_ranking    hits@k / MR / MRR over tasks with a known true answer
                    (eval/RankingEvaluationBuilder.scala:6-64).
evaluate_completeness  TP/FP/FN + precision/recall/F1 vs a test set
                    (eval/CompletenessEvaluationBuilder.scala:7-28).

Scale notes:
  * prediction is ONE job per rule *shape*, not per rule: body bindings are
    computed once per surviving (q,d1,r,d2) combo (measures.body_pairs,
    the var-only SQL text of mining/inst_sql.py through spark.sql) and
    joined to the rule table — no driver-side per-rule loop;
  * the Positive/Pca tagging joins are left-semi/left-anti against the
    (deduplicated) triple relation — no row explosion;
  * task ranking is a single window (partitionBy task) — the classic top-k
    per-group shape; AQE handles predicate skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rdfrules_spark.mining.measures import _combo_join, body_pairs

RULE_KEY = ["p", "shape", "q", "d1", "r", "d2"]


def predict_triples(
    rules: DataFrame, triples: DataFrame, conf_col: str = "cwa_confidence",
    injective: bool = False, only_covered: bool = False,
    covered: DataFrame | None = None,
) -> DataFrame:
    """Candidate triples from every rule: (s, p, o, <rule key>, conf, result).

    `rules` must carry RULE_KEY + `conf_col`; `triples` is the distinct
    (s, p, o) relation the bodies bind against (train KG).

    ``injective``: pairwise-distinct variable bindings, the reference
    Ruleset.predict default (injectiveMapping=true, Ruleset.scala:226).
    ``only_covered``: keep only predictions whose head-predicate subject OR
    object occurs in the covered triple set — onlyTestCoveredPredictions
    (Prediction.scala:62-76 isInTest pairFilter). ``covered`` selects that
    set (the TEST split in a train/test evaluation); default = `triples`
    itself (test == train).
    """
    t = triples.select("s", "p", "o")
    preds = None
    for shape in ("l2", "l3v2", "l3v3"):
        shaped = rules.where(F.col("shape") == shape)
        pairs = body_pairs(t, shaped, shape, injective=injective)
        rs = shaped.select(*RULE_KEY, F.col(conf_col).alias("conf"))
        cand = _combo_join(pairs, rs, ["q", "d1", "r", "d2"]).select(
            F.col("a").alias("s"), "p", F.col("b").alias("o"),
            "shape", "q", "d1", "r", "d2", "conf",
        )
        preds = cand if preds is None else preds.unionByName(cand)

    # --- tagging (Instantiation.scala:37-53) ---
    known = t.select("s", "p", "o").withColumn("_pos", F.lit(True))
    # higherCardinalitySide per head predicate (TripleIndex.scala:155-169):
    # side with MORE distinct values; the PCA existence check keys on it.
    side = t.groupBy("p").agg(
        F.countDistinct("s").alias("ns"), F.countDistinct("o").alias("no")
    ).select(
        "p",
        F.when(F.col("ns") >= F.col("no"), "subject").otherwise("object")
        .alias("hc_side"),
    )
    subs = t.select("p", F.col("s").alias("e")).distinct().withColumn("_se", F.lit(True))
    objs = t.select("p", F.col("o").alias("e")).distinct().withColumn("_oe", F.lit(True))

    # test-covered restriction applied at the EARLIEST point where the
    # head predicate is known — BEFORE the four tagging joins, so only
    # test-relevant candidates flow through them. This is the Spark-native
    # analog of the reference's HeadVariablePreMapping speed-up
    # (Prediction.scala:14-28): the restriction cannot change the result
    # (onlyTestCoveredPredictions re-derives the same set), only the cost.
    if only_covered and covered is not None:
        csubs = covered.select("p", F.col("s").alias("s")).distinct() \
            .withColumn("_cse", F.lit(True))
        cobjs = covered.select("p", F.col("o").alias("o")).distinct() \
            .withColumn("_coe", F.lit(True))
        preds = (
            preds.join(csubs, ["p", "s"], "left")
            .join(cobjs, ["p", "o"], "left")
            .where(
                F.coalesce(F.col("_cse"), F.lit(False))
                | F.coalesce(F.col("_coe"), F.lit(False))
            )
            .drop("_cse", "_coe")
        )
    out = (
        preds.join(known, ["s", "p", "o"], "left")
        .join(F.broadcast(side), "p")
        .join(subs.withColumnRenamed("e", "s"), ["p", "s"], "left")
        .join(objs.withColumnRenamed("e", "o"), ["p", "o"], "left")
    )
    if only_covered and covered is None:
        out = out.where(
            F.coalesce(F.col("_se"), F.lit(False))
            | F.coalesce(F.col("_oe"), F.lit(False))
        )
    head_entity_known = F.when(
        F.col("hc_side") == "subject", F.coalesce(F.col("_se"), F.lit(False))
    ).otherwise(F.coalesce(F.col("_oe"), F.lit(False)))
    return out.select(
        "s", "p", "o", "shape", "q", "d1", "r", "d2", "conf",
        F.when(F.col("_pos").isNotNull(), "Positive")
        .when(~head_entity_known, "PcaPositive")
        .otherwise("Negative")
        .alias("result"),
    )


def score_predictions(
    predictions: DataFrame, top_rules: int = 3
) -> DataFrame:
    """Per-triple aggregate: noisy_or, max_score, n_rules, top rule keys."""
    rule_id = F.concat_ws(
        "|", F.col("shape"), F.col("q"), F.col("d1"),
        F.coalesce(F.col("r").cast("string"), F.lit("-")),
        F.coalesce(F.col("d2"), F.lit("-")),
    )
    clamped = F.least(F.col("conf"), F.lit(1.0 - 1e-12))
    return (
        predictions.withColumn("_rid", rule_id)
        .groupBy("s", "p", "o", "result")
        .agg(
            (1.0 - F.exp(F.sum(F.log(1.0 - clamped)))).alias("noisy_or"),
            F.max("conf").alias("max_score"),
            F.count(F.lit(1)).alias("n_rules"),
            F.slice(
                F.reverse(F.array_sort(F.collect_list(F.struct("conf", "_rid")))),
                1, top_rules,
            ).alias("top_rules"),
        )
    )


def prediction_tasks(
    scored: DataFrame,
    triples: DataFrame,
    top_k: int = 10,
    score_col: str = "noisy_or",
) -> DataFrame:
    """(entity, p, ?fixed-side) tasks with ranked candidates.

    The predicted side is the head predicate's lowerCardinalitySide
    (PredictionTasksBuilder.FromPredicateCardinalities): fewer distinct
    values = the side worth predicting; the other side is fixed.
    """
    side = triples.groupBy("p").agg(
        F.countDistinct("s").alias("ns"), F.countDistinct("o").alias("no")
    ).select(
        "p",
        F.when(F.col("ns") < F.col("no"), "subject").otherwise("object")
        .alias("predict_side"),
    )
    tasks = scored.join(F.broadcast(side), "p").select(
        "p",
        F.col("predict_side"),
        F.when(F.col("predict_side") == "subject", F.col("o")).otherwise(F.col("s"))
        .alias("fixed_entity"),
        F.when(F.col("predict_side") == "subject", F.col("s")).otherwise(F.col("o"))
        .alias("candidate"),
        F.col(score_col).alias("score"),
        "result",
    )
    w = Window.partitionBy("p", "predict_side", "fixed_entity").orderBy(
        F.desc("score"), F.asc("candidate")
    )
    return (
        tasks.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
    )


def evaluate_ranking(
    ranked_tasks: DataFrame,
    test: DataFrame,
    ks: tuple[int, ...] = (1, 3, 10),
    train: DataFrame | None = None,
) -> DataFrame:
    """hits@k / MR / MRR: rank of each true test triple among its task's
    candidates (unranked true triples count as a miss, FromTest mode:
    eval/RankingEvaluationBuilder.scala:6-64 counts EVERY test triple).

    ``train``: training triples used to derive each predicate's predicted
    side with the same lowerCardinalitySide rule as prediction_tasks. When
    given, test triples of predicates with zero ranked tasks still enter the
    denominator as misses (predicates unseen in train default to the object
    side); deriving sides from ranked_tasks alone would silently drop those
    triples and inflate hits@k / MRR."""
    if train is not None:
        side = train.groupBy("p").agg(
            F.countDistinct("s").alias("ns"), F.countDistinct("o").alias("no")
        ).select(
            "p",
            F.when(F.col("ns") < F.col("no"), "subject").otherwise("object")
            .alias("predict_side"),
        )
        truth_base = test.select("s", "p", "o").join(
            F.broadcast(side), "p", "left"
        ).withColumn(
            "predict_side", F.coalesce(F.col("predict_side"), F.lit("object"))
        )
    else:
        side = ranked_tasks.select("p", "predict_side").distinct()
        truth_base = test.select("s", "p", "o").join(side, "p")
    truth = truth_base.select(
        "p", "predict_side",
        F.when(F.col("predict_side") == "subject", F.col("o")).otherwise(F.col("s"))
        .alias("fixed_entity"),
        F.when(F.col("predict_side") == "subject", F.col("s")).otherwise(F.col("o"))
        .alias("candidate"),
    )
    j = truth.join(
        ranked_tasks.select(
            "p", "predict_side", "fixed_entity", "candidate", "rank"
        ),
        ["p", "predict_side", "fixed_entity", "candidate"],
        "left",
    )
    aggs = [
        F.count(F.lit(1)).alias("n_tasks"),
        F.avg(F.coalesce(1.0 / F.col("rank"), F.lit(0.0))).alias("mrr"),
        F.avg(F.col("rank").cast("double")).alias("mr_found"),
    ]
    for k in ks:
        aggs.append(
            F.avg(
                F.when(F.col("rank") <= k, 1.0).otherwise(0.0)
            ).alias(f"hits_{k}")
        )
    return j.agg(*aggs)


def evaluate_completeness(predicted: DataFrame, test: DataFrame) -> DataFrame:
    """TP/FP/FN + precision/recall/F1 (CompletenessEvaluationBuilder)."""
    p = predicted.select("s", "p", "o").distinct()
    t = test.select("s", "p", "o").distinct()
    tp = p.join(t, ["s", "p", "o"], "left_semi").count()
    fp = p.join(t, ["s", "p", "o"], "left_anti").count()
    fn = t.join(p, ["s", "p", "o"], "left_anti").count()
    spark = predicted.sparkSession
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return spark.createDataFrame(
        [(tp, fp, fn, prec, rec, f1)],
        "tp bigint, fp bigint, fn bigint, precision double, recall double, f1 double",
    )


def select_candidates(
    ranked_tasks: DataFrame,
    train: DataFrame,
    strategy: str = "topk",
    k: int = 10,
) -> DataFrame:
    """Candidate selection strategies (http:task/predictionTasks/Select
    .scala:8-33; PredictionTaskResult.scala:100-117):

      'topk'  rank <= k;
      'pca'   keep the TOP-1 candidate only for tasks whose fixed entity
              has NO existing fact for the predicate in train, else none
              (selectByPca);
      'qpca'  remaining slots = averageCardinality(target side) - current
              cardinality of (fixed entity, p); keep rank <= slots
              (selectByQpca; averages rounded half-up like
              TripleIndex.countAverageCardinality).
    """
    if strategy == "topk":
        return ranked_tasks.where(F.col("rank") <= k)
    # current cardinality of the fixed entity for p on the predicted side
    cur_s = train.groupBy(
        "p", F.col("o").alias("fixed_entity")
    ).agg(F.countDistinct("s").alias("_cur")).withColumn(
        "predict_side", F.lit("subject")
    )
    cur_o = train.groupBy(
        "p", F.col("s").alias("fixed_entity")
    ).agg(F.countDistinct("o").alias("_cur")).withColumn(
        "predict_side", F.lit("object")
    )
    cur = cur_s.unionByName(cur_o)
    joined = ranked_tasks.join(
        cur, ["p", "predict_side", "fixed_entity"], "left"
    ).withColumn("_cur", F.coalesce(F.col("_cur"), F.lit(0)))
    if strategy == "pca":
        return joined.where(
            (F.col("_cur") == 0) & (F.col("rank") == 1)
        ).drop("_cur")
    if strategy == "qpca":
        # target var Subject -> averageObjectCardinality (= mean subjects
        # per object, count/#distinct objects) and vice versa
        avg = train.groupBy("p").agg(
            F.round(F.count(F.lit(1)) / F.countDistinct("o")).cast("long")
            .alias("_avg_for_subject"),
            F.round(F.count(F.lit(1)) / F.countDistinct("s")).cast("long")
            .alias("_avg_for_object"),
        )
        out = joined.join(F.broadcast(avg), "p").withColumn(
            "_slots",
            F.when(F.col("predict_side") == "subject",
                   F.col("_avg_for_subject")).otherwise(
                F.col("_avg_for_object")) - F.col("_cur"),
        )
        return out.where(F.col("rank") <= F.col("_slots")).drop(
            "_cur", "_avg_for_subject", "_avg_for_object", "_slots"
        )
    raise ValueError(strategy)


def with_modes(
    ranked_tasks: DataFrame, train: DataFrame, n_modes: int = 1
) -> DataFrame:
    """Append each predicate's most frequent target entities ("modes") to
    every task (http:task/predictionTasks/WithModes; mode stats
    core:index/TripleIndex.scala:119-127). Mode rows carry result='Mode'
    and continue the rank sequence after the task's own candidates."""
    tgt_s = train.select("p", F.col("s").alias("candidate")).withColumn(
        "predict_side", F.lit("subject")
    )
    tgt_o = train.select("p", F.col("o").alias("candidate")).withColumn(
        "predict_side", F.lit("object")
    )
    counts = tgt_s.unionByName(tgt_o).groupBy(
        "p", "predict_side", "candidate"
    ).agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy("p", "predict_side").orderBy(
        F.desc("_n"), F.asc("candidate")
    )
    modes = counts.withColumn("_mrk", F.row_number().over(w)).where(
        F.col("_mrk") <= n_modes
    )
    tasks = ranked_tasks.select(
        "p", "predict_side", "fixed_entity"
    ).distinct()
    max_rank = ranked_tasks.groupBy(
        "p", "predict_side", "fixed_entity"
    ).agg(F.max("rank").alias("_maxr"))
    mode_rows = (
        tasks.join(modes, ["p", "predict_side"])
        .join(max_rank, ["p", "predict_side", "fixed_entity"])
        # drop modes already present as candidates
        .join(
            ranked_tasks.select(
                "p", "predict_side", "fixed_entity", "candidate"
            ),
            ["p", "predict_side", "fixed_entity", "candidate"],
            "left_anti",
        )
        .select(
            "p", "predict_side", "fixed_entity", "candidate",
            F.lit(None).cast("double").alias("score"),
            F.lit("Mode").alias("result"),
            (F.col("_maxr") + F.col("_mrk")).cast("int").alias("rank"),
        )
    )
    base = ranked_tasks.select(
        "p", "predict_side", "fixed_entity", "candidate", "score",
        "result", "rank",
    )
    return base.unionByName(mode_rows)


def non_redundant_top_rules(
    predictions: DataFrame,
    rule_clusters: DataFrame,
    k: int = -1,
) -> DataFrame:
    """NonRedundantTopRules aggregator (prediction/aggregator/
    NonRedundantTopRules.scala:11-37): per predicted triple, keep only the
    best rule (confidence-first ordering) of each rule CLUSTER
    (Measure.Cluster from dbscan_clusters; rules without a cluster share
    bucket -1), then the global top-k of those cluster maxima. Feed the
    result to score_predictions for NonRedundantNoisyOr / -Maximum.

    ``predictions``: predict_triples output; ``rule_clusters``: RULE_KEY +
    ``cluster`` (ruleset.dbscan_clusters). Two partitioned windows — no
    global shuffle beyond the (s,p,o) hash partitioning.
    """
    clusters = rule_clusters.select(*RULE_KEY, "cluster")
    tagged = _combo_join(predictions, clusters, RULE_KEY, "left")
    tagged = tagged.withColumn(
        "cluster", F.coalesce(F.col("cluster"), F.lit("-1"))
    )
    rule_ord = [F.desc("conf")] + [F.asc_nulls_last(c) for c in RULE_KEY]
    w_cluster = Window.partitionBy("s", "p", "o", "cluster").orderBy(*rule_ord)
    best = tagged.withColumn(
        "_cr", F.row_number().over(w_cluster)
    ).where(F.col("_cr") == 1).drop("_cr")
    if k < 0:
        return best.drop("cluster")
    w_triple = Window.partitionBy("s", "p", "o").orderBy(*rule_ord)
    return (
        best.withColumn("_tr", F.row_number().over(w_triple))
        .where(F.col("_tr") <= k)
        .drop("_tr", "cluster")
    )


def merged_triples(train: DataFrame, test: DataFrame) -> DataFrame:
    """Train+test merged view (core:index/MergedTripleIndex,
    TrainTestIndex): the union graph used for Qpca thresholds and
    merged-binding prediction."""
    return train.select("s", "p", "o").unionByName(
        test.select("s", "p", "o")
    ).distinct()

def prediction_task_stats(ranked_tasks: DataFrame) -> DataFrame:
    """One-row task/candidate statistics (eval/StatsBuilder.scala counts
    tasks; EvaluationResult.Stats): number of tasks, total ranked
    candidates, distinct head predicates, and mean candidates per task."""
    per_task = ranked_tasks.groupBy(
        "p", "predict_side", "fixed_entity"
    ).agg(F.count(F.lit(1)).alias("n_cand"))
    return per_task.agg(
        F.count(F.lit(1)).alias("n_tasks"),
        F.sum("n_cand").alias("n_candidates"),
        F.countDistinct("p").alias("n_predicates"),
        F.round(F.avg("n_cand"), 6).alias("avg_candidates"),
    )


def tasks_to_dataset(ranked_tasks: DataFrame) -> DataFrame:
    """Ranked prediction tasks -> distinct candidate triples
    (http:task/predictionTasks/ToDataset.scala: each task row back to
    (s,p,o) with the candidate on the predicted side)."""
    return ranked_tasks.select(
        F.when(F.col("predict_side") == "subject", F.col("candidate"))
        .otherwise(F.col("fixed_entity")).alias("s"),
        "p",
        F.when(F.col("predict_side") == "subject", F.col("fixed_entity"))
        .otherwise(F.col("candidate")).alias("o"),
    ).distinct()


def predictions_to_dataset(predicted: DataFrame) -> DataFrame:
    """Predicted triples -> plain distinct dataset rows
    (http:task/prediction/ToDataset.scala)."""
    return predicted.select("s", "p", "o").distinct()
