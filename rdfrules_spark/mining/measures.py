"""Rule confidence measures (reference core:algorithm/amie/RuleCounting.scala;
definitions README.md:227-241):

  CWA confidence  = support / bodySize
  PCA confidence  = support / pcaBodySize, where pcaBodySize counts only
                    body bindings whose head entity on the predicate's
                    higherCardinalitySide exists for that predicate
                    (RuleCounting.scala:235-296; side per
                    core:index/TripleIndex.scala:155-169)

bodySize = #distinct (?a,?b) bindings of the body alone. The reference caps
counting at support/minConf+1 (perf trick, RuleCounting.scala:79-83); we
compute exact counts but only for the rules that survived mining — the
body pairs are found once per surviving (shape, q, d1, r, d2) combo, so
the heavy path join never runs for pruned rules.

One law, two executors: the body pairs and both sizes are the var-only
SQL text of mining/inst_sql.py (VAR_PAIRS, VAR_COUNTS). Above the
driver-local gate ``spark_sql`` runs it over the triples and the rules'
var rule table (``_var_table``). Below ``local_constants.LOCAL_TRIPLES_MAX``
triples and ``LOCAL_RULES_MAX`` rules, ``confidences()`` hands the rules
to ``local_constants.confidences_local``, where DuckDB runs the same
text, as it does for the constants tier's var-only rules.

Join discipline: every rule-key join goes through _combo_join, which renames
the right side's key columns before the null-safe equi-join. Joining two
DataFrames that share rule-table lineage on `left[k] == right[k]` silently
degenerates (Spark resolves both sides to one attribute -> trivially-true
predicate -> broadcast nested loop); the rename keeps the attributes
distinct so Catalyst plans a proper hash join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rdfrules_spark.mining.amie import _b
from rdfrules_spark.mining.inst_sql import HSIDE, VAR_COUNTS, VAR_PAIRS
from rdfrules_spark.mining.local_constants import (
    LOCAL_RULES_MAX,
    LOCAL_TRIPLES_MAX,
    VAR_SHAPES,
    collect_local,
    collect_triples,
    confidences_local,
)

COMBO = ["q", "d1", "r", "d2"]
#: types of the measure columns confidences appends
_MEASURES = {
    "body_size": T.LongType(), "pca_body_size": T.LongType(),
    "cwa_confidence": T.DoubleType(), "pca_confidence": T.DoubleType(),
}


def _combo_join(
    left: DataFrame, right: DataFrame, keys: list[str],
    how: str = "inner", broadcast_right: bool = False,
) -> DataFrame:
    """Null-safe equi-join with the right side's keys renamed first (see
    module docstring)."""
    ren = right
    for k in keys:
        ren = ren.withColumnRenamed(k, "_" + k)
    if broadcast_right:
        ren = F.broadcast(ren)
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col("_" + k))
        cond = c if cond is None else cond & c
    return left.join(ren, cond, how).drop(*["_" + k for k in keys])


def _side(triples: DataFrame) -> DataFrame:
    """(p, hside): mining/inst_sql.py's HSIDE, each predicate's
    higherCardinalitySide (0 subject, 1 object)."""
    return spark_sql(HSIDE, T=triples)


def spark_sql(text: str, **args) -> DataFrame:
    """A SQL text of mining/inst_sql.py or mining/mine_sql.py through
    ``spark.sql``: ``args`` names its relations (DataFrames) and scalars.
    spark.sql drops the temporary views it names its DataFrame arguments
    by, and dropping a view uncaches every cached plan with the same
    result — the caller's cached triples among them. A marker column
    makes each relation argument a different plan, which still reads
    that cache. Only the relations the text reads are marked: each mark
    is a JVM call that re-analyzes that relation's plan."""
    frames = {k: v.withColumn("_arg", F.lit(1)) for k, v in args.items()
              if isinstance(v, DataFrame) and "{" + k + "}" in text}
    return next(iter(frames.values())).sparkSession.sql(
        text, **{**args, **frames})


def _var_table(rules: DataFrame, rid: str) -> DataFrame:
    """The var-only rows of ``rules`` as mining/inst_sql.py's var rule
    table, rid from the SQL expression ``rid``: directions 0 = 'f',
    1 = 'i'; an l2 row's r = q and d2 = d1."""
    return rules.where(F.col("shape").isin(*VAR_SHAPES)).selectExpr(
        f"{rid} AS rid", "shape", "p", "q",
        "CASE WHEN d1 = 'i' THEN 1 ELSE 0 END AS d1", "coalesce(r, q) AS r",
        "CASE WHEN coalesce(d2, d1) = 'i' THEN 1 ELSE 0 END AS d2",
    )


def body_pairs(
    triples: DataFrame, rules: DataFrame, shape: str,
    injective: bool = False,
) -> DataFrame:
    """Distinct (?a,?b) body bindings per surviving rule combo of a shape:
    (q, d1, r, d2, a, b), r and d2 null for l2 — mining/inst_sql.py's
    VAR_PAIRS.

    ``injective``: pairwise-distinct variable bindings (reference
    Ruleset.computeConfidence defaults injectiveMapping=true even though
    mining counts support non-injectively — Ruleset.scala:186).
    """
    pairs = spark_sql(
        VAR_PAIRS, T=triples,
        R=_var_table(rules.where(F.col("shape") == shape), "0"),
        inj=injective,
    )
    if shape == "l2":
        r = f"CAST(NULL AS {dict(triples.dtypes)['p']}) AS r"
        d2 = "CAST(NULL AS STRING) AS d2"
    else:
        r, d2 = "r", "CASE WHEN d2 = 1 THEN 'i' ELSE 'f' END AS d2"
    return pairs.selectExpr(
        "q", "CASE WHEN d1 = 1 THEN 'i' ELSE 'f' END AS d1", r, d2, "a", "b"
    )


def _l3v3_lower_bounds(
    triples: DataFrame, combos: DataFrame, injective: bool = False
) -> DataFrame:
    """Cheap per-combo lower bound on the l3v3 body size, WITHOUT the path
    join: for any shared-var value c, the pairs A_c x B_c are all distinct,
    so bodySize >= max_c |A_c| * |B_c|. Built from two degree tables (one
    groupBy each) — O(|triples|), never O(sum deg^2).

    ``injective``: the injective body count excludes a=c, b=c and the a=b
    diagonal, so the product bound would OVER-estimate it and wrongly prune
    rules whose injective confidence meets the threshold. Use the sound
    under-approximation max(0,|A_c|-2) * max(0,|B_c|-2): dropping a=c costs
    <=1 from A_c, b=c <=1 from B_c, and the diagonal <= min side — together
    bounded by shrinking each side by 2 (pairs >= (n1-1)(n2-1)-(n2-1)
    >= (n1-2)(n2-2) for the nonneg case)."""
    b = _b(triples)
    d1 = b.groupBy(F.col("q"), F.col("d").alias("d1"), F.col("y").alias("c")).agg(
        F.count(F.lit(1)).alias("n1")
    )
    d2 = b.groupBy(
        F.col("q").alias("r"), F.col("d").alias("d2"), F.col("y").alias("c")
    ).agg(F.count(F.lit(1)).alias("n2"))
    prod = (
        _combo_join(d1, F.broadcast(combos.select("q", "d1").distinct()),
                    ["q", "d1"])
        .join(
            _combo_join(d2, F.broadcast(combos.select("r", "d2").distinct()),
                        ["r", "d2"]),
            "c",
        )
        .groupBy("q", "d1", "r", "d2")
        .agg(
            F.max(
                (F.greatest(F.col("n1") - 2, F.lit(0))
                 * F.greatest(F.col("n2") - 2, F.lit(0)))
                if injective else (F.col("n1") * F.col("n2"))
            ).alias("lb_body_size")
        )
    )
    return _combo_join(combos, prod, COMBO, "left")


def _confidences_local(
    rules: DataFrame, triples: DataFrame, cwa: bool, pca: bool,
    min_confidence: float, injective: bool, local_threshold: int,
) -> DataFrame | None:
    """``confidences`` on the driver (local_constants.confidences_local)
    when the triples pass ``collect_triples`` under ``local_threshold``
    and the rules, whose terms must be of the triples' type, fit
    ``LOCAL_RULES_MAX``; else None. The l2 rows' null ``r`` crosses as
    ``q`` and is put back, since a nullable long column reaches pandas as
    float64, which drops bits of 64-bit codes."""
    if rules.schema["p"].dataType != triples.schema["p"].dataType:
        return None
    tpdf = collect_triples(triples, local_threshold)
    if tpdf is None:
        return None
    rpdf = collect_local(rules.withColumn("r", F.coalesce("r", "q")),
                         LOCAL_RULES_MAX)
    if rpdf is None:
        return None
    out = confidences_local(
        rpdf, tpdf, cwa, pca, min_confidence, injective
    )
    out["r"] = out["r"].astype(object)
    out.loc[out["shape"] == "l2", "r"] = None
    schema = T.StructType(rules.schema.fields + [
        T.StructField(c, _MEASURES[c])
        for c in out.columns[len(rpdf.columns):]
    ])
    return triples.sparkSession.createDataFrame(out, schema=schema)


def confidences(
    rules: DataFrame,
    triples: DataFrame,
    cwa: bool = True,
    pca: bool = True,
    min_confidence: float = 0.0,
    injective: bool = False,
    local_threshold: int = LOCAL_TRIPLES_MAX,
) -> DataFrame:
    """Attach body_size/cwa_confidence and/or pca_body_size/pca_confidence
    to the l2/l3v2/l3v3 rules.

    One pass: mining/inst_sql.py's VAR_COUNTS finds each combo's body
    pairs once and both sizes read them.

    ``min_confidence > 0`` (requires ``cwa``) is the distributed analog of
    the reference's capped counting (RuleCounting.scala:79-83: stop counting
    bodySize past support/minConf+1 and discard the rule). Exact counting
    with per-group early exit is inexpressible in Spark aggregations, so we
    prune with a PROVABLE lower bound instead: an l3v3 rule whose
    lb_body_size already exceeds support/min_confidence can never reach the
    threshold and is dropped before the quadratic path join runs — on
    Zipf-skewed KGs this removes exactly the hub-dominated combos whose
    sum-of-deg^2 join would explode. Surviving rules get EXACT counts, and
    the result is filtered to cwa_confidence >= min_confidence — the same
    final ruleset as Ruleset.computeConfidence(min) in the reference.

    Driver-local gate (``local_constants.collect_triples``, shared with
    amie.mine; the constants tier uses the same bounds): at most
    ``local_threshold`` triples of one term type (0 forces the plan
    below) and ``LOCAL_RULES_MAX`` rules with terms of that type are
    scored on the driver by the same SQL text in DuckDB
    (``local_constants.confidences_local``), with the same output
    columns. There the sizes are exact and ``min_confidence`` is a plain
    filter: at the bound the unpruned local count took 1.9 s where the
    staged pruned plan took 20.4 s (task9's pipeline on 196k synth_kg
    triples).
    Cached triples reuse the copy (or the over-bound verdict) that an
    earlier gated call, ``amie.mine`` say, took of the same Spark cache
    entry, until they are unpersisted (``local_constants.collect_spo``).
    """
    if min_confidence > 0.0 and not cwa:
        raise ValueError("min_confidence pruning requires cwa=True")
    local = _confidences_local(rules, triples, cwa, pca, min_confidence,
                               injective, local_threshold)
    if local is not None:
        return local
    # materialize the ruleset ONCE, each rule with its rid: rules is
    # usually a lazy mining DAG, which the SQL text, the lower bounds and
    # the final join would each run again
    rules = rules.where(F.col("shape").isin(*VAR_SHAPES)).withColumn(
        "_rid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    if min_confidence > 0.0:
        combos = rules.where(F.col("shape") == "l3v3").select(*COMBO)
        lbs = _l3v3_lower_bounds(triples, combos.distinct(),
                                 injective=injective)
        rules = _combo_join(rules, lbs, COMBO, "left").where(
            (F.col("shape") != "l3v3")
            | (F.coalesce(F.col("lb_body_size"), F.lit(0))
               <= F.col("support") / min_confidence)
        ).drop("lb_body_size").localCheckpoint(eager=True)
    sizes = spark_sql(VAR_COUNTS, T=triples, R=_var_table(rules, "_rid"),
                      inj=injective).withColumnRenamed("rid", "_rid")
    out = rules.join(sizes, "_rid", "left").drop("_rid")
    # a size is a count of at least 1 or NULL (mining/inst_sql.py), so
    # the divisions below never divide by zero
    if cwa:
        out = out.withColumn(
            "cwa_confidence", F.col("support") / F.col("body_size")
        )
        if min_confidence > 0.0:
            out = out.where(F.col("cwa_confidence") >= min_confidence)
    else:
        out = out.drop("body_size")
    if pca:
        out = out.withColumn(
            "pca_confidence", F.col("support") / F.col("pca_body_size")
        )
    else:
        out = out.drop("pca_body_size")
    return out


def qpca_budget(preds: DataFrame, triples: DataFrame,
                keys: list[str]) -> DataFrame:
    """(keys..., qpca_body_size) of the distinct predicted head triples
    ``preds`` (keys..., p, hside, s, o), hside the head predicate's
    higherCardinalitySide (``_side``; RuleCounting.scala:298-380).

    QPCA counts the predictions but caps the NEGATIVE examples per entity
    at that side by the entity's remaining "cardinality budget": an entity
    with existing cardinality e (distinct partners for the head
    predicate) absorbs max(0, A - e) negatives for free, where A =
    averageCardinality of the predicate on that side (round(size /
    #distinct entities), TripleIndex.scala:97-109); positives always
    count. The reference's sequential budget loop is order-independent,
    so the whole measure is one aggregation:

      qpca_body_size = sum over entities of
        pos_e + max(0, neg_e - max(0, A - e_card))

    For an instantiated head whose constant occupies that side, every
    prediction shares the constant's single budget (incrementNegatives,
    RuleCounting.scala:334-355)."""
    t = triples.select("s", "p", "o")
    # per-(p, side-entity) existing cardinality + per-p average cardinality
    ecards = t.groupBy("p", F.col("s").alias("ent")).agg(
        F.countDistinct("o").alias("ecard")
    ).withColumn("eside", F.lit(0)).unionByName(
        t.groupBy("p", F.col("o").alias("ent")).agg(
            F.countDistinct("s").alias("ecard")
        ).withColumn("eside", F.lit(1))
    )
    avg_c = t.groupBy("p").agg(
        F.round(F.count(F.lit(1)) / F.countDistinct("s")).cast("long")
        .alias("avg_s"),
        F.round(F.count(F.lit(1)) / F.countDistinct("o")).cast("long")
        .alias("avg_o"),
    ).join(_side(t), "p").select(
        "p",
        F.when(F.col("hside") == 0, F.col("avg_s"))
        .otherwise(F.col("avg_o")).alias("avg_card"),
    )
    ent = F.when(F.col("hside") == 0, F.col("s")).otherwise(F.col("o"))
    per_ent = preds.join(
        t.withColumn("_pos", F.lit(True)), ["s", "p", "o"], "left"
    ).groupBy(
        *dict.fromkeys([*keys, "p"]), F.col("hside").alias("eside"),
        ent.alias("ent"),
    ).agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("pos"),
        F.sum(F.when(F.col("_pos"), 0).otherwise(1)).alias("neg"),
    )
    return (
        per_ent.join(ecards, ["p", "eside", "ent"], "left")
        .withColumn("ecard", F.coalesce(F.col("ecard"), F.lit(0)))
        .join(F.broadcast(avg_c), "p")
        .withColumn(
            "counted",
            F.col("pos") + F.greatest(
                F.lit(0),
                F.col("neg") - F.greatest(
                    F.lit(0), F.col("avg_card") - F.col("ecard")
                ),
            ),
        )
        .groupBy(*keys)
        .agg(F.sum("counted").alias("qpca_body_size"))
    )


def qpca_confidence(
    rules: DataFrame, triples: DataFrame, injective: bool = False
) -> DataFrame:
    """Attach qpca_body_size + qpca_confidence (``qpca_budget`` over each
    rule combo's body pairs as predicted head pairs)."""
    side = _side(triples)
    out = None
    for shape in ("l2", "l3v2", "l3v3"):
        shaped = rules.where(F.col("shape") == shape)
        pairs = body_pairs(triples, shaped, shape, injective=injective)
        combo_heads = shaped.select("p", *COMBO).join(F.broadcast(side), "p")
        preds = _combo_join(
            pairs, combo_heads, COMBO, broadcast_right=True
        ).withColumnRenamed("a", "s").withColumnRenamed("b", "o")
        sized = qpca_budget(preds, triples, ["p", *COMBO]).localCheckpoint(
            eager=True
        )
        withsize = _combo_join(shaped, sized, ["p", *COMBO], "left")
        out = withsize if out is None else out.unionByName(withsize)
    return out.withColumn(
        "qpca_confidence",
        F.when(
            F.coalesce(F.col("qpca_body_size"), F.lit(0)) == 0, F.lit(0.0)
        ).otherwise(F.col("support") / F.col("qpca_body_size")),
    )


def cwa_confidence(rules: DataFrame, triples: DataFrame) -> DataFrame:
    """Attach body_size + cwa_confidence to every rule."""
    return confidences(rules, triples, cwa=True, pca=False)


def pca_confidence(rules: DataFrame, triples: DataFrame) -> DataFrame:
    """Attach pca_body_size + pca_confidence to every rule."""
    return confidences(rules, triples, cwa=False, pca=True)


def lift(
    rules: DataFrame, triples: DataFrame, conf_col: str = "cwa_confidence"
) -> DataFrame:
    """Attach mode_probability + lift = confidence / modeProbability
    (RuleCounting.scala:127-141; modeProbability per
    core:index/TripleIndex.scala:113-117: the lowerCardinalitySide's most
    frequent entity's fact count / predicate size, both INCLUDING reflexive
    triples — mode() and the denominator use size(false), i.e. full counts
    (IndexCollections.scala:32). lowerCardinalitySide is Object when
    subjectRelativeCardinality >= objectRelativeCardinality
    (TripleIndex.scala:155-159), so the subject mode applies only at
    ns < no — strict, ties go to the object mode.
    Variable-only heads (this tier); constant heads use per-constant
    probabilities in the reference."""
    card = triples.groupBy("p").agg(
        F.countDistinct("s").alias("ns"), F.countDistinct("o").alias("no")
    )
    smode = (
        triples.groupBy("p", "s").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("p").agg(F.max("c").alias("smode"))
    )
    omode = (
        triples.groupBy("p", "o").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("p").agg(F.max("c").alias("omode"))
    )
    size_full = triples.groupBy("p").agg(F.count(F.lit(1)).alias("size_full"))
    mp = (
        card.join(smode, "p", "left").join(omode, "p", "left")
        .join(size_full, "p", "left")
        .select(
            "p",
            (
                F.when(F.col("ns") < F.col("no"), F.col("smode"))
                .otherwise(F.col("omode")) / F.col("size_full")
            ).alias("mode_probability"),
        )
    )
    return rules.join(F.broadcast(mp), "p", "left").withColumn(
        "lift", F.col(conf_col) / F.col("mode_probability")
    )


def recount_support(rules: DataFrame, triples: DataFrame) -> DataFrame:
    """computeSupport / computeHeadCoverage on a (possibly different)
    triple set (Ruleset.scala:172-184): re-derive support and head size for
    the EXISTING rule keys against `triples`, keeping every rule row (a
    rule with no matches gets support 0). Same distinct-triple semantics
    as mining. One job per shape, semi-filtered to the surviving combos —
    never a full re-mine."""
    from rdfrules_spark.mining.amie import _htid

    head = triples.select(
        F.col("s").alias("a"), F.col("o").alias("b"), "p"
    ).withColumn("_ht", _htid())
    new_hs = triples.groupBy("p").agg(F.count(F.lit(1)).alias("_nhs"))
    out = None
    for shape in ("l2", "l3v2", "l3v3"):
        shaped = rules.where(F.col("shape") == shape)
        pairs = body_pairs(triples, shaped, shape)
        support = (
            _combo_join(
                head.join(
                    pairs.withColumnRenamed("a", "_a").withColumnRenamed(
                        "b", "_b"
                    ),
                    (F.col("a") == F.col("_a")) & (F.col("b") == F.col("_b")),
                ),
                shaped.select("p", *COMBO).distinct(), ["p", *COMBO],
                broadcast_right=True,
            )
            .groupBy("p", *COMBO)
            .agg(F.countDistinct("a", "b").alias("_nsup"))
        )
        part = _combo_join(shaped, support, ["p", *COMBO], "left")
        out = part if out is None else out.unionByName(part)
    return (
        out.join(F.broadcast(new_hs), "p", "left")
        .withColumn("support", F.coalesce(F.col("_nsup"), F.lit(0)))
        .withColumn("head_size", F.coalesce(F.col("_nhs"), F.lit(0)))
        .withColumn(
            "head_coverage",
            F.when(F.col("head_size") > 0,
                   F.col("support") / F.col("head_size")).otherwise(0.0),
        )
        .drop("_nsup", "_nhs")
    )
