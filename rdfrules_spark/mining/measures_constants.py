"""Confidence measures for canonical rules WITH constants
(mining/constants.py output rows: head, p, atoms array<string>, shape,
support, head_size, head_coverage).

Reference semantics (core:algorithm/amie/RuleCounting.scala):
  bodySize      = #distinct bindings of the HEAD variables over the body
  pcaBodySize   = bodySize restricted to bindings whose head entity on the
                  head predicate's higherCardinalitySide exists for p
                  (RuleCounting.scala:235-296). For instantiated heads the
                  higher side may be the CONSTANT side — then the
                  restriction is a per-rule boolean (C present on that
                  side), scaling pcaBodySize to bodySize or 0.

Rules are keyed by `rid` (head + canonical body). CWA =
support/body_size; PCA = support/pca_body_size. Both families are SQL
text of mining/inst_sql.py, run here through ``measures.spark_sql`` over
the triples and a rule table, and by DuckDB on the driver-local path —
two executors, one law per family, no per-shape DataFrame code:
  * the var-only shapes l2/l3v2/l3v3 (VAR_COUNTS) go through
    ``to_var_schema`` to the var rule table (``measures._var_table``),
    which counts body pairs once per (shape, q, d1, r, d2) combo rather
    than once per rule; qpca_constants hands them to
    ``measures.qpca_confidence``;
  * the constants shapes s4-s9 (COUNTS) take a rule table with 0/1
    position tags (``_inst_rules``); qpca_constants reads the raw binding
    sets of the same text (RAW_PREDICTIONS).

Driver-local gate (``local_constants.collect_spo`` for the triples, the
same one mining/constants.mine_constants, amie.mine and
measures.confidences use; ``collect_local`` for the rules): the triples
are collected under ``local_threshold`` (default ``LOCAL_TRIPLES_MAX``)
and then the rules under ``LOCAL_RULES_MAX``, each bounded collect a
probe of one task whatever the number of input partitions. Cached
triples are probed once per cache entry: their deduplicated copy, or
the largest bound they exceeded, is kept until Spark unpersists them,
so scoring the rules just mined from the same cached triples collects
no triples. Within both bounds the confidences run on the driver, above
either the distributed plan below runs, its var-only part included (one
decision per call). A ruleset mined on the driver therefore makes one
Arrow round trip (createDataFrame, then this collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfrules_spark.mining.inst_sql import (
    COUNTS,
    RAW_PREDICTIONS,
    SQL_SHAPES,
    VAR_COUNTS,
)
from rdfrules_spark.mining.local_constants import (
    LOCAL_RULES_MAX,
    LOCAL_TRIPLES_MAX,
    VAR_SHAPES,
    collect_local,
    collect_spo,
    confidences_constants_local,
)
from rdfrules_spark.mining.measures import (
    _side,
    _var_table,
    qpca_budget,
    qpca_confidence,
    spark_sql,
)


def _split(col, i):
    return F.split(col, "\\|")[i]


def _with_rid(rules: DataFrame) -> DataFrame:
    return rules.withColumn(
        "rid", F.concat_ws("<-", F.col("head"), F.array_join("atoms", ";"))
    )


def _atom_struct(a):
    return F.struct(
        _split(a, 0).alias("s"), _split(a, 1).alias("q"), _split(a, 2).alias("o")
    )


def _parsed(rules: DataFrame) -> DataFrame:
    out = rules.withColumn("_ats", F.transform("atoms", _atom_struct))
    inst = F.filter(
        "_ats", lambda a: a["s"].startswith("C=") | a["o"].startswith("C=")
    )
    vv = F.filter(
        "_ats", lambda a: a["s"].startswith("?") & a["o"].startswith("?")
    )
    return out.withColumn("_inst", inst).withColumn("_vv", vv)


def _inst_rules(R: DataFrame) -> DataFrame:
    """The s4-s9 rows of the parsed rules as mining/inst_sql.py's rule
    table, with 0/1 position and variable tags."""
    head_s = _split(F.col("head"), 0)
    var_head_s = head_s.startswith("?")
    fv = F.when(var_head_s, "?a").otherwise("?b")

    def vv(i, prefix):
        a = F.get("_vv", i)
        return [a["q"].alias(prefix + "q"),
                F.when(a["s"] == fv, 0).otherwise(1).alias(prefix + "d")]

    def ca(i, prefix):
        a = F.get("_inst", i)
        var_s = a["s"].startswith("?")
        cst = F.when(var_s, a["o"]).otherwise(a["s"])
        var = F.when(var_s, a["s"]).otherwise(a["o"])
        return [F.when(var == "?a", 0).otherwise(1).alias(prefix + "u"),
                a["q"].alias(prefix + "q2"),
                F.substring(cst, 3, 1_000_000).alias(prefix + "cst"),
                F.when(var_s, 0).otherwise(1).alias(prefix + "e")]

    head_const = F.when(var_head_s, _split(F.col("head"), 2)).otherwise(head_s)
    return R.where(F.col("shape").isin(*SQL_SHAPES)).select(
        "rid", "shape", "p", "hside",
        F.when(var_head_s, 0).otherwise(1).alias("fvpos"),
        F.substring(head_const, 3, 1_000_000).alias("hA"),
        *vv(0, "a1"), *vv(1, "a2"), *ca(0, "c1"), *ca(1, "c2"),
    )


def to_var_schema(rules: DataFrame, keep_atoms: bool = False) -> DataFrame:
    """Canonical (head, atoms) VAR-ONLY rules -> the var-rule key schema
    (p, shape, q, d1, r, d2) of mining/amie.py:38-40, preserving measure
    columns. Encoding (amie.py _l2/_l3v2/_l3v3):

      l2    one body atom  q(?a,?b)='f' / q(?b,?a)='i'
      l3v2  two atoms over {?a,?b}, pair sorted by (q,d)
      l3v3  the ?a-atom is (q,d1) ('f' = q(?a,?c)), the ?b-atom is (r,d2)
            ('f' = r(?b,?c))

    Raises on instantiated atoms (prediction over instantiated rules is not
    supported — predict from a constants-free mining config). The guard is
    IN-PLAN (raise_error on the offending row), not an eager count: an
    eager probe would execute the whole upstream mining plan once per
    conversion (Predict/Prune/Instantiate/Lift each call this)."""
    if "atoms" not in rules.columns:
        return rules  # already var schema
    # one selectExpr of SQL text: the same expressions built as a Python
    # Column tree cost 1.4k-2.5k Py4J round trips a call
    su, pr, ob = ("split({}, '[|]')[%d]" % i for i in range(3))
    a0, a1 = "atoms[0]", "get(atoms, 1)"
    # a rule with any instantiated atom, head included
    has_const = ("exists(concat(array(head), atoms), a -> startswith("
                 f"{su.format('a')}, 'C=') OR startswith({ob.format('a')}, "
                 "'C='))")
    has_c = (f"exists(atoms, a -> {su.format('a')} = '?c' OR "
             f"{ob.format('a')} = '?c')")

    def d(a, v="'?a'"):
        return f"CASE WHEN {su.format(a)} = {v} THEN 'f' ELSE 'i' END"

    # l3v3 sides: the atom touching ?a vs the atom touching ?b
    a0_on_a = f"({su.format(a0)} = '?a' OR {ob.format(a0)} = '?a')"
    a_atom = f"CASE WHEN {a0_on_a} THEN {a0} ELSE {a1} END"
    b_atom = f"CASE WHEN {a0_on_a} THEN {a1} ELSE {a0} END"
    # l3v2 canonical unordered pair sorted by the (q, d) TUPLE (struct
    # comparison -- string concat would misorder prefix predicates)
    a0_first = (f"named_struct('q', {pr.format(a0)}, 'd', {d(a0)}) <= "
                f"named_struct('q', {pr.format(a1)}, 'd', {d(a1)})")
    first = f"CASE WHEN {a0_first} THEN {a0} ELSE {a1} END"
    second = f"CASE WHEN {a0_first} THEN {a1} ELSE {a0} END"

    def by_shape(l2, l3v3, l3v2, name):
        return (f"CASE WHEN size(atoms) = 1 THEN {l2} WHEN {has_c} THEN "
                f"{l3v3} ELSE {l3v2} END AS {name}")

    none = "CAST(NULL AS STRING)"
    # mine_constants rows already carry p/shape (its own shape taxonomy) —
    # the derived var-key columns replace them
    measures = [
        f"`{c}`" for c in rules.columns
        if c not in ("head", "atoms", "p", "shape", "q", "d1", "r", "d2")
    ]
    if keep_atoms:
        measures = ["head", "atoms"] + measures
    return rules.selectExpr(
        f"CASE WHEN {has_const} THEN raise_error('instantiated rules can "
        "not be converted to the var-rule schema; mine with "
        f"WithoutConstants for prediction') ELSE {pr.format('head')} END "
        "AS p",
        by_shape("'l2'", "'l3v3'", "'l3v2'", "shape"),
        by_shape(pr.format(a0), pr.format(a_atom), pr.format(first), "q"),
        by_shape(d(a0), d(a_atom), d(first), "d1"),
        by_shape(none, pr.format(b_atom), pr.format(second), "r"),
        by_shape(none, d(b_atom, "'?b'"), d(second), "d2"),
        *measures,
    )


def _rules(rules: DataFrame, t: DataFrame) -> DataFrame:
    """The parsed rules with their head predicate's hside, checkpointed:
    both laws and the final join read them. A rule whose head predicate
    has no triple drops out."""
    return _parsed(_with_rid(rules)).join(
        F.broadcast(_side(t)), "p"
    ).localCheckpoint(eager=True)


def _var_rules(R: DataFrame) -> DataFrame:
    """The var-only rules of R in mining/measures.py's key schema."""
    return to_var_schema(
        R.where(F.col("shape").isin(*VAR_SHAPES)).select(
            "rid", "head", "atoms", "support", "head_size", "head_coverage"
        )
    )


#: output schema of confidences_constants (both execution paths)
_CONF_SCHEMA = (
    "rid string, head string, p string, atoms array<string>, shape string, "
    "support long, head_size long, head_coverage double, body_size long, "
    "pca_body_size long, cwa_confidence double, pca_confidence double"
)


def _sizes(R: DataFrame, parts: list, schema: str) -> DataFrame:
    """The rule rows of R with per-rid sizes from ``parts`` left-joined
    on; a shape family that is absent contributes no part."""
    sizes = R.sparkSession.createDataFrame([], schema)
    for part in parts:
        sizes = sizes.unionByName(part)
    return R.join(sizes, "rid", "left")


def confidences_constants(
    rules: DataFrame, triples: DataFrame, injective: bool = False,
    local_threshold: int = LOCAL_TRIPLES_MAX,
) -> DataFrame:
    """Attach body_size, cwa_confidence, pca_body_size, pca_confidence to
    every canonical rule row (all 9 shapes).

    ``injective=True`` reproduces the reference Ruleset.computeConfidence
    default (injectiveMapping=true, Ruleset.scala:186): pairwise-distinct
    variable bindings — RulesetSpec's 105/12/57/810 confidence goldens need
    it even though mining itself counts support non-injectively.

    Within the driver-local gate (module docstring) the same laws run on
    the driver — at tiny inputs the ~40-stage distributed plan below is
    pure scheduling overhead."""
    tpdf = collect_spo(triples, local_threshold)
    rules_pdf = None if tpdf is None else collect_local(
        rules.select("head", "p", "atoms", "shape", "support", "head_size",
                     "head_coverage"),
        LOCAL_RULES_MAX,
    )
    if rules_pdf is not None:
        out = confidences_constants_local(rules_pdf, tpdf, injective)
        return triples.sparkSession.createDataFrame(
            out, schema=_CONF_SCHEMA
        )

    t = triples.select("s", "p", "o")
    R = _rules(rules, t)
    present = {r["shape"] for r in R.select("shape").distinct().collect()}
    parts = []
    if present & set(VAR_SHAPES):
        parts.append(spark_sql(VAR_COUNTS, T=t,
                               R=_var_table(_var_rules(R), "rid"),
                               inj=injective))
    if present & set(SQL_SHAPES):
        parts.append(spark_sql(COUNTS, T=t, R=_inst_rules(R), inj=injective))
    out = _sizes(
        R, parts, "rid string, body_size long, pca_body_size long"
    ).select(
        "rid", "head", "p", "atoms", "shape", "support", "head_size",
        "head_coverage", "body_size", "pca_body_size",
    )
    # try_divide: a constants-shape size can be 0 over triples other than
    # the mining ones, where ANSI division raises; NULL, like the
    # driver-local path
    return out.withColumn(
        "cwa_confidence", F.try_divide("support", "body_size")
    ).withColumn(
        "pca_confidence", F.try_divide("support", "pca_body_size")
    )


def qpca_constants(
    rules: DataFrame, triples: DataFrame, injective: bool = False
) -> DataFrame:
    """Attach qpca_body_size + qpca_confidence to every canonical rule row
    (all 9 shapes) — RuleCounting.scala:298-380 re-expressed declaratively:
    ``measures.qpca_budget`` per rule over its predicted head triples.

    Scale note: s5 materializes the per-rule entity-set product (the
    reference enumerates the same bindings); every other shape's relation
    is linear in the matching triples. Value-verified per rule against the
    executed reference in tests/test_refexec_confidences.py.
    """
    t = triples.select("s", "p", "o")
    R = _rules(rules, t)
    present = {r["shape"] for r in R.select("shape").distinct().collect()}
    parts = []
    if present & set(VAR_SHAPES):
        # qpca_confidence reads its rules several times per shape and,
        # unlike confidences, does not checkpoint them
        parts.append(qpca_confidence(
            _var_rules(R).localCheckpoint(eager=True), t, injective=injective
        ).select("rid", "qpca_body_size"))
    # the constants shapes: the raw binding sets of mining/inst_sql.py,
    # every row before the keep flag
    if present & set(SQL_SHAPES):
        preds = spark_sql(RAW_PREDICTIONS, T=t, R=_inst_rules(R),
                          inj=injective).join(
            R.select("rid", "p", "hside"), "rid"
        )
        parts.append(qpca_budget(preds, t, ["rid"]))
    out = _sizes(R, parts, "rid string, qpca_body_size long").select(
        "rid", "head", "p", "atoms", "shape", "support", "head_size",
        "head_coverage", "qpca_body_size",
    )
    return out.withColumn(
        "qpca_confidence",
        F.when(
            F.coalesce(F.col("qpca_body_size"), F.lit(0)) == 0, F.lit(0.0)
        ).otherwise(F.col("support") / F.col("qpca_body_size")),
    )
