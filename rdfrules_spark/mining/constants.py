"""AMIE mining WITH constants (instantiated atoms): the staged algebra
of mining/mine_sql.py, reference cites and shape taxonomy included.

Output rows: (head, p, atoms array<string> sorted, shape, support,
head_size, head_coverage) — atom string "subj|pred|obj" with vars ?a ?b
?c and constants "C=<v>"; identical encoding to the brute oracle
(tests/oracles/brute.mine_brute_constants).

Two executors run the one SQL text. Above the driver-local gate,
``spark.sql`` (mining/measures.spark_sql) runs each statement over the
triples, a triple id being their xxhash64, and turns the RULES rows into
the canonical strings (``_canonical``). At most ``local_threshold`` input
triples (default ``local_constants.LOCAL_TRIPLES_MAX``; 0 forces the
distributed plan) run on the driver instead, DuckDB over integer-coded
terms (local_constants.mine_constants_local). The probe is the collect
itself (``local_constants.collect_spo``): one task that stops after
``local_threshold + 1`` rows, whatever the number of input partitions. A
cached input is probed once for as long as Spark keeps its cache: the
deduplicated copy, keyed on that cache entry, or the largest bound it
exceeded, serves the later calls of this module, measures_constants,
amie and measures on the same triples; an unpersist drops it. The
rule-count bound of the same gate applies in
measures_constants.confidences_constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfrules_spark.mining import mine_sql
from rdfrules_spark.mining.amie import MiningParams, _b
from rdfrules_spark.mining.local_constants import (
    LOCAL_TRIPLES_MAX,
    collect_spo,
    mine_constants_local,
)
from rdfrules_spark.mining.measures import spark_sql


def _spark_relations(triples: DataFrame, stmts, args: dict,
                     constants_for_predicates: dict | None) -> dict:
    """The relations of mining/mine_sql.py's statements ``stmts`` over
    ``triples`` through spark.sql, by name."""
    cfp = list((constants_for_predicates or {}).items())
    # an inline table: the optimizer sees its rows (none, without
    # overrides) and drops the policy branches they rule out
    rows = ", ".join(f"({{p{i}}}, {{v{i}}})" for i in range(len(cfp)))
    ptype = triples.schema["p"].dataType.simpleString()
    rel = {
        "T": triples.select("s", "p", "o").withColumn(
            "tid", F.xxhash64("s", "p", "o")),
        "CFP": triples.sparkSession.sql(
            f"SELECT CAST(p AS {ptype}) AS p, CAST(pos AS STRING) AS pos "
            f"FROM VALUES {rows or '(NULL, NULL)'} AS c(p, pos) "
            f"WHERE {bool(cfp)}",
            **{f"p{i}": p for i, (p, _) in enumerate(cfp)},
            **{f"v{i}": v for i, (_, v) in enumerate(cfp)}),
    }
    for name, text in stmts:
        rel[name] = spark_sql(text, **rel, **args)
    return rel


def _canonical(rules: DataFrame) -> DataFrame:
    """mining/mine_sql.py's RULES rows as canonical (head, atoms) rules."""
    def atom(i):
        other = f"coalesce(w{i}, concat('C=', c{i}))"
        return (f"CASE WHEN d{i} = 0 THEN concat(u{i}, '|', q{i}, '|', "
                f"{other}) ELSE concat({other}, '|', q{i}, '|', u{i}) END")

    return rules.selectExpr(
        "CASE WHEN hs = -1 THEN concat('?a|', p, '|?b') "
        "WHEN hs = 0 THEN concat('C=', ha, '|', p, '|?b') "
        "ELSE concat('?a|', p, '|C=', ha) END AS head",
        "p",
        f"array_sort(array_compact(array({atom(1)}, {atom(2)}))) AS atoms",
        "shape", "support", "head_size",
        "support / head_size AS head_coverage",
    )


#: output schema of mine_constants (both execution paths)
_RULES_SCHEMA = (
    "head string, p string, atoms array<string>, shape string, "
    "support long, head_size long, head_coverage double"
)


def mine_constants(
    triples: DataFrame,
    params: MiningParams | None = None,
    constants: str = "anywhere",
    constants_for_predicates: dict | None = None,
    quasi_binding: bool = False,
    local_threshold: int = LOCAL_TRIPLES_MAX,
) -> DataFrame:
    """Complete closed-rule set (lengths 2..max_rule_length, constants per
    `constants` policy) INCLUDING the constant-free shapes, as canonical
    (head, atoms) rows. `triples` must be distinct (s,p,o).

    ``quasi_binding`` selects the spec (see tools/refexec/README.md):

    * False (default, "published" spec): distinct-triple support counting,
      no generation-time quasi-binding pruning — reproduces the literal
      goldens committed in the reference's own test suite (211,527 /
      74,993 / 11,013 ...).
    * True ("executable" spec): matches the reference snapshot AS EXECUTED
      (its current source applies a QuasiBindingFilter at every refinement
      step, RuleRefinement.scala:175 + RuleFilter.scala:334, and counts
      support plainly) — set-level verified against the executed
      reference's dumps in tests/test_refexec_parity.py (47,901 / 42,509 /
      29,878 / 5,851 / 689 rules).

    The generation-time filter is one law per shape (mining/mine_sql.py).
    """
    params = params or MiningParams()
    if params.only_predicates is not None:
        triples = triples.where(F.col("p").isin(params.only_predicates))
    if params.without_predicates is not None:
        triples = triples.where(~F.col("p").isin(params.without_predicates))

    # Adaptive small-input gate (local_constants.collect_spo): at
    # driver-sized inputs the ~60-stage staged plan is pure scheduling
    # overhead; DuckDB runs the same statements on the driver instead.
    tpdf = collect_spo(triples, local_threshold)
    if tpdf is not None:
        pdf = mine_constants_local(
            tpdf, params, constants, constants_for_predicates, quasi_binding
        )
        return triples.sparkSession.createDataFrame(
            pdf[["head", "p", "atoms", "shape", "support", "head_size",
                 "head_coverage"]],
            schema=_RULES_SCHEMA,
        )
    stmts, args = mine_sql.plan(params, constants, constants_for_predicates,
                                quasi_binding)
    rel = _spark_relations(triples, stmts, args, constants_for_predicates)
    return _canonical(rel["RULES"])


def without_quasi_binding(
    rules: DataFrame, triples: DataFrame, constants: str = "anywhere"
) -> DataFrame:
    """Drop rules where some constant-bearing atom is QUASI-BOUND — its
    variable side takes exactly ONE value across all JOINT body bindings
    (Ruleset.scala:151-158 withoutQuasiBinding; semantics =
    AtomCounting.hasQuasiBinding:132-148).

    Operates on mine_constants output rows. Per-shape joint binding counts
    (each one broadcast-joined aggregation over the miner's own relations):
      s6  single CAtom body        -> per-atom cardinality is exact;
      s5  CAtom(a) x CAtom(b)      -> bindings are a product, per-atom
                                      cardinality is exact per atom;
      s4  VV(a,b) + CAtom(a|b)     -> joint: the VV atom restricts the
                                      CAtom's head var;
      s8  VV(f,c) + CAtom(c)       -> joint over the shared ?c;
      s9  CAtom(f) + CAtom(f)      -> joint over the shared free var;
      var-only shapes pass through.
    Brute-checked against a binding-enumeration replica in
    tests/test_multigraph_quasi_anytime.py.
    """
    b = _b(triples)
    ca = _spark_relations(triples, mine_sql.POLICY, {
        "constants": constants, "lcs": constants == "lcs"}, None)["CA"]

    def ca_parts(atom_col):
        parts = F.split(atom_col, "\\|")
        e = F.when(F.get(parts, 0).startswith("C="), 1).otherwise(0)
        cst = F.when(e == 1, F.substring(F.get(parts, 0), 3, 1 << 20)) \
            .otherwise(F.substring(F.get(parts, 2), 3, 1 << 20))
        return F.get(parts, 1).alias("q2"), cst.alias("cst"), e.alias("e")

    def is_ca(atom_col):
        return atom_col.contains("C=")

    quasi_parts = []

    # --- per-atom cardinality (exact for s5 / s6) -------------------------
    ca_card = ca.groupBy("q2", "cst", "e").agg(
        F.countDistinct("x").alias("_n")
    )
    solo = rules.where(F.col("shape").isin("s5", "s6")).select(
        "head", "atoms", F.explode("atoms").alias("_atom")
    ).where(is_ca(F.col("_atom")))
    solo = solo.select("head", "atoms", *ca_parts(F.col("_atom")))
    quasi_parts.append(
        solo.join(F.broadcast(ca_card), ["q2", "cst", "e"], "left")
        .where(F.coalesce(F.col("_n"), F.lit(0)) <= 1)
        .select("head", "atoms")
    )

    # --- s4: VV(a,b) + CAtom on a or b ------------------------------------
    s4 = rules.where(F.col("shape") == "s4")
    if s4.head(1):
        sel = s4.select(
            "head", "atoms",
            F.filter(F.col("atoms"), lambda a: ~is_ca(a))[0].alias("_vv"),
            F.filter(F.col("atoms"), lambda a: is_ca(a))[0].alias("_ca"),
        )
        vparts = F.split(F.col("_vv"), "\\|")
        keyed = sel.select(
            "head", "atoms",
            F.get(vparts, 1).alias("q"),
            F.when(F.get(vparts, 0) == "?a", "f").otherwise("i").alias("d"),
            F.when(F.col("_ca").contains("?a"), "a").otherwise("b")
            .alias("role"),
            *ca_parts(F.col("_ca")),
        )
        for role, bvar in (("a", "x"), ("b", "y")):
            jn = (
                b.join(ca.withColumnRenamed("x", "_e"),
                       F.col(bvar) == F.col("_e"))
                .groupBy("q", "d", "q2", "cst", "e")
                .agg(F.countDistinct(bvar).alias("_jn"))
            )
            quasi_parts.append(
                keyed.where(F.col("role") == role)
                .join(jn, ["q", "d", "q2", "cst", "e"], "left")
                .where(F.coalesce(F.col("_jn"), F.lit(0)) <= 1)
                .select("head", "atoms")
            )

    # --- s8: VV(f,c) + CAtom(c) -------------------------------------------
    s8 = rules.where(F.col("shape") == "s8")
    if s8.head(1):
        sel = s8.select(
            "head", "atoms",
            F.filter(F.col("atoms"), lambda a: ~is_ca(a))[0].alias("_vv"),
            F.filter(F.col("atoms"), lambda a: is_ca(a))[0].alias("_ca"),
        )
        vparts = F.split(F.col("_vv"), "\\|")
        keyed = sel.select(
            "head", "atoms",
            F.get(vparts, 1).alias("q"),
            F.when(F.get(vparts, 2) == "?c", "f").otherwise("i").alias("d"),
            *ca_parts(F.col("_ca")),
        )
        jn = (
            b.join(ca.withColumnRenamed("x", "_c"), b.y == F.col("_c"))
            .groupBy("q", "d", "q2", "cst", "e")
            .agg(F.countDistinct("y").alias("_jn"))
        )
        quasi_parts.append(
            keyed.join(jn, ["q", "d", "q2", "cst", "e"], "left")
            .where(F.coalesce(F.col("_jn"), F.lit(0)) <= 1)
            .select("head", "atoms")
        )

    # --- s9: two CAtoms on the shared free var ----------------------------
    s9 = rules.where(F.col("shape") == "s9")
    if s9.head(1):
        a1 = F.get(F.col("atoms"), 0)
        a2 = F.get(F.col("atoms"), 1)
        p1 = [c.alias(n) for c, n in zip(ca_parts(a1), ("q2a", "csta", "ea"))]
        p2 = [c.alias(n) for c, n in zip(ca_parts(a2), ("q2b", "cstb", "eb"))]
        keyed = s9.select("head", "atoms", *p1, *p2)
        ca2 = ca.select(
            F.col("x"), F.col("q2").alias("q2b"), F.col("cst").alias("cstb"),
            F.col("e").alias("eb"),
        )
        jn = (
            ca.join(ca2, "x")
            .groupBy("q2", "cst", "e", "q2b", "cstb", "eb")
            .agg(F.countDistinct("x").alias("_jn"))
            .withColumnRenamed("q2", "q2a").withColumnRenamed("cst", "csta")
            .withColumnRenamed("e", "ea")
        )
        quasi_parts.append(
            keyed.join(jn, ["q2a", "csta", "ea", "q2b", "cstb", "eb"], "left")
            .where(F.coalesce(F.col("_jn"), F.lit(0)) <= 1)
            .select("head", "atoms")
        )

    bad = quasi_parts[0]
    for part in quasi_parts[1:]:
        bad = bad.unionByName(part)
    bad = bad.distinct().withColumnRenamed("head", "_h").withColumnRenamed(
        "atoms", "_a"
    )
    return rules.join(
        bad,
        (rules["head"] == bad["_h"]) & (rules["atoms"] == bad["_a"]),
        "left_anti",
    )
