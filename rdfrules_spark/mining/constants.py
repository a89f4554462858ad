"""AMIE mining WITH constants (instantiated atoms) as staged DataFrame jobs.

Reference semantics (cites):
  * instantiated heads (C p ?b) / (?a p C) keep headSize = |p| and are
    thresholded by their own triple count — HeadsFetcher.scala:24-92 (the
    head-candidate filter: rule support <= instantiated-head size, so a
    head failing the support/minHC law is pruned before the joins);
  * body atoms carry at most one constant — refinement instantiates only
    the dangling variable of the fresh atom (RuleRefinement.scala);
  * ConstantsAtPosition constrains WHERE constants may appear: Subject /
    Object / LowerCardinalitySide (per-atom-predicate side, TripleIndex
    .scala:155-159: n_subj >= n_obj -> Object) / anywhere
    (RuleConstraint.scala:28-104);
  * closed rule = every VARIABLE appears >= 2x; atoms pairwise distinct and
    distinct from the head atom; rule identity = (head, SET of body atoms)
    (AmieSpec.scala:122 `body.toSet -> head`);
  * DISTINCT-TRIPLE support: a binding may not map two atoms of the rule
    (head included) to the same KG triple — the reference bans "two
    identical instantiated atoms in the rule" during support counting
    (RuleFilter.scala NoRepeatedGroups deprecation note, VariableMap.scala
    :5-12 commentary). Only duplicate-predicate configs are affected;
    pinned by the AmieSpec dup+constants golden (51,143 rules at minHC
    0.02 — we reproduce 51,136, a 7-rule / 0.014% residual documented in
    tests/test_constants_mining.py).

Execution = the reference's level-synchronous BFS re-expressed as staged
aggregations: every length-3 shape is computed FROM the length-2 survivor
set of its prefix rule (semi-join on the survivor keys). This is exact, not
a heuristic: support is monotone non-increasing under body extension and
the emission threshold (support >= minSupport, support / headSize >=
minHC) depends only on the head, so a surviving length-3 rule implies its
length-2 prefix survived — precisely the reason AMIE's BFS-with-pruning
enumerates the complete rule space (Amie.scala:184-231). The semi-joins
are what keep the instantiated shapes from exploding on hub entities.

Closed-rule shapes over head types H0=(?a p ?b), HS=(C p ?b), HO=(?a p C)
(maxRuleLength 3, dir d/e marks which side the var is on):

  H0: l2 VV | l3 {VV,VV} | l3 path (S3) | S4 {VV(a,b), CAtom(a|b)}
      | S5 {CAtom(a), CAtom(b)}
  HS/HO (free var f): S6 {CAtom(f)} | S7 {VV(f,c), VV(f,c)}
      | S8 {VV(f,c), CAtom(c)} | S9 {CAtom(f), CAtom(f)}

Output rows: (head, p, head_const, atoms array<string> sorted, shape,
support, head_size, head_coverage) — atom string "subj|pred|obj" with vars
?a ?b ?c and constants "C=<v>"; identical encoding to the brute oracle
(tests/oracles/brute.mine_brute_constants).

Driver-local gate: at most ``local_threshold`` input triples (default
``local_constants.LOCAL_TRIPLES_MAX``; 0 forces this distributed plan)
run the same algebra on the driver (mining/local_constants.py). The
probe is the collect itself (``local_constants.collect_spo``): one task
that stops after ``local_threshold + 1`` rows, whatever the number of
input partitions. A cached input is probed once for as long as Spark
keeps its cache: the deduplicated copy, keyed on that cache entry, or
the largest bound it exceeded, serves the later calls of this module,
measures_constants, amie and measures on the same triples; an
unpersist drops it. The rule-count bound of the same gate applies in
measures_constants.confidences_constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfrules_spark.mining.amie import MiningParams, _b, _btid
from rdfrules_spark.mining.local_constants import (
    LOCAL_TRIPLES_MAX,
    collect_spo,
    mine_constants_local,
)


def _const_side(triples: DataFrame, constants: str) -> DataFrame | None:
    """Per-predicate allowed constant position for 'lcs', else None."""
    if constants != "lcs":
        return None
    return triples.groupBy("p").agg(
        F.countDistinct("s").alias("ns"), F.countDistinct("o").alias("no")
    ).select(
        "p",
        F.when(F.col("ns") >= F.col("no"), "o").otherwise("s").alias("cpos"),
    )


def _catoms(
    triples: DataFrame, constants: str,
    constants_for_predicates: dict | None = None,
) -> DataFrame:
    """Instantiated-atom relation CA(x, q2, cst, e): binding entity x via an
    atom with the constant on the other side; e = the VARIABLE's position.

    ``constants_for_predicates`` (RuleConstraint.ConstantsForPredicates,
    RuleConstraint.scala:48-68): per-predicate constant-position override —
    {predicate: 'subject'|'object'|'lcs'|'both'}. Listed predicates follow
    their own position regardless of the global policy; unlisted
    predicates follow the global ``constants`` policy (so 'nowhere' +
    a map instantiates ONLY the listed predicates — the reference's
    instantiatedPositionForPredicate dispatch)."""
    sub = triples.select(
        F.col("s").alias("x"), F.col("p").alias("q2"),
        F.col("o").alias("cst"), F.lit("s").alias("e"),
        F.xxhash64("s", "p", "o").alias("ctid"),
    )  # atom (?x q2 C)  — constant at object
    obj = triples.select(
        F.col("o").alias("x"), F.col("p").alias("q2"),
        F.col("s").alias("cst"), F.lit("o").alias("e"),
        F.xxhash64("s", "p", "o").alias("ctid"),
    )  # atom (C q2 ?x)  — constant at subject
    both = sub.unionByName(obj)

    def by_policy(rel_sub, rel_obj, rel_both, policy):
        if policy == "object":
            return rel_sub          # constant at object = var at subject
        if policy == "subject":
            return rel_obj
        if policy in ("both", "anywhere"):
            return rel_both
        if policy == "lcs":
            side = _const_side(triples, "lcs")
            return rel_both.join(
                F.broadcast(side.withColumnRenamed("p", "q2")), "q2"
            ).where(
                ((F.col("e") == "s") & (F.col("cpos") == "o"))
                | ((F.col("e") == "o") & (F.col("cpos") == "s"))
            ).drop("cpos")
        # 'nowhere'
        return rel_both.limit(0)

    if constants_for_predicates is None:
        return by_policy(sub, obj, both, constants)
    listed = list(constants_for_predicates)
    base = by_policy(
        sub.where(~F.col("q2").isin(listed)),
        obj.where(~F.col("q2").isin(listed)),
        both.where(~F.col("q2").isin(listed)),
        constants,
    )
    spark = triples.sparkSession
    cfp = F.broadcast(spark.createDataFrame(
        [(p, pos) for p, pos in constants_for_predicates.items()],
        "q2 string, _pos string",
    ))
    lside = _const_side(triples, "lcs").withColumnRenamed("p", "q2")
    overridden = (
        both.where(F.col("q2").isin(listed))
        .join(cfp, "q2")
        .join(F.broadcast(lside), "q2", "left")
        .where(
            (F.col("_pos") == "both")
            | ((F.col("_pos") == "object") & (F.col("e") == "s"))
            | ((F.col("_pos") == "subject") & (F.col("e") == "o"))
            | ((F.col("_pos") == "lcs") & (
                ((F.col("e") == "s") & (F.col("cpos") == "o"))
                | ((F.col("e") == "o") & (F.col("cpos") == "s"))
            ))
        )
        .drop("_pos", "cpos")
    )
    return base.unionByName(overridden)


def _vv_str(u: str, v: str, q, d):
    d = d if isinstance(d, F.Column) else F.lit(d)
    return F.when(
        d == "f", F.concat(F.lit(u + "|"), q, F.lit("|" + v))
    ).otherwise(F.concat(F.lit(v + "|"), q, F.lit("|" + u)))


def _ca_str(u: str, q2, cst, e):
    e = e if isinstance(e, F.Column) else F.lit(e)
    return F.when(
        e == "s", F.concat(F.lit(u + "|"), q2, F.lit("|C="), cst)
    ).otherwise(F.concat(F.lit("C="), cst, F.lit("|"), q2, F.lit("|" + u)))


def _passing(agg, heads, params: MiningParams):
    """The groups of ``agg`` (p, keys..., support) that pass the one
    support/minHC law, with their head_size."""
    return agg.join(F.broadcast(heads), "p").where(
        (F.col("support") >= params.min_support)
        & (F.col("support") / F.col("head_size")
           >= params.min_head_coverage)
    )


def _finish(agg, heads, params: MiningParams, head_expr, atoms_expr, shape):
    out = (
        _passing(agg, heads, params)
        .select(
            head_expr.alias("head"),
            "p",
            atoms_expr.alias("atoms"),
            F.lit(shape).alias("shape"),
            "support",
            "head_size",
            (F.col("support") / F.col("head_size")).alias("head_coverage"),
        )
    )
    if not params.with_duplicate_predicates:
        all_preds = F.array_union(
            F.array(F.col("p")),
            F.transform(F.col("atoms"), lambda a: F.split(a, "\\|")[1]),
        )
        n_atoms = F.size(F.col("atoms")) + 1
        out = out.where(F.size(all_preds) == n_atoms)
    return out


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

    The generation-time filter (a fresh constant-bearing atom must admit
    >= 2 distinct bindings of its variable over the PARENT BODY + itself,
    head excluded) is order-dependent in the reference's BFS; a rule
    survives iff SOME generation order admits it. Because support is
    monotone under body extension the prefix-threshold part of every order
    is automatic, so the existential collapses to one declarative law per
    shape:

      s4 {VV, CA}:   alone(CA) >= 2   (order CA-first needs only this, and
                                       joint(CA|VV) <= alone(CA))
      s5 {CAa, CAb}: alone(CAa) and alone(CAb)  (the two atoms share no
                                       variable, so the joint count
                                       factorizes through a cross product)
      s6 {CA}:       alone(CA) >= 2   (parent body is empty)
      s8 {VV, CA}:   joint(CA | VV on the shared ?c) >= 2  (CA-first is not
                                       generable: its variable would be
                                       fresh, and fresh atoms must share a
                                       variable with the rule)
      s9 {CA1, CA2}: joint(CA1 ⋈ CA2 on the shared free var) >= 2  (each
                                       order requires alone(first) and the
                                       same joint, and joint <= alone)

    where alone(CA) = #distinct KG bindings of CA's variable and joint =
    the same count restricted by the other body atom."""
    params = params or MiningParams()
    ndt = not quasi_binding  # distinct-triple support law (published spec)
    inj = params.injective

    def _ndt(cond):
        """Triple-identity inequality — active in the published spec AND
        under InjectiveMapping (VariableMap.InjectiveMapping tracks used
        instantiated atoms and AtomCounting.scala:360-387 rejects a reused
        triple; the executed reference otherwise counts support plainly)."""
        return cond if (ndt or inj) else F.lit(True)

    def _inj(cond):
        """Pairwise-distinct variable VALUES (AtomCounting.scala:360:
        binding a fresh variable fails if its value equals any bound one —
        rule constants never enter the map, so no var-vs-constant test)."""
        return cond if inj else F.lit(True)
    if params.only_predicates is not None:
        triples = triples.where(F.col("p").isin(params.only_predicates))
    if params.without_predicates is not None:
        triples = triples.where(~F.col("p").isin(params.without_predicates))

    # Adaptive small-input gate (local_constants.collect_spo): at
    # driver-sized inputs the ~60-stage staged plan below is pure
    # scheduling overhead — run the identical algebra vectorized on the
    # driver instead. Above the gate the distributed path is unchanged.
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

    # size(injectiveMapping): non-reflexive triple count under injective
    # (TripleHashIndex.scala:61-66)
    ht = triples.where(F.col("s") != F.col("o")) if inj else triples
    heads = ht.groupBy("p").agg(F.count(F.lit(1)).alias("head_size"))
    heads = heads.where(F.col("head_size") >= params.min_head_size)

    b = _b(triples).withColumn("tid", _btid())
    ca = _catoms(triples, constants, constants_for_predicates)
    if quasi_binding:
        # alone(CA) >= 2: the atom's variable takes >= 2 distinct KG
        # bindings. One map-side-combined aggregation over CA; the ok-set
        # is ~|distinct (p, const)| rows, semi-joined (AQE picks broadcast
        # when it fits — no forced broadcast, the set scales with the KG).
        ca_ok = (
            ca.groupBy("q2", "cst", "e")
            .agg(F.countDistinct("x").alias("_nx"))
            .where(F.col("_nx") >= 2)
            .select("q2", "cst", "e")
        )
        ca_alone = ca.join(ca_ok, ["q2", "cst", "e"], "left_semi")
    else:
        ca_alone = ca
    h0 = ht.join(F.broadcast(heads.select("p")), "p").select(
        "p", F.col("s").alias("a"), F.col("o").alias("bb"),
        F.xxhash64("s", "p", "o").alias("htid"),
    )
    results = []

    # ---------------- H0 shapes ----------------
    head0 = F.concat(F.lit("?a|"), F.col("p"), F.lit("|?b"))

    # l2: VV(a,b)
    m = h0.join(
        b, (F.col("a") == F.col("x")) & (F.col("bb") == F.col("y"))
    ).where((F.col("q") != F.col("p")) | (F.col("d") != "f")).where(
        _ndt(F.col("tid") != F.col("htid"))
    ).select("p", "a", "bb", "q", "d", "tid", "htid")
    l2 = m.groupBy("p", "q", "d").agg(F.count(F.lit(1)).alias("support"))
    results.append(_finish(
        l2, heads, params, head0,
        F.array(_vv_str("?a", "?b", F.col("q"), F.col("d"))), "l2",
    ))

    if params.max_rule_length >= 3:
        # l2 survivors gate every H0 length-3 shape built on a VV atom
        l2s = _passing(l2, heads, params).select("p", "q", "d")
        ms = m.join(F.broadcast(l2s), ["p", "q", "d"], "left_semi")

        # l3v2: {VV, VV}
        m2 = ms.select(
            "p", "a", "bb", F.col("q").alias("r"), F.col("d").alias("d2"),
            F.col("tid").alias("tid2"),
        )
        pairs = ms.join(m2, ["p", "a", "bb"]).where(
            (F.col("q") < F.col("r"))
            | ((F.col("q") == F.col("r")) & (F.col("d") < F.col("d2")))
        ).where(_ndt(F.col("tid") != F.col("tid2")))
        l3v2 = pairs.groupBy("p", "q", "d", "r", "d2").agg(
            F.count(F.lit(1)).alias("support")
        )
        results.append(_finish(
            l3v2, heads, params, head0,
            F.array_sort(F.array(
                _vv_str("?a", "?b", F.col("q"), F.col("d")),
                _vv_str("?a", "?b", F.col("r"), F.col("d2")),
            )), "l3v2",
        ))

        # l3 path (S3): VV(a,c) + VV(b,c); gated by the dangling prefix
        # (a p b) <- (a q c) survivors
        b1 = b.select(F.col("x").alias("a"), F.col("y").alias("c"),
                      "q", F.col("d").alias("d1"),
                      F.col("tid").alias("tid1"))
        dang_a = h0.join(b1, "a").where(_ndt(F.col("tid1") != F.col("htid")))
        da_s = _passing(dang_a.groupBy("p", "q", "d1").agg(
            F.countDistinct("a", "bb").alias("support")
        ), heads, params).select("p", "q", "d1")
        b2 = b.select(F.col("x").alias("bb"), F.col("y").alias("c"),
                      F.col("q").alias("r"), F.col("d").alias("d2"),
                      F.col("tid").alias("tid2"))
        j3 = (
            dang_a.join(F.broadcast(da_s), ["p", "q", "d1"], "left_semi")
            .join(b2, ["bb", "c"])
            .where(_ndt((F.col("tid2") != F.col("htid"))
                        & (F.col("tid1") != F.col("tid2"))))
            .where(_inj((F.col("c") != F.col("a"))
                        & (F.col("c") != F.col("bb"))))
        )
        l3v3 = j3.groupBy("p", "q", "d1", "r", "d2").agg(
            F.countDistinct("a", "bb").alias("support")
        )
        results.append(_finish(
            l3v3, heads, params, head0,
            F.array_sort(F.array(
                _vv_str("?a", "?c", F.col("q"), F.col("d1")),
                _vv_str("?b", "?c", F.col("r"), F.col("d2")),
            )), "l3v3",
        ))

        if constants != "nowhere" or constants_for_predicates:
            # S4: {VV(a,b), CAtom on a or b} — gated by l2 survivors
            for role, key in (("?a", "a"), ("?b", "bb")):
                j = ms.join(ca, ms[key] == ca["x"]).where(
                    _ndt((F.col("ctid") != F.col("htid"))
                         & (F.col("ctid") != F.col("tid")))
                )
                agg = j.groupBy("p", "q", "d", "q2", "cst", "e").agg(
                    F.countDistinct("a", "bb").alias("support")
                )
                if quasi_binding:
                    # joint(CA | VV on the shared head var) >= 2 over the
                    # BODY alone. The VV-first order is the ONLY generation
                    # order for this shape: fresh atoms are emitted in
                    # non-decreasing var-pair order, and the head pair
                    # (a,b) cannot follow the CA's (a,c)/(b,c) pair
                    # (FreshAtomGenerator.scala:96-104) — so the joint
                    # count is the law, not alone(CA).
                    bx = b.select(
                        F.col("x").alias("_va"), F.col("y").alias("_vb"),
                        "q", "d", F.col("tid").alias("_vt"),
                    )
                    s4_ok = (
                        bx.join(ca, bx["_va" if key == "a" else "_vb"]
                                == ca["x"])
                        # the joint is counted with the SAME VariableMap
                        # the QuasiBindingFilter uses: under injective the
                        # two variables are distinct and the two body
                        # triples distinct (RuleFilter.scala:334 passes
                        # injectiveMapping into countDistinctPairs)
                        .where(_inj((F.col("_va") != F.col("_vb"))
                                    & (F.col("_vt") != F.col("ctid"))))
                        .groupBy("q", "d", "q2", "cst", "e")
                        .agg(F.countDistinct("x").alias("_nj"))
                        .where(F.col("_nj") >= 2)
                        .select("q", "d", "q2", "cst", "e")
                    )
                    agg = agg.join(
                        s4_ok, ["q", "d", "q2", "cst", "e"], "left_semi"
                    )
                results.append(_finish(
                    agg, heads, params, head0,
                    F.array_sort(F.array(
                        _vv_str("?a", "?b", F.col("q"), F.col("d")),
                        _ca_str(role, F.col("q2"), F.col("cst"), F.col("e")),
                    )), "s4",
                ))

            # S5: {CAtom(a), CAtom(b)} — gated by the instantiated-dangling
            # prefix (a p b) <- CAtom(a) survivors
            ia = h0.join(ca_alone, h0["a"] == ca_alone["x"]).where(
                _ndt(F.col("ctid") != F.col("htid"))
            ).select(
                "p", "a", "bb", "htid",
                F.col("q2").alias("qa"), F.col("cst").alias("csta"),
                F.col("e").alias("ea"), F.col("ctid").alias("ctida"),
            )
            ia_s = _passing(ia.groupBy("p", "qa", "csta", "ea").agg(
                F.countDistinct("a", "bb").alias("support")
            ), heads, params).select("p", "qa", "csta", "ea")
            s5 = (
                ia.join(ia_s, ["p", "qa", "csta", "ea"], "left_semi")
                .join(ca_alone, F.col("bb") == ca_alone["x"])
                .where(_ndt((F.col("ctid") != F.col("htid"))
                            & (F.col("ctid") != F.col("ctida"))))
                .where(_inj(F.col("a") != F.col("bb")))
                .groupBy("p", "qa", "csta", "ea", "q2", "cst", "e")
                .agg(F.countDistinct("a", "bb").alias("support"))
            )
            if quasi_binding and inj:
                # Injective quasi-binding for {CAa, CAb}: the second atom's
                # joint count must reach 2 in SOME generation order, with
                # the injective VariableMap (var distinctness + triple
                # distinctness). The joint deficit vs alone() exists ONLY
                # when both atoms' entity sets are exactly {cstA, cstB}
                # with the pair cross-oriented on one predicate (then both
                # orders bottom out at joint == 1) — a closed kill set of
                # atom pairs, anti-joined here.
                ca2 = (
                    ca.groupBy("q2", "cst", "e")
                    .agg(F.countDistinct("x").alias("_n"),
                         F.array_sort(F.collect_set("x")).alias("_xs"))
                    .where(F.col("_n") == 2)
                )
                kill = (
                    ca2.alias("k1")
                    .join(ca2.alias("k2"),
                          (F.col("k1.q2") == F.col("k2.q2"))
                          & (F.col("k1.e") != F.col("k2.e")))
                    .where(F.col("k1.cst") != F.col("k2.cst"))
                    .where(F.col("k1._xs")
                           == F.array_sort(F.array(F.col("k1.cst"),
                                                   F.col("k2.cst"))))
                    .where(F.col("k2._xs") == F.col("k1._xs"))
                    .select(
                        F.col("k1.q2").alias("qa"),
                        F.col("k1.cst").alias("csta"),
                        F.col("k1.e").alias("ea"),
                        F.col("k2.q2").alias("q2"),
                        F.col("k2.cst").alias("cst"),
                        F.col("k2.e").alias("e"),
                    )
                )
                s5 = s5.join(
                    kill, ["qa", "csta", "ea", "q2", "cst", "e"],
                    "left_anti",
                )
            results.append(_finish(
                s5, heads, params, head0,
                F.array_sort(F.array(
                    _ca_str("?a", F.col("qa"), F.col("csta"), F.col("ea")),
                    _ca_str("?b", F.col("q2"), F.col("cst"), F.col("e")),
                )), "s5",
            ))

    # ---------------- instantiated heads ----------------
    if constants != "nowhere" or constants_for_predicates:
        for fixed_pos, fvar in (("s", "?b"), ("o", "?a")):
            cfp = constants_for_predicates
            if cfp is None:
                if constants == "object" and fixed_pos == "s":
                    continue
                if constants == "subject" and fixed_pos == "o":
                    continue
            ih = h0.select(
                "p",
                (F.col("a") if fixed_pos == "s" else F.col("bb")).alias("A"),
                (F.col("bb") if fixed_pos == "s" else F.col("a")).alias("f"),
                "htid",
            )
            if cfp is not None:
                # per-predicate head-constant dispatch (HeadsFetcher
                # resolvedConstantsPosition): listed predicates follow the
                # map, unlisted ones the global policy
                listed_ok = [
                    p for p, pos in cfp.items()
                    if pos == "both"
                    or (pos == "subject" and fixed_pos == "s")
                    or (pos == "object" and fixed_pos == "o")
                    or pos == "lcs"
                ]
                lcs_listed = [p for p, pos in cfp.items() if pos == "lcs"]
                g_ok = (
                    constants in ("anywhere", "lcs")
                    or (constants == "subject" and fixed_pos == "s")
                    or (constants == "object" and fixed_pos == "o")
                )
                cond = F.col("p").isin(listed_ok)
                if g_ok:
                    cond = cond | ~F.col("p").isin(list(cfp))
                ih = ih.where(cond)
                if lcs_listed or constants == "lcs":
                    side = _const_side(triples, "lcs")
                    ih = ih.join(F.broadcast(side), "p", "left").where(
                        ~(
                            F.col("p").isin(lcs_listed)
                            | (F.lit(constants == "lcs")
                               & ~F.col("p").isin(list(cfp)))
                        )
                        | (F.col("cpos") == fixed_pos)
                    ).drop("cpos")
            elif constants == "lcs":
                side = _const_side(triples, constants)
                ih = ih.join(F.broadcast(side), "p").where(
                    F.col("cpos") == fixed_pos
                ).drop("cpos")
            # head prune: every S6-S9 support counts distinct f of one
            # instantiated head (p, A), so a head whose triple count fails
            # the law has no rule (local_constants.mine_constants_local).
            # No forced broadcast: at minHC 0 every head passes.
            ih = ih.join(_passing(
                ih.groupBy("p", "A").agg(F.count(F.lit(1)).alias("support")),
                heads, params,
            ).select("p", "A"), ["p", "A"], "left_semi")
            head_i = (
                F.concat(F.lit("C="), F.col("A"), F.lit("|"), F.col("p"),
                         F.lit("|?b"))
                if fixed_pos == "s"
                else F.concat(F.lit("?a|"), F.col("p"), F.lit("|C="),
                              F.col("A"))
            )
            not_head_atom = ~(
                (F.col("e") == ("o" if fixed_pos == "s" else "s"))
                & (F.col("q2") == F.col("p")) & (F.col("cst") == F.col("A"))
            )

            # S6: one CAtom on the free var (also the gate for S9)
            ihca = ih.join(ca_alone, ih["f"] == ca_alone["x"]).where(not_head_atom).where(
                _ndt(F.col("ctid") != F.col("htid"))
            ).select("p", "A", "f", "q2", "cst", "e", "ctid", "htid")
            s6 = ihca.groupBy("p", "A", "q2", "cst", "e").agg(
                F.countDistinct("f").alias("support")
            )
            results.append(_finish(
                s6, heads, params, head_i,
                F.array(_ca_str(fvar, F.col("q2"), F.col("cst"), F.col("e"))),
                "s6",
            ))

            if params.max_rule_length >= 3:
                s6s = _passing(s6, heads, params).select(
                    "p", "A", "q2", "cst", "e")

                # dangling prefix (head) <- VV(f, c) — gate for S7/S8
                ihb = ih.join(b, ih["f"] == b["x"]).where(
                    _ndt(F.col("tid") != F.col("htid"))
                ).where(_inj(b["y"] != ih["f"])).select(
                    "p", "A", "f", F.col("y").alias("c"), "q", "d",
                    "tid", "htid",
                )
                d7s = _passing(ihb.groupBy("p", "A", "q", "d").agg(
                    F.countDistinct("f").alias("support")
                ), heads, params).select("p", "A", "q", "d")
                ihb_s = ihb.join(d7s, ["p", "A", "q", "d"], "left_semi")

                # S7: {VV(f,c), VV(f,c)} distinct pair
                ihb2 = ihb.select(
                    "p", "A", "f", "c",
                    F.col("q").alias("r"), F.col("d").alias("d2"),
                    F.col("tid").alias("tid2"),
                )
                p7 = ihb_s.join(ihb2, ["p", "A", "f", "c"]).where(
                    (F.col("q") < F.col("r"))
                    | ((F.col("q") == F.col("r")) & (F.col("d") < F.col("d2")))
                ).where(_ndt(F.col("tid") != F.col("tid2")))
                s7 = p7.groupBy("p", "A", "q", "d", "r", "d2").agg(
                    F.countDistinct("f").alias("support")
                )
                results.append(_finish(
                    s7, heads, params, head_i,
                    F.array_sort(F.array(
                        _vv_str(fvar, "?c", F.col("q"), F.col("d")),
                        _vv_str(fvar, "?c", F.col("r"), F.col("d2")),
                    )), "s7",
                ))

                # S8: {VV(f,c), CAtom(c)}
                s8 = (
                    ihb_s.join(ca, F.col("c") == ca["x"])
                    .where(_ndt((F.col("ctid") != F.col("htid"))
                                & (F.col("ctid") != F.col("tid"))))
                    .groupBy("p", "A", "q", "d", "q2", "cst", "e")
                    .agg(F.countDistinct("f").alias("support"))
                )
                if quasi_binding:
                    # joint(CA | VV on ?c) >= 2 over the BODY alone: the
                    # CA-first order cannot generate this shape, so the
                    # only order's filter is the joint count.
                    s8_ok = (
                        b.select(F.col("x").alias("_f"),
                                 F.col("y").alias("c"), "q", "d",
                                 F.col("tid").alias("_vt"))
                        .join(ca, F.col("c") == ca["x"])
                        # injective joint: f != c and distinct triples
                        # (see s4_ok note)
                        .where(_inj((F.col("_f") != F.col("c"))
                                    & (F.col("_vt") != F.col("ctid"))))
                        .groupBy("q", "d", "q2", "cst", "e")
                        .agg(F.countDistinct("c").alias("_nc"))
                        .where(F.col("_nc") >= 2)
                        .select("q", "d", "q2", "cst", "e")
                    )
                    s8 = s8.join(
                        s8_ok, ["q", "d", "q2", "cst", "e"], "left_semi"
                    )
                results.append(_finish(
                    s8, heads, params, head_i,
                    F.array_sort(F.array(
                        _vv_str(fvar, "?c", F.col("q"), F.col("d")),
                        _ca_str("?c", F.col("q2"), F.col("cst"), F.col("e")),
                    )), "s8",
                ))

                # S9: {CAtom(f), CAtom(f)} distinct pair, gated by S6
                # survivors on the canonically-smaller atom
                a1str = _ca_str(fvar, F.col("q2"), F.col("cst"), F.col("e"))
                r1 = ihca.join(
                    s6s, ["p", "A", "q2", "cst", "e"], "left_semi"
                ).select("p", "A", "f", a1str.alias("a1"),
                         F.col("ctid").alias("ctid1"))
                r2 = ihca.select("p", "A", "f", a1str.alias("a2"),
                                 F.col("ctid").alias("ctid2"))
                s9 = (
                    r1.join(r2, ["p", "A", "f"])
                    .where(F.col("a1") < F.col("a2"))
                    .where(_ndt(F.col("ctid1") != F.col("ctid2")))
                    .groupBy("p", "A", "a1", "a2")
                    .agg(F.countDistinct("f").alias("support"))
                )
                if quasi_binding:
                    # joint(CA1 ⋈ CA2 on the shared var) >= 2, body-only
                    # (every generation order requires this same joint and
                    # it implies alone() for both atoms). Atom identity via
                    # the same canonical strings as the candidate rows, so
                    # the semi-join keys line up under either fvar.
                    k1 = _ca_str(fvar, ca["q2"], ca["cst"], ca["e"])
                    cak = ca.select("x", k1.alias("k"))
                    s9_ok = (
                        cak.join(
                            cak.select(
                                "x", F.col("k").alias("k2")), "x")
                        .where(F.col("k") < F.col("k2"))
                        .groupBy("k", "k2")
                        .agg(F.countDistinct("x").alias("_nf"))
                        .where(F.col("_nf") >= 2)
                        .select(F.col("k").alias("a1"),
                                F.col("k2").alias("a2"))
                    )
                    s9 = s9.join(s9_ok, ["a1", "a2"], "left_semi")
                results.append(_finish(
                    s9, heads, params, head_i,
                    F.array(F.col("a1"), F.col("a2")), "s9",
                ))

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


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
    ca = _catoms(triples, constants)

    def ca_parts(atom_col):
        parts = F.split(atom_col, "\\|")
        e = F.when(F.get(parts, 0).startswith("C="), F.lit("o")).otherwise("s")
        cst = F.when(e == "o", F.substring(F.get(parts, 0), 3, 1 << 20)) \
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
