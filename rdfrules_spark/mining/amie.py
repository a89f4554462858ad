"""AMIE+-style Horn-rule mining as a DataFrame self-join workload.

Reference semantics (constants-free tier):
  core:algorithm/amie/{Amie,RuleRefinement,HeadsFetcher,AtomCounting}.scala,
  defaults core:algorithm/amie/AmieSettings.scala:17-24 (minHeadSize=100,
  minSupport=1, maxRuleLength=3, non-injective mapping unless constrained).

A rule is CLOSED when every variable occurs >= 2x. For maxRuleLength=3 and
no constants, the complete closed-rule space over head (?a p ?b) is:

  L2      : (?a p ?b) <- (?a q ?b)            [dir=f]  (q != p: atom dedup)
            (?a p ?b) <- (?b q ?a)            [dir=i]
  L3-2var : (?a p ?b) <- A1, A2 with A1,A2 in {(?a q ?b), (?b q ?a)},
            A1 != A2, Ai != head atom          (unordered pair)
  L3-3var : (?a p ?b) <- B1(a,c), B2(b,c) with B1 in {(?a q ?c),(?c q ?a)},
            B2 in {(?b r ?c),(?c r ?b)}

Instead of the reference's per-rule in-memory index lookups, each shape is
ONE distributed job: a self-join of the (deduplicated) triple table keyed on
the shared variables, followed by groupBy(rule-identity).countDistinct(head
pair). support = #distinct head pairs with a body completion (non-injective:
the dangling var may rebind head entities or the head triple itself, exactly
like the reference with InjectiveMapping off).

Scale notes:
  * `B` (direction-tagged triples) is materialized once and reused by every
    shape — one scan, no recompute;
  * the L3-3var join on the shared var c is the skew hot spot (celebrity
    entities): AQE skew-join splitting handles it;
  * HC filtering happens inside each shape's aggregation (HAVING), so
    nothing survives a stage that the next stage cannot use — the Spark
    analog of the reference's support-threshold pruning during refinement
    (RuleRefinement.scala:144-169).

Rule row schema:
  rule(p long, shape string, q long, d1 string, r long, d2 string,
       head_size long, support long, head_coverage double)
  shape in {'l2', 'l3v2', 'l3v3'}; d* in {'f','i'}; r/d2 null for l2;
  p/q/r take the type of the input's p.

Driver-local gate: one gate serves both tiers. Below
``local_constants.LOCAL_TRIPLES_MAX`` triples ``mine`` runs the constants
tier's driver-local miner without constants (the same l2/l3v2/l3v3 laws
in DuckDB), as mining/measures.confidences runs its SQL text there; the
staged jobs above stay the path for larger inputs and for the settings
that miner does not honour (see ``_local_ok``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfrules_spark.mining.local_constants import (
    LOCAL_TRIPLES_MAX,
    collect_triples,
    mine_constants_local,
)


@dataclass
class MiningParams:
    min_head_size: int = 100
    min_support: int = 1
    min_head_coverage: float = 0.01
    max_rule_length: int = 3
    only_predicates: list | None = None
    without_predicates: list | None = None
    with_duplicate_predicates: bool = True
    top_k: int | None = None
    #: InjectiveMapping (RuleConstraint.scala:94-98, VariableMap.scala
    #: InjectiveMapping class): support bindings must map variables to
    #: PAIRWISE-DISTINCT constants and may not reuse a KG triple (the
    #: triple part is the always-on distinct-triple law); head sizes and
    #: head triples exclude reflexive facts (size(injectiveMapping),
    #: ExpandingRule.headTriples). Auto-added by the reference's HTTP Mine
    #: task, so product-default parity runs set this True.
    injective: bool = False
    #: Reproduce the reference's single-graph headSize inconsistency
    #: (see head_sizes): head sizes / minHC denominators count reflexive
    #: facts even under injective mapping. Support counting is unaffected.
    reflexive_head_sizes: bool = False
    #: Anytime mining (Threshold.scala:15-89, AnytimeRefinement.scala):
    #: global wall-clock budget in seconds — the staged miners stop
    #: LAUNCHING further shape jobs once exceeded and return the (valid)
    #: subset mined so far. None = run to completion.
    timeout_s: float | None = None
    #: LocalTimeout analog (margin-error sampling, Bootstrapper): mine on
    #: a deterministic SAMPLE of head triples and scale supports by
    #: 1/fraction (supportIncreaseRatio). Approximate by design; None = exact.
    head_sample_fraction: float | None = None
    #: Per-rule LocalTimeout margin error (Threshold.LocalTimeout(me, dme),
    #: AnytimeRefinement.SamplesChecker): the reference stops a rule's
    #: head-triple scan once the processed count i reaches the Wald
    #: sample-size bound hc*(1-hc)*(1.96/me)^2 and scales supports by
    #: headSupport/i. Set-based analog: every head predicate's triples are
    #: deterministically hash-sampled to the hc=0.5 WORST-CASE bound
    #: n = 0.25*(1.96/me)^2 (the binding case of the reference's stopper,
    #: so every rule's +-me @95% guarantee holds or is exceeded) and
    #: supports are scaled by the realized per-predicate ratio. None = exact.
    local_timeout_me: float | None = None
    #: dme mode (LocalTimeout.dme): the margin shrinks for rare rules,
    #: me_eff(hc) = min(-me/log10(hc), me) — conservatively bounded at
    #: hc = min_head_coverage (every retained rule has hc >= that), which
    #: only ever INCREASES the sample size.
    local_timeout_dme: bool = False
    #: Spec switch for L4+ shape construction (tools/refexec/README.md):
    #: False = published spec (the AmieSpec maxLen-4 golden of 98 rules,
    #: which excludes shapes needing two simultaneously-open extra
    #: danglings); True = executable spec (the reference snapshot's
    #: FreshAtomGenerator.scala:117-123 bounds open danglings only by
    #: maxDanglingVariables = floor(2*maxLen/3), admitting e.g. ac-bd-cd at
    #: L4 — 139 rules on yago, set-verified in tests/test_refexec_parity).
    multi_open_danglings: bool = False


def _b(triples: DataFrame) -> DataFrame:
    """Direction-tagged body atom relation: (x, y, q, d) meaning atom
    (?x q ?y) binds; d='f' stores (s,o), d='i' stores (o,s)."""
    t = triples.select("s", "p", "o")
    fwd = t.select(F.col("s").alias("x"), F.col("o").alias("y"),
                   F.col("p").alias("q"), F.lit("f").alias("d"))
    inv = t.select(F.col("o").alias("x"), F.col("s").alias("y"),
                   F.col("p").alias("q"), F.lit("i").alias("d"))
    return fwd.unionAll(inv)


#: separator for triple-identity strings (never occurs in IRIs/literals of
#: the fixtures; collisions would only merge identities, never split them)
_TSEP = ""


def _btid(prefix: str = "") -> F.Column:
    """64-bit identity of the UNDERLYING triple of a B-relation row: d='f'
    stores (x,q,y) for triple (x,q,y); d='i' stores (o,s) so the triple is
    (y,q,x). Distinct-triple support semantics (see mine_l2 docstring).
    xxhash64 keeps the column 8 bytes through the self-join shuffles
    (string ids measurably bloat shuffle volume at the 1M-triple scale); a
    collision could only drop one binding and needs ~2^32 triples to
    become likely."""
    x, y, q, d = (F.col(prefix + c) for c in ("x", "y", "q", "d"))
    return F.when(
        d == "f", F.xxhash64(x, q, y)
    ).otherwise(F.xxhash64(y, q, x))


def _htid() -> F.Column:
    """64-bit identity of the bound head triple (a, p, b)."""
    return F.xxhash64(F.col("a"), F.col("p"), F.col("b"))


def head_sizes(triples: DataFrame, params: MiningParams) -> DataFrame:
    """Valid head predicates with sizes (HeadsFetcher.scala:24-92);
    injective mapping counts non-reflexive facts only (size(true)).

    ``params.reflexive_head_sizes`` mirrors a reference inconsistency its
    SINGLE-GRAPH index build path exhibits: TripleHashIndex.scala:325-330
    marks reflexivity on the per-(s,o) graph-set entry instead of calling
    ``psi.value.setReflexivity()`` like the multi-graph path does at :247,
    so ``predicate.size(nonReflexive=true)`` (:61-66, a sum of per-subject
    object-map ``size(true)``) never subtracts reflexive facts — headSize
    and the minHC denominator equal the FULL size even under
    InjectiveMapping, while support enumeration (ExpandingRule.headTriples)
    still skips reflexive head triples. Verified by executing the reference
    on a synthetic KG with reflexive facts (162-rule task9 run: headSize
    diverges by exactly the per-predicate reflexive count; all supports and
    confidences equal). Set True only to reproduce executed-reference
    output on single-graph datasets."""
    base = (
        triples.where(F.col("s") != F.col("o"))
        if params.injective and not params.reflexive_head_sizes
        else triples
    )
    hs = base.groupBy("p").agg(F.count(F.lit(1)).alias("head_size"))
    hs = hs.where(F.col("head_size") >= params.min_head_size)
    if params.only_predicates is not None:
        hs = hs.where(F.col("p").isin(params.only_predicates))
    if params.without_predicates is not None:
        hs = hs.where(~F.col("p").isin(params.without_predicates))
    return hs


def _lt_cap(params: MiningParams) -> int:
    """Wald sample-size bound of the per-rule LocalTimeout stopper
    (AnytimeRefinement.SamplesChecker): n >= hc*(1-hc)*(1.96/me)^2, taken
    at the hc=0.5 worst case so the +-me @95% guarantee holds for EVERY
    rule. dme mode (LocalTimeout.calcMer with me_eff = min(-me/log10(hc),
    me)) shrinks the margin for rare rules — bounded at hc =
    min_head_coverage, below which rules are dropped anyway."""
    import math

    me = params.local_timeout_me
    if params.local_timeout_dme:
        hc = max(params.min_head_coverage, 1e-12)
        if hc < 0.1:
            me = min(-me / math.log10(hc), me)
    return max(2, math.ceil(0.25 * (1.96 / me) ** 2))


def _lt_sample_cond(params: MiningParams, a, p, b, head_size):
    """Deterministic per-head-predicate sample: keep a head triple iff
    hash % head_size < cap — expected min(cap, head_size) triples, no
    shuffle, no window (scale-safe at any predicate skew)."""
    from rdfrules_spark.functions.hashing import h60

    cap = _lt_cap(params)
    return (h60(F.concat_ws("|", a, p, b)) % head_size) < F.lit(cap)


def _head_rel(triples: DataFrame, params: MiningParams, a: str, b: str) -> DataFrame:
    """Head-triple relation (a, b, p) with injective reflexive exclusion
    and optional deterministic head sampling (LocalTimeout analogs:
    global-fraction `head_sample_fraction`, or per-rule margin-error
    `local_timeout_me` — see MiningParams)."""
    if (
        params.head_sample_fraction is not None
        and params.local_timeout_me is not None
    ):
        raise ValueError(
            "head_sample_fraction and local_timeout_me are mutually "
            "exclusive sampling modes"
        )
    h = triples.select(F.col("s").alias(a), F.col("o").alias(b), "p")
    if params.injective:
        h = h.where(F.col(a) != F.col(b))
    if params.head_sample_fraction is not None:
        from rdfrules_spark.functions.hashing import h60

        frac = params.head_sample_fraction
        h = h.where(
            (h60(F.concat_ws("|", a, "p", b)) % 1_000_000)
            < int(frac * 1_000_000)
        )
    if params.local_timeout_me is not None:
        sizes = h.groupBy("p").agg(F.count(F.lit(1)).alias("_hs"))
        h = (
            h.join(F.broadcast(sizes), "p")
            .where(_lt_sample_cond(params, F.col(a), F.col("p"), F.col(b),
                                   F.col("_hs")))
            .drop("_hs")
        )
    return h


def _lt_ratios(triples: DataFrame, params: MiningParams) -> DataFrame:
    """Per-predicate supportIncreaseRatio = head_size / realized sample
    size, from the SAME deterministic filter _head_rel applies.

    Memoized on the triples object (keyed by the sampling params) and
    materialized once: every shape stage of one mine() run joins the
    same |P|-row table instead of re-aggregating the full triple set
    per _scale_support call site (~2 full scans each, 6 sites)."""
    # _lt_sample_cond depends on params only through _lt_cap, which in
    # dme mode also folds in min_head_coverage — key on the computed cap
    # so two mine() runs over the same triples object with different
    # min_head_coverage never share a stale ratio table.
    key = (params.local_timeout_me, params.local_timeout_dme,
           params.injective, _lt_cap(params))
    cache = getattr(triples, "_lt_ratio_cache", None)
    if cache is None:
        cache = {}
        triples._lt_ratio_cache = cache
    if key in cache:
        return cache[key]
    h = triples.select(F.col("s").alias("_a"), F.col("o").alias("_b"), "p")
    if params.injective:
        h = h.where(F.col("_a") != F.col("_b"))
    full = h.groupBy("p").agg(F.count(F.lit(1)).alias("_full"))
    sampled = (
        h.join(F.broadcast(full), "p")
        .where(_lt_sample_cond(params, F.col("_a"), F.col("p"), F.col("_b"),
                               F.col("_full")))
        .groupBy("p").agg(F.count(F.lit(1)).alias("_n"))
    )
    out = full.join(sampled, "p").select(
        "p", (F.col("_full") / F.col("_n")).alias("_ratio")
    ).localCheckpoint(eager=True)
    cache[key] = out
    return out


def _scale_support(
    agg: DataFrame, params: MiningParams, triples: DataFrame | None = None
) -> DataFrame:
    """supportIncreaseRatio: scale sampled supports back up (Bootstrapper
    semantics — round to int like the reference's math.round)."""
    if params.local_timeout_me is not None and triples is not None:
        ratios = _lt_ratios(triples, params)
        return (
            agg.join(F.broadcast(ratios), "p")
            .withColumn(
                "support",
                F.round(F.col("support") * F.col("_ratio")).cast("long"),
            )
            .drop("_ratio")
        )
    if params.head_sample_fraction is None:
        return agg
    return agg.withColumn(
        "support",
        F.round(F.col("support") / params.head_sample_fraction).cast("long"),
    )


def _finish(agg: DataFrame, heads: DataFrame, params: MiningParams) -> DataFrame:
    out = (
        agg.join(F.broadcast(heads), "p")
        .withColumn("head_coverage", F.col("support") / F.col("head_size"))
        .where(
            (F.col("support") >= params.min_support)
            & (F.col("head_coverage") >= params.min_head_coverage)
        )
    )
    if not params.with_duplicate_predicates:
        out = out.where(
            (F.col("q") != F.col("p"))
            & (F.col("r").isNull() | (F.col("r") != F.col("p")))
            & (F.col("r").isNull() | (F.col("r") != F.col("q")))
        )
    return out.select(
        "p", "shape", "q", "d1", "r", "d2", "head_size", "support", "head_coverage"
    )


def _head_atoms(triples: DataFrame, params: MiningParams) -> DataFrame:
    """The atoms over a head triple's pair, m = head ⋈ B: (x, y, p, q, d,
    tid), which l2 aggregates and l3v2 self-joins. The head atom itself
    and atoms binding the head triple are excluded (distinct-triple
    support, see mine_l2)."""
    h = _head_rel(triples, params, "x", "y")
    return (
        h.join(_b(triples), ["x", "y"])
        .where((F.col("q") != F.col("p")) | (F.col("d") != "f"))
        .withColumn("tid", _btid())
        .where(F.col("tid") != F.xxhash64(F.col("x"), F.col("p"), F.col("y")))
        .select("x", "y", "p", "q", "d", "tid")
    )


def mine_l2(triples: DataFrame, heads: DataFrame, params: MiningParams) -> DataFrame:
    """(?a p ?b) <- (?a q ?b) | (?b q ?a): one self-join on the head pair.

    Distinct-triple support (all miners): no body atom may bind the SAME
    KG triple as the head or another body atom — the reference bans "two
    identical instantiated atoms in the rule" during support counting
    (RuleFilter.scala NoRepeatedGroups deprecation note, VariableMap.scala
    :5-12; pinned by the AmieSpec dup-predicate goldens 124/51143). Only
    same-predicate (duplicate-predicate) atoms can collide, so the filters
    are no-ops for constraint-free configs."""
    return _l2_rules(_head_atoms(triples, params), triples, heads, params)


def _l2_rules(m: DataFrame, triples: DataFrame, heads: DataFrame,
              params: MiningParams) -> DataFrame:
    """mine_l2 over the head-atom relation ``m`` (``_head_atoms``)."""
    agg = _scale_support(
        m.groupBy("p", "q", F.col("d").alias("d1")).agg(
            F.count(F.lit(1)).alias("support")  # head triples are distinct pairs
        ),
        params,
        triples,
    )
    p_type = dict(triples.dtypes)["p"]
    agg = agg.select(
        "p", F.lit("l2").alias("shape"), "q", "d1",
        F.lit(None).cast(p_type).alias("r"), F.lit(None).cast("string").alias("d2"),
        "support",
    )
    return _finish(agg, heads, params)


def mine_l3_2var(triples: DataFrame, heads: DataFrame, params: MiningParams) -> DataFrame:
    """(?a p ?b) <- A1, A2 over the same var pair: per head triple collect
    matching atoms, count unordered atom pairs."""
    return _l3v2_rules(_head_atoms(triples, params), triples, heads, params)


def _l3v2_rules(m: DataFrame, triples: DataFrame, heads: DataFrame,
                params: MiningParams) -> DataFrame:
    """mine_l3_2var over the head-atom relation ``m`` (``_head_atoms``)."""
    m1 = m.select("x", "y", "p", "q", F.col("d").alias("d1"),
                  F.col("tid").alias("tid1"))
    m2 = m.select("x", "y", "p", F.col("q").alias("r"), F.col("d").alias("d2"),
                  F.col("tid").alias("tid2"))
    # canonical unordered pair: (q,d1) < (r,d2) lexicographically;
    # distinct-triple: the two atoms may not bind the same KG triple
    pairs = m1.join(m2, ["x", "y", "p"]).where(
        (F.col("q") < F.col("r"))
        | ((F.col("q") == F.col("r")) & (F.col("d1") < F.col("d2")))
    ).where(F.col("tid1") != F.col("tid2"))
    agg = _scale_support(
        pairs.groupBy("p", "q", "d1", "r", "d2").agg(
            F.count(F.lit(1)).alias("support")
        ),
        params,
        triples,
    )
    agg = agg.select(
        "p", F.lit("l3v2").alias("shape"), "q", "d1", "r", "d2", "support"
    )
    return _finish(agg, heads, params)


def mine_l3_3var(
    triples: DataFrame,
    heads: DataFrame,
    params: MiningParams,
) -> DataFrame:
    """(?a p ?b) <- B1(?a,?c), B2(?b,?c): the path-join workload.

    Plan: head(a,b) ⋈ B1 on a ⋈ B2 on (b,c) — the head join FIRST bounds the
    c-explosion by head pairs (vs body1 ⋈ body2 which is deg² per hub).
    countDistinct head pair per (q,d1,r,d2).
    """
    h = _head_rel(triples, params, "a", "b")
    b = _b(triples)
    b1 = b.select(F.col("x").alias("a"), F.col("y").alias("c"),
                  F.col("q").alias("q"), F.col("d").alias("d1"),
                  _btid().alias("tid1"))
    b2 = b.select(F.col("x").alias("b"), F.col("y").alias("c"),
                  F.col("q").alias("r"), F.col("d").alias("d2"),
                  _btid().alias("tid2"))
    j = h.join(b1, "a").join(b2, ["b", "c"]).where(
        (F.col("tid1") != F.col("tid2"))
        & (F.col("tid1") != _htid()) & (F.col("tid2") != _htid())
    )
    if params.injective:
        # pairwise-distinct variable values (a != b already via _head_rel)
        j = j.where((F.col("c") != F.col("a")) & (F.col("c") != F.col("b")))
    agg = _scale_support(
        j.groupBy("p", "q", "d1", "r", "d2").agg(
            F.countDistinct("a", "b").alias("support")
        ),
        params,
        triples,
    )
    agg = agg.select(
        "p", F.lit("l3v3").alias("shape"), "q", "d1", "r", "d2", "support"
    )
    return _finish(agg, heads, params)


def _local_ok(params: MiningParams) -> bool:
    """Whether the constants tier's driver-local miner honours every
    setting of ``params``: it has no anytime budget, no head sampling, no
    reflexive head sizes and no shape beyond rule length 3."""
    return (
        params.max_rule_length <= 3
        and params.timeout_s is None
        and params.head_sample_fraction is None
        and params.local_timeout_me is None
        and not params.reflexive_head_sizes
    )


def _mine_local(triples: DataFrame, tpdf, params: MiningParams) -> DataFrame:
    """The driver-local var-only miner: ``mine_constants_local`` without
    constants, whose l2/l3v2/l3v3 laws are this module's, emitting this
    module's rule rows."""
    pdf = mine_constants_local(tpdf, params, "nowhere", var_keys=True)
    term = triples.schema["p"].dataType.simpleString()
    return triples.sparkSession.createDataFrame(
        pdf,
        schema=f"p {term}, shape string, q {term}, d1 string, r {term}, "
        "d2 string, head_size long, support long, head_coverage double",
    )


def mine(
    triples: DataFrame,
    params: MiningParams | None = None,
    local_threshold: int = LOCAL_TRIPLES_MAX,
) -> DataFrame:
    """Full constants-free mining run for maxRuleLength <= 3 (the staged
    L2/L3 shapes below). For maxRuleLength >= 4 use
    :func:`rdfrules_spark.mining.shapes.mine_upto` — the generic shape
    miner (same semantics at L<=3, generalized body encoding).
    `triples` must be distinct (s,p,o); callers dedup (the triple store is
    distinct by construction).

    Driver-local gate (``local_constants.collect_triples``, shared with
    measures.confidences; the constants tier uses the same bounds): at
    most ``local_threshold`` triples (0 forces the staged plan) of one
    term type, with settings the constants tier honours (``_local_ok``),
    mine on the driver, the same laws in DuckDB;
    ``top_k`` then filters the result. Otherwise the staged plan below
    runs. Cached triples are collected once per Spark cache entry and
    kept until they are unpersisted, an over-bound probe included
    (``local_constants.collect_spo``), so the ``confidences`` call that
    scores these rules over the same cached triples collects none; a
    filtered input (``only_predicates`` / ``without_predicates``) is
    collected on each call."""
    params = params or MiningParams()
    # OnlyPredicates/WithoutPredicates constrain ALL atoms (head and body),
    # reference core:rule/RuleConstraint.scala:28-104 via
    # AmieSettings.isValidPredicate — filter the relation once up front
    if params.only_predicates is not None:
        triples = triples.where(F.col("p").isin(params.only_predicates))
    if params.without_predicates is not None:
        triples = triples.where(~F.col("p").isin(params.without_predicates))
    tpdf = (collect_triples(triples, local_threshold)
            if _local_ok(params) else None)
    if tpdf is not None:
        return _top_k(_mine_local(triples, tpdf, params), params.top_k)
    heads = head_sizes(triples, params)
    if params.timeout_s is not None:
        # anytime mining (Threshold.Timeout analog): each shape is one job;
        # stop LAUNCHING further shapes once the budget is spent — what was
        # mined so far is a valid (threshold-complete) subset per shape
        import time as _time

        t0 = _time.time()
        parts = [mine_l2(triples, heads, params).localCheckpoint(eager=True)]
        if params.max_rule_length >= 3:
            for fn in (mine_l3_2var, mine_l3_3var):
                if _time.time() - t0 > params.timeout_s:
                    break
                parts.append(
                    fn(triples, heads, params).localCheckpoint(eager=True)
                )
        rules = parts[0]
        for part in parts[1:]:
            rules = rules.unionByName(part)
        return rules
    if params.max_rule_length >= 3:
        # l2 and l3v2 both derive from the SAME head-joined atom relation
        # (l2 aggregates it, l3v2 self-joins it) — materialize it once
        # instead of recomputing the 1M⋈2M join three times
        m = _head_atoms(triples, params).localCheckpoint(eager=True)
        rules = _l2_rules(m, triples, heads, params).unionByName(
            _l3v2_rules(m, triples, heads, params)
        ).unionByName(mine_l3_3var(triples, heads, params))
    else:
        rules = mine_l2(triples, heads, params)
    return _top_k(rules, params.top_k)


def _top_k(rules: DataFrame, k: int | None) -> DataFrame:
    """Reference TopKRuleConsumer: the k best rules by HC; ties beyond k
    overflow (allowOverflowIfSameHeadCoverage), so every rule with HC >= the
    kth is kept."""
    if not k:
        return rules
    kth = (
        rules.select("head_coverage")
        .orderBy(F.desc("head_coverage"))
        .limit(k)
        .agg(F.min("head_coverage").alias("kth"))
    )
    return rules.join(F.broadcast(kth)).where(
        F.col("head_coverage") >= F.col("kth")
    ).drop("kth")
