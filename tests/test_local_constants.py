"""Gate-boundary parity: the driver-local (pandas) path must be
row-identical to the distributed Spark path on the same input.

The local path (mining/local_constants.py) is also pinned by the golden /
refexec suites (which now run through it at their small inputs); this test
is the direct cross-path check: mine_constants and confidences_constants,
and the var-only amie.mine and measures.confidences, executed BOTH ways —
local_threshold=0 forces distributed — on one KG, for both specs and both
injectivity modes.
"""

from __future__ import annotations

import random
import sys

import pytest
from pyspark import InheritableThread
from pyspark.sql import functions as F

from rdfrules_spark.dictionary import encode_triples
from rdfrules_spark.mining import amie as amie_mod
from rdfrules_spark.mining import constants as constants_mod
from rdfrules_spark.mining import local_constants as local_mod
from rdfrules_spark.mining import measures_constants as measures_constants_mod
from rdfrules_spark.mining.amie import MiningParams, mine
from rdfrules_spark.mining.constants import mine_constants
from rdfrules_spark.mining.local_constants import (
    LOCAL_TRIPLES_MAX,
    collect_local,
    collect_spo,
)
from rdfrules_spark.mining.measures import confidences, qpca_confidence
from rdfrules_spark.mining.measures_constants import (
    confidences_constants,
    qpca_constants,
)
from rdfrules_spark.prediction import predict_triples


@pytest.fixture(scope="module")
def kg(spark):
    rng = random.Random(7)
    ents = [f"e{i}" for i in range(40)]
    preds = [f"p{i}" for i in range(6)]
    rows = {
        (rng.choice(ents), rng.choice(preds), rng.choice(ents))
        for _ in range(700)
    }
    return spark.createDataFrame(
        sorted(rows), "s string, p string, o string"
    ).cache()


def _rule_key(r):
    return (r["head"], tuple(r["atoms"]), r["shape"])


def _mine_both(kg, constants, quasi_binding, injective, cfp=None, **kw):
    params = MiningParams(min_head_size=5, min_support=2,
                          min_head_coverage=0.05, injective=injective, **kw)
    loc = mine_constants(kg, params, constants=constants,
                         constants_for_predicates=cfp,
                         quasi_binding=quasi_binding)
    dist = mine_constants(kg, params, constants=constants,
                          constants_for_predicates=cfp,
                          quasi_binding=quasi_binding, local_threshold=0)
    return loc, dist


def _case(constants, qb, inj, kw=None, n=None, tag=""):
    return pytest.param(constants, qb, inj, kw or {}, n,
                        id=f"{constants}-{qb}-{inj}{tag}")


@pytest.mark.parametrize("constants,qb,inj,kw,n", [
    _case("anywhere", False, False),
    _case("anywhere", True, True),
    _case("object", True, True),
    _case("lcs", True, False),
    # the modes the SQL text toggles; n = the rule count both paths gave
    # before the miner became one text
    _case("anywhere", True, False, n=5154),  # distinct-triple law off
    _case("subject", False, True, n=1157),
    _case("anywhere", False, False, {"max_rule_length": 2}, 44, "-l2"),
    _case("lcs", False, True, {"with_duplicate_predicates": False}, 663,
          "-nodup"),
    _case("nowhere", True, False, n=909),
    _case("nowhere", False, False,
          {"cfp": {"p0": "object", "p1": "both", "p2": "lcs"}}, 989, "-cfp"),
    _case("subject", True, True, {"cfp": {"p0": "object", "p3": "lcs"}},
          1157, "-cfp"),
])
def test_miner_local_equals_distributed(spark, kg, constants, qb, inj, kw,
                                        n):
    loc, dist = _mine_both(kg, constants, qb, inj, **kw)
    lrows = {_rule_key(r): (r["support"], r["head_size"])
             for r in loc.collect()}
    drows = {_rule_key(r): (r["support"], r["head_size"])
             for r in dist.collect()}
    assert lrows, "empty ruleset would make the test vacuous"
    assert lrows == drows
    assert n is None or len(lrows) == n


@pytest.mark.parametrize("inj", [False, True])
def test_confidences_local_equals_distributed(spark, kg, inj):
    rules = mine_constants(
        kg,
        MiningParams(min_head_size=5, min_support=2,
                     min_head_coverage=0.05, injective=inj),
        constants="anywhere", quasi_binding=True,
    ).cache()

    def collect(df):
        out = {}
        for r in df.collect():
            out[r["rid"]] = (
                r["body_size"], r["pca_body_size"],
                None if r["cwa_confidence"] is None
                else round(r["cwa_confidence"], 9),
                None if r["pca_confidence"] is None
                else round(r["pca_confidence"], 9),
            )
        return out

    loc = collect(confidences_constants(rules, kg, injective=inj))
    dist = collect(
        confidences_constants(rules, kg, injective=inj, local_threshold=0)
    )
    assert loc, "empty confidence set would make the test vacuous"
    assert set(loc) == set(dist)
    diffs = {k: (loc[k], dist[k]) for k in loc if loc[k] != dist[k]}
    assert not diffs, f"{len(diffs)} mismatches, e.g. {list(diffs.items())[:3]}"


#: every constants shape; at minHC 0.02 the KG mines all of them in both
#: injectivity modes (non-injective: 119,723 rules, among them s6 216,
#: s7 373, s9 27; s5 55,547 and s8 61,012)
ALL_SHAPES = {"l2", "l3v2", "l3v3", "s4", "s5", "s6", "s7", "s8", "s9"}


@pytest.mark.parametrize("inj", [False, True])
def test_confidences_all_shapes_local_equals_distributed(spark, kg, inj):
    """Every constants shape, both confidence paths: all rules of the
    seven small shapes and a fixed hash-chosen 2% of s5 and s8."""
    rules = mine_constants(
        kg,
        MiningParams(min_head_size=5, min_support=2,
                     min_head_coverage=0.02, injective=inj),
        constants="anywhere", quasi_binding=True,
    )
    subset = rules.where(
        ~F.col("shape").isin("s5", "s8")
        | (F.xxhash64("head", "atoms") % 50 == 0)
    ).cache()
    shapes = {r["shape"] for r in rules.select("shape").distinct().collect()}
    assert shapes == ALL_SHAPES
    assert {r["shape"] for r in subset.select("shape").distinct().collect()
            } == ALL_SHAPES
    loc = _conf_rows(confidences_constants(subset, kg, injective=inj))
    dist = _conf_rows(
        confidences_constants(subset, kg, injective=inj, local_threshold=0)
    )
    assert set(loc) == set(dist)
    diffs = {k: (loc[k], dist[k]) for k in loc if loc[k] != dist[k]}
    assert not diffs, f"{len(diffs)} mismatches, e.g. {list(diffs.items())[:3]}"
    subset.unpersist()


@pytest.mark.parametrize("inj", [False, True])
def test_confidences_null_sizes_local_equals_distributed(spark, kg, inj):
    """NULL versus zero sizes, both paths: over the KG with p1 cut down to
    the one triple (e1, p1, e6), s5 atoms on p1 match no entity, and the
    s4 rule ?a|p1|?b <- ?b|p3|?a, C=e29|p0|?a keeps pairs, none with
    ?a = e1 inside the PCA restriction. A missing or zero size gives a
    NULL confidence on both paths (ANSI division by zero would raise)."""
    rules = mine_constants(
        kg,
        MiningParams(min_head_size=5, min_support=2,
                     min_head_coverage=0.05, injective=inj),
        constants="anywhere", quasi_binding=True,
    ).where(F.col("shape").isin("s4", "s5")).cache()
    cut = kg.where((F.col("p") != "p1")
                   | ((F.col("s") == "e1") & (F.col("o") == "e6")))

    def sizes(df):
        return {
            r["rid"]: (r["shape"], r["body_size"], r["pca_body_size"],
                       r["cwa_confidence"], r["pca_confidence"])
            for r in df.collect()
        }

    loc = sizes(confidences_constants(rules, cut, injective=inj))
    dist = sizes(
        confidences_constants(rules, cut, injective=inj, local_threshold=0)
    )
    assert any(s == "s4" and b and pca is None and pc is None
               for s, b, pca, _, pc in loc.values())
    assert any(s == "s5" and b is None and c is None
               for s, b, _, c, _ in loc.values())
    assert set(loc) == set(dist)
    diffs = {k: (loc[k], dist[k]) for k in loc if loc[k] != dist[k]}
    assert not diffs, f"{len(diffs)} mismatches, e.g. {list(diffs.items())[:3]}"
    rules.unpersist()


def _conf_rows(df):
    return {
        r["rid"]: (
            r["body_size"], r["pca_body_size"],
            None if r["cwa_confidence"] is None
            else round(r["cwa_confidence"], 9),
            None if r["pca_confidence"] is None
            else round(r["pca_confidence"], 9),
        )
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def kg16(kg):
    """The same KG spread over 16 partitions."""
    df = kg.repartition(16).cache()
    df.count()
    yield df
    df.unpersist()


def _spy(monkeypatch, module, name):
    calls = []
    real = getattr(module, name)

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, spy)
    return calls


def test_collect_local_bound_is_one_task(spark, kg16):
    """The bounded collect is the gate probe: exactly ``bound`` rows come
    back as pandas, ``bound + 1`` give None, and either way the probe is a
    single task however many partitions the input has."""
    sc = spark.sparkContext
    n = kg16.count()
    assert kg16.rdd.getNumPartitions() == 16
    for bound, want in ((n, n), (n - 1, None), (n // 4, None)):
        group = f"collect_local_{bound}"
        sc.setJobGroup(group, group)
        try:
            pdf = collect_local(kg16, bound)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert (None if pdf is None else len(pdf)) == want
        tracker = sc.statusTracker()
        # completed, not planned, tasks: a job also lists the skipped
        # map stage of the input's cached repartition
        tasks = sum(
            tracker.getStageInfo(s).numCompletedTasks
            for j in tracker.getJobIdsForGroup(group)
            for s in tracker.getJobInfo(j).stageIds
        )
        assert tasks == 1, (bound, tasks)
    assert collect_local(kg16, 0) is None


def test_miner_gate_boundary(spark, kg16, monkeypatch):
    """An input of exactly ``local_threshold`` triples runs on the driver,
    one triple more runs distributed; both give the same rules."""
    calls = _spy(monkeypatch, constants_mod, "mine_constants_local")
    n = kg16.count()
    params = MiningParams(min_head_size=5, min_support=2,
                          min_head_coverage=0.05, injective=True)

    def mine(thr):
        return {_rule_key(r): (r["support"], r["head_size"])
                for r in mine_constants(kg16, params, constants="object",
                                        quasi_binding=True,
                                        local_threshold=thr).collect()}

    at = mine(n)
    assert len(calls) == 1
    above = mine(n - 1)
    assert len(calls) == 1
    assert at and at == above


def test_confidences_rule_bound(spark, kg, monkeypatch):
    """A ruleset above LOCAL_RULES_MAX falls through to the distributed
    confidence path, even with the triples below the triple gate, and
    gives the same rows as the driver-local path."""
    rules = mine_constants(
        kg,
        MiningParams(min_head_size=5, min_support=2,
                     min_head_coverage=0.05, injective=True),
        constants="anywhere", quasi_binding=True,
    ).cache()
    n_rules = rules.count()
    calls = _spy(monkeypatch, measures_constants_mod,
                 "confidences_constants_local")
    monkeypatch.setattr(measures_constants_mod, "LOCAL_RULES_MAX", n_rules)
    loc = _conf_rows(confidences_constants(rules, kg, injective=True))
    assert len(calls) == 1
    monkeypatch.setattr(measures_constants_mod, "LOCAL_RULES_MAX",
                        n_rules - 1)
    dist = _conf_rows(confidences_constants(rules, kg, injective=True))
    assert len(calls) == 1
    assert loc and loc == dist
    rules.unpersist()


def test_distributed_measures_keep_the_triples_cached(spark, kg):
    """spark.sql drops the views it makes for its DataFrame arguments, and
    dropping a view uncaches a cached plan with the same result: the
    caller's cached triples must stay cached through every measure that
    reaches spark.sql, for constants and var-only rules alike."""
    params = MiningParams(min_head_size=5, min_support=2,
                          min_head_coverage=0.05)
    rules = mine_constants(
        kg, params, constants="anywhere", quasi_binding=True,
    ).where(F.col("shape") == "s8").limit(50).cache()
    assert kg.storageLevel.useMemory
    assert confidences_constants(rules, kg, local_threshold=0).count() == 50
    assert qpca_constants(rules, kg).count() == 50
    assert kg.storageLevel.useMemory
    rules.unpersist()
    vrules = mine(kg, params, local_threshold=0).cache()
    n = vrules.count()
    scored = confidences(vrules, kg, local_threshold=0).cache()
    assert scored.count() == n
    assert kg.storageLevel.useMemory
    assert qpca_confidence(vrules, kg).count() == n
    assert kg.storageLevel.useMemory
    assert predict_triples(scored, kg).count() > 0
    assert kg.storageLevel.useMemory
    scored.unpersist()
    vrules.unpersist()


# ------------------------------------------------------------- var-only


def _rows(df):
    """Column types and rows, in a fixed order."""
    return df.dtypes, sorted(map(tuple, df.collect()), key=repr)


#: (mining settings, confidence settings, long-coded triples)
VAR_CASES = {
    "l2": (dict(max_rule_length=2), {}, False),
    "l3": ({}, {}, False),
    "l3-injective": (dict(injective=True), dict(injective=True), False),
    "l2-injective-long": (dict(max_rule_length=2, injective=True),
                          dict(injective=True), True),
    "l3-long": ({}, {}, True),
    "no-dup-only": (dict(with_duplicate_predicates=False,
                         only_predicates=["p0", "p1", "p3"]), {}, False),
    "without-top-k": (dict(without_predicates=["p2"], top_k=7), {}, False),
    "min-confidence": ({}, dict(min_confidence=0.1), False),
    "l3-injective-min-confidence": (dict(injective=True),
                                    dict(injective=True, min_confidence=0.1),
                                    False),
}


@pytest.fixture(scope="module")
def kg_long(kg):
    """The KG dictionary-encoded: s, p, o as 64-bit term hashes."""
    df = encode_triples(kg).select("s", "p", "o").cache()
    yield df
    df.unpersist()


@pytest.mark.parametrize("case", list(VAR_CASES))
def test_var_only_local_equals_distributed(spark, kg, kg_long, case):
    """amie.mine and measures.confidences through the gate give the rows
    and column types of the staged plans they skip."""
    mining, scoring, long_coded = VAR_CASES[case]
    t = kg_long if long_coded else kg
    params = MiningParams(min_head_size=5, min_support=2,
                          min_head_coverage=0.05, **mining)
    loc = _rows(mine(t, params))
    dist_rules = mine(t, params, local_threshold=0).cache()
    assert loc[1], "empty ruleset would make the test vacuous"
    assert loc == _rows(dist_rules)
    loc = _rows(confidences(dist_rules, t, **scoring))
    assert loc[1]
    assert loc == _rows(
        confidences(dist_rules, t, local_threshold=0, **scoring)
    )
    dist_rules.unpersist()


@pytest.mark.parametrize("setting", [
    dict(timeout_s=600.0),
    dict(head_sample_fraction=0.5),
    dict(local_timeout_me=0.3),
])
def test_staged_only_settings_skip_the_gate(spark, kg, monkeypatch, setting):
    """Settings the constants tier does not honour keep amie.mine on the
    staged plan, without a gate probe."""
    calls = _spy(monkeypatch, amie_mod, "collect_triples")
    base = dict(min_head_size=5, min_support=2, min_head_coverage=0.05)
    mine(kg, MiningParams(**base))
    assert len(calls) == 1
    assert mine(kg, MiningParams(**base, **setting)).count() > 0
    assert len(calls) == 1


@pytest.mark.parametrize("inj", [False, True])
def test_reflexive_only_body_has_null_size(spark, kg, inj):
    """With p2 cut down to the reflexive (e1, p2, e1), an injective l2 body
    on p2 binds nothing: its body_size is NULL on both paths (the
    distributed plan's inner join onto the predicate sizes finds no p2
    row), for both confidence entry points."""
    params = MiningParams(min_head_size=5, min_support=2,
                          min_head_coverage=0.05, injective=inj)
    cut = kg.where(F.col("p") != "p2").unionByName(spark.createDataFrame(
        [("e1", "p2", "e1")], "s string, p string, o string"
    ))
    crules = mine_constants(kg, params, constants="nowhere").cache()
    loc = _conf_rows(confidences_constants(crules, cut, injective=inj))
    dist = _conf_rows(
        confidences_constants(crules, cut, injective=inj, local_threshold=0)
    )
    nulls = [rid for rid, (b, *_) in loc.items()
             if b is None and ";" not in rid and "|p2|" in rid.split("<-")[1]]
    assert bool(nulls) == inj
    assert set(loc) == set(dist)
    diffs = {k: (loc[k], dist[k]) for k in loc if loc[k] != dist[k]}
    assert not diffs, f"{len(diffs)} mismatches, e.g. {list(diffs.items())[:3]}"
    crules.unpersist()
    vrules = mine(kg, params).cache()
    loc = _rows(confidences(vrules, cut, injective=inj))
    assert loc == _rows(
        confidences(vrules, cut, injective=inj, local_threshold=0)
    )
    vrules.unpersist()


def test_head_coverage_boundary_local_equals_distributed(spark):
    """A rule at exactly minHC: support 7 over head size 100 at minHC 0.07,
    where support / head_size >= minHC holds but 100 * 0.07 is
    7.000000000000001. Both tiers keep it, on both paths."""
    rows = [(f"a{i}", "h", f"b{i}") for i in range(100)]
    rows += [(f"a{i}", "q", f"b{i}") for i in range(7)]
    rows += [(f"c{i}", "q", f"d{i}") for i in range(93)]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    params = MiningParams(min_head_size=100, min_support=1,
                          min_head_coverage=0.07, max_rule_length=2)
    loc = _rows(mine(t, params))
    assert loc == _rows(mine(t, params, local_threshold=0))
    assert [(r[0], r[2], r[7]) for r in loc[1]] == [("h", "q", 7),
                                                    ("q", "h", 7)]
    loc = _rows(mine_constants(t, params, constants="nowhere"))
    assert loc == _rows(mine_constants(t, params, constants="nowhere",
                                       local_threshold=0))
    assert [(r[0], list(r[2]), r[4]) for r in loc[1]] == [
        ("?a|h|?b", ["?a|q|?b"], 7), ("?a|q|?b", ["?a|h|?b"], 7)]


@pytest.mark.parametrize("constants", ["object", "subject"])
@pytest.mark.parametrize("n", [7, 6])
def test_instantiated_head_boundary_local_equals_distributed(
        spark, constants, n):
    """The instantiated-head prune at exactly minHC: the head (h, C=c0)
    has n of h's 100 triples, and its s6 rule has support n. At minHC
    0.07 the head and the rule pass with n = 7 (7 / 100 >= 0.07, though
    100 * 0.07 is 7.000000000000001) and both are gone with n = 6."""
    if constants == "object":
        rows = [(f"a{i}", "h", "c0" if i < n else f"d{i}")
                for i in range(100)]
        rows += [(f"a{i}", "q", "k") for i in range(n)]
        want = ("?a|h|C=c0", ["?a|q|C=k"])
    else:
        rows = [("c0" if i < n else f"d{i}", "h", f"b{i}")
                for i in range(100)]
        rows += [("k", "q", f"b{i}") for i in range(n)]
        want = ("C=c0|h|?b", ["C=k|q|?b"])
    t = spark.createDataFrame(rows, "s string, p string, o string")
    params = MiningParams(min_head_size=100, min_support=1,
                          min_head_coverage=0.07, max_rule_length=2)
    loc = _rows(mine_constants(t, params, constants=constants))
    assert loc == _rows(mine_constants(t, params, constants=constants,
                                       local_threshold=0))
    assert [(r[0], list(r[2]), r[4]) for r in loc[1]] == (
        [(*want, 7)] if n == 7 else [])


def test_var_only_empty_ruleset(spark, kg):
    """No head reaches minHeadSize: both paths give no rule, same types."""
    params = MiningParams(min_head_size=10_000)
    loc = mine(kg, params)
    assert _rows(loc) == _rows(mine(kg, params, local_threshold=0))
    assert _rows(loc)[1] == []
    assert _rows(confidences(loc, kg)) == _rows(
        confidences(loc, kg, local_threshold=0))


# ------------------------------------------------- held triples (memo)


def _in_group(sc, group, fn, *args):
    """``fn(*args)`` and the Spark jobs it ran, counted by job group."""
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def held(spark, kg, monkeypatch):
    """A freshly cached copy of the KG, a spy on the gate's bounded
    collect, and the copy's row count; unpersisted afterwards."""
    t = kg.select("s", "p", "o").repartition(4).cache()
    n = t.count()
    calls = _spy(monkeypatch, local_mod, "collect_local")
    yield t, calls, n
    t.unpersist()


def test_gate_holds_a_cached_input(spark, held):
    """A second gated call on a cached input gets the same frame and runs
    no Spark job; the mining then scoring pair collects it once."""
    t, calls, n = held
    sc = spark.sparkContext
    first, jobs = _in_group(sc, "held_first", collect_spo, t, n)
    assert jobs >= 1 and len(calls) == 1
    assert len(first) == n
    again, jobs = _in_group(sc, "held_again", collect_spo,
                            t.select("s", "p", "o"), n)
    assert again is first and jobs == 0 and len(calls) == 1
    params = MiningParams(min_head_size=5, min_support=2,
                          min_head_coverage=0.05)
    rules = mine(t, params).cache()
    assert confidences(rules, t).count() == rules.count() > 0
    rules.unpersist()
    crules = mine_constants(t, params, constants="object")
    assert confidences_constants(crules, t).count() == crules.count() > 0
    assert len(calls) == 1


def test_unpersist_drops_the_held_copy(spark, held):
    """``unpersist`` makes the next gated call collect again, and the
    copy it held is gone."""
    t, calls, n = held
    before = set(local_mod._HELD)
    collect_spo(t, n)
    keys = set(local_mod._HELD) - before
    assert len(keys) == 1
    t.unpersist()
    assert collect_spo(t, n) is not None and len(calls) == 2
    assert not keys & set(local_mod._HELD)


def test_recached_new_data_is_not_stale(spark, tmp_path, monkeypatch):
    """After an unpersist, new data at the same path and a re-cache, the
    gate returns the new rows."""
    calls = _spy(monkeypatch, local_mod, "collect_local")
    path = str(tmp_path / "t")

    def cached(rows):
        spark.createDataFrame(rows, "s string, p string, o string") \
            .write.mode("overwrite").parquet(path)
        t = spark.read.parquet(path).cache()
        t.count()
        return t

    t = cached([("a", "p", "b"), ("b", "p", "c")])
    assert sorted(map(tuple, collect_spo(t, 10).to_numpy())) == [
        ("a", "p", "b"), ("b", "p", "c")]
    t.unpersist()
    t = cached([("x", "q", "y")])
    assert sorted(map(tuple, collect_spo(t, 10).to_numpy())) == [
        ("x", "q", "y")]
    assert len(calls) == 2
    t.unpersist()


def test_uncached_input_is_collected_each_call(spark, kg, monkeypatch):
    """An uncached or filtered input is probed on every call."""
    calls = _spy(monkeypatch, local_mod, "collect_local")
    uncached = kg.select("s", "p", "o").repartition(3)
    filtered = kg.where(F.col("p") != "p0")
    for t in (uncached, uncached, filtered, filtered):
        assert collect_spo(t, LOCAL_TRIPLES_MAX) is not None
    assert len(calls) == 4


def test_over_bound_is_reprobed_at_a_larger_bound(spark, held):
    """An over-bound probe is kept: the same or a smaller bound returns
    None without a job, a larger one probes again."""
    t, calls, n = held
    sc = spark.sparkContext
    assert collect_spo(t, n - 1) is None and len(calls) == 1
    for bound in (n - 1, n // 2):
        out, jobs = _in_group(sc, f"over_{bound}", collect_spo, t, bound)
        assert out is None and jobs == 0
    assert len(calls) == 1
    assert len(collect_spo(t, n)) == n and len(calls) == 2
    assert collect_spo(t, n - 1) is None and len(calls) == 2


def test_held_input_still_forces_distributed(spark, held, monkeypatch):
    """``local_threshold=0`` runs the distributed plan on a held input,
    and its rows are the driver-local ones."""
    t, calls, n = held
    local = _spy(monkeypatch, constants_mod, "mine_constants_local")
    params = MiningParams(min_head_size=5, min_support=2,
                          min_head_coverage=0.05, injective=True)
    loc = {_rule_key(r): (r["support"], r["head_size"])
           for r in mine_constants(t, params, constants="object").collect()}
    assert len(local) == 1 and len(calls) == 1
    dist = {_rule_key(r): (r["support"], r["head_size"])
            for r in mine_constants(t, params, constants="object",
                                    local_threshold=0).collect()}
    assert len(local) == 1 and len(calls) == 1
    assert loc and loc == dist


def test_threads_share_one_collect(spark, held):
    """Threads gating the same cached input (HTTP tasks run on
    InheritableThreads), more of them than cores, get one frame from one
    collect."""
    t, calls, n = held
    out = [None] * 8

    def gate(i):
        out[i] = collect_spo(t, n)

    threads = [InheritableThread(target=gate, args=(i,))
               for i in range(len(out))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert out[0] is not None and len(out[0]) == n
    assert all(o is out[0] for o in out) and len(calls) == 1
