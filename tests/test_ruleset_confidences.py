"""RulesetSpec.scala confidence goldens on the constants=LowerCardinalitySide
ruleset (minHC 0.02, no duplicate predicates): the reference's
Ruleset.computeConfidence defaults to injectiveMapping=true (Ruleset
.scala:186) even though mining counts support non-injectively."""

from __future__ import annotations

import os

import pytest

from rdfrules_spark.mining.amie import MiningParams
from rdfrules_spark.mining.constants import mine_constants
from rdfrules_spark.mining.measures_constants import confidences_constants

from conftest import yago_tsv

YAGO = yago_tsv()
pytestmark = pytest.mark.skipif(
    not os.path.exists(YAGO), reason="yago fixture absent"
)


@pytest.fixture(scope="module")
def conf(spark):
    from rdfrules_spark.sources.tsv import read_tsv

    t = read_tsv(spark, YAGO).select("s", "p", "o").distinct().cache()
    params = MiningParams(min_head_size=100, min_support=1,
                          min_head_coverage=0.02,
                          with_duplicate_predicates=False)
    rules = mine_constants(t, params, constants="lcs").cache()
    c = confidences_constants(rules, t, injective=True).cache()
    yield rules, c
    c.unpersist()
    rules.unpersist()
    t.unpersist()


def test_support_filter_2(conf):
    # RulesetSpec.scala:93-95
    rules, _ = conf
    assert rules.where("support > 100").count() == 2


def test_cwa_confidence_goldens(conf):
    # RulesetSpec.scala:46-53: >=0.9 -> 12; floor 0.001 -> 810
    _, c = conf
    assert c.where("cwa_confidence >= 0.9").count() == 12
    assert c.where("cwa_confidence >= 0.001").count() == 810


def test_pca_confidence_57(conf):
    # RulesetSpec.scala:55-59
    _, c = conf
    assert c.where("pca_confidence >= 0.9").count() == 57


def test_lift_base_105(conf):
    # RulesetSpec.scala:61-70: computeLift keeps rules with CWA conf >= 0.5
    _, c = conf
    assert c.where("cwa_confidence >= 0.5").count() == 105


def test_reference_json_export_goldens(conf, tmp_path):
    """RulesetSpec.scala:117-134 'export': the pretty-printed JSON array of
    the lcs ruleset is 35,226 lines, and the graph-aware variant 37,613.
    These two pins jointly fix the ruleset size (811 rules — lines =
    2 + 14*R + 10*A with 3 measures/rule) AND the total atom count
    (A = 2,387 = head + body atoms, i.e. the rule-length distribution),
    then the import round-trip pins content equality."""
    from rdfrules_spark.ruleset_io import (
        export_reference_json,
        import_reference_json,
    )

    rules, _ = conf
    assert rules.count() == 811

    p1 = str(tmp_path / "rules.json")
    export_reference_json(rules, p1)
    with open(p1) as f:
        n_lines = sum(1 for _ in f)
    assert n_lines == 35226  # RulesetSpec.scala:129

    p2 = str(tmp_path / "rules_ga.json")
    export_reference_json(rules, p2, graphs=["yago"])
    with open(p2) as f:
        n_lines_ga = sum(1 for _ in f)
    assert n_lines_ga == 37613  # RulesetSpec.scala:177

    back = import_reference_json(rules.sparkSession, p1)
    orig = {
        (r["head"], tuple(r["atoms"]), r["support"], r["head_size"])
        for r in rules.select(
            "head", "atoms", "support", "head_size"
        ).collect()
    }
    got = {
        (r["head"], tuple(r["atoms"]), r["support"], r["head_size"])
        for r in back.collect()
    }
    assert got == orig


def test_make_clusters_top500(conf):
    """RulesetSpec.scala:85-92 'make clusters': sorted.take(500)
    .makeClusters(DbScan()) keeps all 500 rules, attaches a cluster to
    every rule, and produces > 30 distinct clusters. Reference defaults:
    minNeighbours=5, minSimilarity=0.9 (DbScan.scala:86), AllAtoms
    similarity (Rule.scala:112), grouped by head predicate
    (Ruleset.scala:230-245). Our epsilon-graph DBSCAN is order-free, so
    border-point membership can differ from the reference's greedy
    expansion — the spec's own assertions are invariant to that."""
    from pyspark.sql import functions as F

    from rdfrules_spark.ruleset import dbscan_clusters_resolved

    rules, _ = conf
    top = rules.orderBy(
        F.desc("head_coverage"), "head", "atoms"
    ).limit(500)
    out = dbscan_clusters_resolved(top).cache()
    assert out.count() == 500
    assert out.where(F.col("cluster").isNull()).count() == 0
    assert out.select("cluster").distinct().count() > 30


def test_find_similar_dissimilar_top_rule(conf):
    """RulesetSpec.scala:185-193: findSimilar(sorted.head, 10) rules all
    contain created or directed (the top lcs rule is
    (?a directed ?b) <- (?a created ?b)); findDissimilar's 'contains
    noneOf' is tie-order-dependent in the reference (hundreds of rules tie
    at similarity 0 and its pick is iteration order), so we pin the
    order-free invariant instead: all 10 dissimilar rules score exactly
    0."""
    from pyspark.sql import functions as F

    from rdfrules_spark.ruleset import find_similar_resolved

    rules, _ = conf
    top = rules.orderBy(
        F.desc("head_coverage"), "head", "atoms"
    ).limit(1).collect()[0]
    assert top["head"] == "?a|directed|?b"
    assert list(top["atoms"]) == ["?a|created|?b"]

    sim10 = find_similar_resolved(
        rules, top["head"], list(top["atoms"]), 10
    ).collect()
    assert len(sim10) == 10
    for r in sim10:
        preds = {a.split("|")[1] for a in [r["head"], *r["atoms"]]}
        assert preds & {"created", "directed"}
        assert r["sim"] >= 0.5

    dis10 = find_similar_resolved(
        rules, top["head"], list(top["atoms"]), 10, dissimilar=True
    ).collect()
    assert len(dis10) == 10
    assert all(r["sim"] == 0.0 for r in dis10)


def test_pattern_filters_36_30(conf):
    """RulesetSpec.scala:135-147 'filter by patterns' on the lcs ruleset:
    body contains livesIn -> 36; union of (livesIn =>: hasCurrency) and
    (=>: isCitizenOf) -> 30. NB: a bare AtomPattern in RulePattern context
    is the HEAD pattern (RulePattern.scala:95 implicit), not a body atom."""
    from rdfrules_spark.mining.patterns import AtomPattern, filter_rules

    rules, _ = conf
    li = AtomPattern(predicate="livesIn")
    assert filter_rules(rules, body=li).count() == 36
    p1 = filter_rules(
        rules, body=li, head=AtomPattern(predicate="hasCurrency")
    )
    p2 = filter_rules(rules, head=AtomPattern(predicate="isCitizenOf"))
    assert p1.unionByName(p2).distinct().count() == 30
