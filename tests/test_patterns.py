"""Rule-pattern goldens — the full AmieSpec.scala:298-399 suite (11 counts)
as declarative post-filters over the complete constants ruleset."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rdfrules_spark.mining.amie import MiningParams
from rdfrules_spark.mining.constants import mine_constants
from rdfrules_spark.mining.patterns import (
    ANY_CONSTANT,
    ANY_VARIABLE,
    AtomPattern,
    filter_rules,
)

from conftest import yago_tsv

YAGO = yago_tsv()
pytestmark = pytest.mark.skipif(
    not os.path.exists(YAGO), reason="yago fixture absent"
)


@pytest.fixture(scope="module")
def ruleset(spark):
    from rdfrules_spark.sources.tsv import read_tsv

    t = read_tsv(spark, YAGO).select("s", "p", "o").distinct().cache()
    params = MiningParams(min_head_size=100, min_support=1,
                          min_head_coverage=0.01,
                          with_duplicate_predicates=False)
    full = mine_constants(t, params, constants="anywhere").cache()
    assert full.count() == 211527
    l2 = mine_constants(
        t,
        MiningParams(min_head_size=100, min_support=1, min_head_coverage=0.01,
                     with_duplicate_predicates=False, max_rule_length=2),
        constants="anywhere",
    ).cache()
    yield full, l2
    full.unpersist()
    l2.unpersist()
    t.unpersist()


def test_pattern_suite(ruleset):
    full, l2 = ruleset
    li = AtomPattern(predicate="livesIn")
    # AmieSpec.scala:298-399, in order:
    assert filter_rules(full, body=li).count() == 10826
    assert filter_rules(
        full, body=AtomPattern(predicate="livesIn", object="C=Islamabad")
    ).count() == 15
    assert filter_rules(
        full, body=AtomPattern(predicate="livesIn", object="?b")
    ).count() == 1549
    assert filter_rules(
        full, body=AtomPattern(predicate="livesIn", object=ANY_VARIABLE)
    ).count() == 10229
    assert filter_rules(
        full, body=AtomPattern(predicate="livesIn", object=ANY_CONSTANT)
    ).count() == 597
    assert filter_rules(
        full, body=li, head=AtomPattern(predicate="hasAcademicAdvisor")
    ).count() == 33
    assert filter_rules(
        full,
        body=[AtomPattern(predicate="diedIn"), li],
        head=AtomPattern(predicate="hasAcademicAdvisor"),
    ).count() == 2
    assert filter_rules(full, body=li, exact=True).count() == 50
    assert filter_rules(
        full, body=AtomPattern(predicate=["livesIn", "diedIn"])
    ).count() == 11443
    assert filter_rules(
        l2,
        body=AtomPattern(predicate_none_of=["participatedIn", "imports"]),
    ).count() == 1784
    # several patterns = union of matches (Amie.addPattern x2)
    acted = filter_rules(full, head=AtomPattern(predicate="actedIn"))
    directed = filter_rules(full, head=AtomPattern(predicate="directed"))
    assert acted.unionByName(directed).count() == 36


def test_patternsspec_lcs_goldens(spark):
    """PatternsSpec.scala:29-65 — gradual/orderless patterns on the
    constants=LowerCardinalitySide, no-dup, minHC 0.01 ruleset
    (ConsumersSpec's 7595-rule set):

      * partial dealsWith =>: imports  -> 1638
      * exact [dealsWith] =>: imports  -> 52
      * exact {hasCapital, dealsWith} =>: imports -> 111 (the reference
        distinguishes 111 vs 0 by pattern-atom POSITION against the
        generation-ordered body vector; our canonical atoms array is
        sort-ordered, so both orders match the injective-assignment 111 —
        the orderless variant, which the reference also pins at 111)
      * orderless partial hasCapital =>: imports -> 129 (gradual matching
        — head-adjacent position required — gives 18; withOrderless lifts
        the position requirement, RulePattern.scala:36-44)
    """
    import os

    from rdfrules_spark.mining.amie import MiningParams
    from rdfrules_spark.mining.constants import mine_constants
    from rdfrules_spark.sources.tsv import read_tsv

    t = read_tsv(spark, YAGO).select("s", "p", "o").distinct().cache()
    params = MiningParams(min_head_size=100, min_support=1,
                          min_head_coverage=0.01,
                          with_duplicate_predicates=False)
    rules = mine_constants(t, params, constants="lcs").cache()
    dw = AtomPattern(predicate="dealsWith")
    hc = AtomPattern(predicate="hasCapital")
    im = AtomPattern(predicate="imports")
    assert filter_rules(rules, body=dw, head=im).count() == 1638
    assert filter_rules(rules, body=dw, head=im, exact=True).count() == 52
    assert filter_rules(
        rules, body=[hc, dw], head=im, exact=True, orderless=True
    ).count() == 111
    assert filter_rules(
        rules, body=hc, head=im, orderless=True
    ).count() == 129
    rules.unpersist()
    t.unpersist()
