"""maxRuleLength=4 mining: golden parity + cross-check against the
reference-order simulator (mining/refsim.py).

Reference goldens (AmieSpec.scala:195-221, yago.tsv fixture):
  maxLen 2 (nodup, constants nowhere, minHC 0.01) -> 30 rules
  maxLen 4 (same config)                          -> 98 rules
The 98 pins the at-most-one-open-extra-dangling construction law: the
two-extra-variable path shape ac-bd-cd (41 rules on yago above threshold,
each brute-verified) is NOT minable at L4 even though every rule passes
the thresholds — see mining/shapes.py shape_reachable.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfrules_spark.mining.amie import MiningParams, mine
from rdfrules_spark.mining.shapes import (
    enumerate_shapes,
    mine_upto,
    shape_name,
    shape_reachable,
)

from conftest import yago_tsv

YAGO = yago_tsv()
BASE = dict(min_head_size=100, min_support=1, min_head_coverage=0.01)


def test_shape_enumeration_counts():
    assert [shape_name(s) for s in enumerate_shapes(1)] == ["ab"]
    assert [shape_name(s) for s in enumerate_shapes(2)] == ["ab-ab", "ac-bc"]
    assert len(enumerate_shapes(3)) == 7


def test_shape_reachability():
    # all L<=3 shapes reachable; at L4 only the 2-extra-var path is out
    for k, maxlen in ((1, 3), (2, 3), (1, 4), (2, 4)):
        assert all(shape_reachable(s, maxlen) for s in enumerate_shapes(k))
    l4 = {shape_name(s): shape_reachable(s, 4) for s in enumerate_shapes(3)}
    assert l4 == {
        "ab-ab-ab": True, "ab-ac-ac": True, "ab-ac-bc": True,
        "ab-bc-bc": True, "ac-ac-bc": True, "ac-bc-bc": True,
        "ac-bd-cd": False,
    }
    # at L5, sequentially-closed two-extra shapes ARE reachable
    assert shape_reachable(
        (("a", "c"), ("a", "c"), ("a", "d"), ("b", "d")), 5
    )


@pytest.fixture(scope="module")
def yago(spark):
    from rdfrules_spark.sources.tsv import read_tsv

    t = read_tsv(spark, YAGO).select("s", "p", "o").distinct().cache()
    t.count()
    return t


def test_generic_matches_staged_l3(yago):
    # the generic shape miner reproduces the hand-staged L<=3 miner
    p = MiningParams(**BASE, with_duplicate_predicates=False)
    assert mine_upto(yago, p).count() == mine(yago, p).count() == 67


def test_yago_maxlen2_30(yago):
    p = MiningParams(**BASE, max_rule_length=2, with_duplicate_predicates=False)
    assert mine_upto(yago, p).count() == 30


def test_yago_maxlen4_98(yago):
    # AmieSpec.scala:195-221
    p = MiningParams(**BASE, max_rule_length=4, with_duplicate_predicates=False)
    rules = mine_upto(yago, p).cache()
    assert rules.count() == 98
    by_shape = dict(
        (r["shape"], r["n"])
        for r in rules.groupBy("shape").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    # L<=3 subtotal stays the 67 golden; no path shape appears
    assert by_shape["ab"] == 30
    assert by_shape["ac-bc"] == 30
    assert by_shape["ab-ab"] == 7
    assert "ac-bd-cd" not in by_shape
    rules.unpersist()


def test_refsim_agrees_with_spark_l4(spark):
    """The reference-order simulator and the declarative shape miner agree
    rule-for-rule on a synthetic KG at maxLen=4 with duplicates allowed."""
    import random

    from oracles.refsim import SimParams, mine_reference_order

    random.seed(11)
    triples = set()
    for i in range(240):
        x, y, w = f"x{i}", f"y{i % 40}", f"w{i % 30}"
        triples.add((x, "r1", y))
        triples.add((y, "r2", w))
        triples.add((x, "h", w))
    for _ in range(150):
        triples.add((f"x{random.randrange(240)}", "n", f"w{random.randrange(30)}"))
    triples = sorted(triples)

    sim = mine_reference_order(
        triples,
        SimParams(min_head_size=40, min_support=1, min_head_coverage=0.05,
                  max_rule_length=4, with_duplicate_predicates=True),
    )
    vname = "ab" + "".join(chr(ord("c") + i) for i in range(8))

    def sim_key(r):
        head, body = r.canon()  # var items encoded as ('v', index)
        out = []
        for s, p, o in body:
            si, oi = s[1], o[1]
            u, v = (si, oi) if si < oi else (oi, si)
            out.append(f"{vname[u]}{vname[v]} {p} {'f' if si < oi else 'i'}")
        return (head[1], tuple(sorted(out)))

    df = spark.createDataFrame(triples, "s string, p string, o string")
    rules = mine_upto(
        df,
        MiningParams(min_head_size=40, min_support=1, min_head_coverage=0.05,
                     max_rule_length=4, with_duplicate_predicates=True),
    ).collect()

    def spark_key(r):
        return (r.p, tuple(sorted(r.body.split(";"))))

    sim_set = {sim_key(r) for r in sim}
    spark_set = {spark_key(r) for r in rules}
    assert sim_set == spark_set
    # supports agree too
    sim_sup = {sim_key(r): r.support for r in sim}
    for r in rules:
        assert sim_sup[spark_key(r)] == r.support
