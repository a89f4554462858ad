"""Mining correctness: Spark self-join miner vs the brute-force oracle on a
deterministic random KG (golden-value style per reference AmieSpec)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rdfrules_spark.mining.amie import MiningParams, mine
from oracles.brute import mine_brute
from rdfrules_spark.mining.measures import cwa_confidence, pca_confidence


def make_kg(n_entities=60, n_preds=6, n_triples=1200, seed=7):
    rng = np.random.Generator(np.random.Philox(key=[seed, 0]))
    # skewed entity + predicate popularity, with correlated predicates so
    # real rules exist (p0 implies p1 for a slice of pairs)
    s = rng.integers(0, n_entities, n_triples)
    o = rng.integers(0, n_entities, n_triples)
    p = rng.integers(0, n_preds, n_triples)
    triples = {(int(a), int(q), int(b)) for a, q, b in zip(s, p, o)}
    # inject implications: p1(x,y) for 70% of p0 pairs; p2(y,x) for 50%
    base = [(a, b) for (a, q, b) in triples if q == 0]
    for i, (a, b) in enumerate(base):
        if i % 10 < 7:
            triples.add((a, 1, b))
        if i % 2 == 0:
            triples.add((b, 2, a))
    return sorted(triples)


PARAMS = dict(min_head_size=50, min_support=5, min_hc=0.05)


@pytest.fixture(scope="module")
def kg():
    return make_kg()


@pytest.fixture(scope="module")
def spark_rules(spark, kg):
    df = spark.createDataFrame(kg, ["s", "p", "o"])
    params = MiningParams(
        min_head_size=PARAMS["min_head_size"],
        min_support=PARAMS["min_support"],
        min_head_coverage=PARAMS["min_hc"],
    )
    rules = mine(df, params)
    rules = cwa_confidence(rules, df)
    rules = pca_confidence(rules, df)
    return {
        (r["p"], r["shape"], r["q"], r["d1"], r["r"], r["d2"]): r
        for r in rules.collect()
    }


@pytest.fixture(scope="module")
def brute_rules(kg):
    return mine_brute(kg, **PARAMS)


def test_rule_sets_match(spark_rules, brute_rules):
    got, exp = set(spark_rules), set(brute_rules)
    assert got == exp, (
        f"missing={sorted(exp - got)[:5]} extra={sorted(got - exp)[:5]} "
        f"(|got|={len(got)}, |exp|={len(exp)})"
    )
    assert len(exp) > 20  # non-trivial rule space


def test_measures_match(spark_rules, brute_rules):
    for key, exp in brute_rules.items():
        r = spark_rules[key]
        assert r["support"] == exp["support"], key
        assert r["head_size"] == exp["head_size"], key
        assert r["head_coverage"] == pytest.approx(exp["head_coverage"]), key
        assert r["body_size"] == exp["body_size"], (key, r["body_size"], exp["body_size"])
        assert r["pca_body_size"] == exp["pca_body_size"], key


def test_shapes_present(brute_rules):
    shapes = {k[1] for k in brute_rules}
    assert shapes == {"l2", "l3v2", "l3v3"}


def test_topk_threshold(spark, kg):
    df = spark.createDataFrame(kg, ["s", "p", "o"])
    params = MiningParams(
        min_head_size=50, min_support=5, min_head_coverage=0.05, top_k=10
    )
    rules = mine(df, params).collect()
    assert len(rules) >= 10
    # every kept rule's HC >= the 10th best HC (overflow-on-ties semantics)
    hcs = sorted((r["head_coverage"] for r in rules), reverse=True)
    assert all(r["head_coverage"] >= hcs[9] for r in rules)


def test_without_duplicate_predicates(spark, kg, brute_rules):
    df = spark.createDataFrame(kg, ["s", "p", "o"])
    params = MiningParams(
        min_head_size=50, min_support=5, min_head_coverage=0.05,
        with_duplicate_predicates=False,
    )
    got = {
        (r["p"], r["shape"], r["q"], r["d1"], r["r"], r["d2"])
        for r in mine(df, params).collect()
    }
    exp = {
        k for k in brute_rules
        if k[2] != k[0] and (k[4] is None or (k[4] != k[0] and k[4] != k[2]))
    }
    assert got == exp
