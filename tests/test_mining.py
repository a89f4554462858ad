"""Mining correctness: Spark self-join miner vs the brute-force oracle on a
deterministic random KG (golden-value style per reference AmieSpec).

The KG fits the driver-local gate, so every check runs twice: through the
gate (the default) and through the staged distributed plan it skips
(``local_threshold=0``)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rdfrules_spark.mining.amie import MiningParams, mine
from oracles.brute import mine_brute
from rdfrules_spark.mining.local_constants import LOCAL_TRIPLES_MAX
from rdfrules_spark.mining.measures import confidences

#: local_threshold per execution path
PATHS = {"gated": LOCAL_TRIPLES_MAX, "distributed": 0}


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
    out = {}
    for path, thr in PATHS.items():
        rules = confidences(mine(df, params, local_threshold=thr), df,
                            local_threshold=thr)
        out[path] = {
            (r["p"], r["shape"], r["q"], r["d1"], r["r"], r["d2"]): r
            for r in rules.collect()
        }
    return out


@pytest.fixture(scope="module")
def brute_rules(kg):
    return mine_brute(kg, **PARAMS)


def test_rule_sets_match(spark_rules, brute_rules):
    exp = set(brute_rules)
    for path, rules in spark_rules.items():
        got = set(rules)
        assert got == exp, (
            f"{path}: missing={sorted(exp - got)[:5]} "
            f"extra={sorted(got - exp)[:5]} "
            f"(|got|={len(got)}, |exp|={len(exp)})"
        )
    assert len(exp) > 20  # non-trivial rule space


def test_measures_match(spark_rules, brute_rules):
    for path, rules in spark_rules.items():
        for key, exp in brute_rules.items():
            r = rules[key]
            where = (path, key)
            assert r["support"] == exp["support"], where
            assert r["head_size"] == exp["head_size"], where
            assert r["head_coverage"] == pytest.approx(
                exp["head_coverage"]), where
            assert r["body_size"] == exp["body_size"], (
                where, r["body_size"], exp["body_size"])
            assert r["pca_body_size"] == exp["pca_body_size"], where


def test_shapes_present(brute_rules):
    shapes = {k[1] for k in brute_rules}
    assert shapes == {"l2", "l3v2", "l3v3"}


def test_topk_threshold(spark, kg):
    df = spark.createDataFrame(kg, ["s", "p", "o"])
    params = MiningParams(
        min_head_size=50, min_support=5, min_head_coverage=0.05, top_k=10
    )
    for path, thr in PATHS.items():
        rules = mine(df, params, local_threshold=thr).collect()
        assert len(rules) >= 10, path
        # every kept rule's HC >= the 10th best HC (overflow-on-ties)
        hcs = sorted((r["head_coverage"] for r in rules), reverse=True)
        assert all(r["head_coverage"] >= hcs[9] for r in rules), path


def test_without_duplicate_predicates(spark, kg, brute_rules):
    df = spark.createDataFrame(kg, ["s", "p", "o"])
    params = MiningParams(
        min_head_size=50, min_support=5, min_head_coverage=0.05,
        with_duplicate_predicates=False,
    )
    exp = {
        k for k in brute_rules
        if k[2] != k[0] and (k[4] is None or (k[4] != k[0] and k[4] != k[2]))
    }
    for path, thr in PATHS.items():
        got = {
            (r["p"], r["shape"], r["q"], r["d1"], r["r"], r["d2"])
            for r in mine(df, params, local_threshold=thr).collect()
        }
        assert got == exp, path
