"""Round-2 feature batch: injective support mining, multi-graph +
graphAwareRules, withoutQuasiBinding, anytime timeout + head sampling."""

from __future__ import annotations

from collections import defaultdict
from itertools import product

import pytest
from pyspark.sql import functions as F

from rdfrules_spark.mining.amie import MiningParams, head_sizes, mine, mine_l3_3var


@pytest.fixture(scope="module")
def kg_rows():
    import random

    random.seed(5)
    rows = set()
    for i in range(260):
        a = f"e{i % 40}"
        rows.add((a, "p1", f"e{(i + 1) % 40}"))
        rows.add((a, "p2", f"e{(2 * i) % 40}"))
        rows.add((a, "p3", f"e{(i + 7) % 40}"))
        if i % 3:
            rows.add((a, "p1", a))  # reflexive facts exercise injective
    for _ in range(150):
        rows.add((f"e{random.randrange(40)}", "p2", f"e{random.randrange(40)}"))
    return sorted(rows)


def _brute_injective_l3v3(rows, min_hs, min_sup, min_hc):
    by_p = defaultdict(set)
    for s, p, o in rows:
        by_p[p].add((s, o))
    heads = {
        p: {(s, o) for s, o in prs if s != o}
        for p, prs in by_p.items()
    }
    heads = {p: prs for p, prs in heads.items() if len(prs) >= min_hs}
    rel = {}
    for q, prs in by_p.items():
        rel[(q, "f")] = prs
        rel[(q, "i")] = {(o, s) for s, o in prs}
    adj = defaultdict(lambda: defaultdict(set))
    for (q, d), prs in rel.items():
        for x, c in prs:
            adj[(q, d)][x].add(c)

    def vvt(a, b, q, d):
        return (a, q, b) if d == "f" else (b, q, a)

    out = {}
    for p, hp in heads.items():
        for (q, d1), (r, d2) in product(sorted(rel), sorted(rel)):
            a1, a2 = adj[(q, d1)], adj[(r, d2)]
            sup = sum(
                1 for (a, b) in hp
                if any(
                    c != a and c != b
                    and len({vvt(a, c, q, d1), vvt(b, c, r, d2),
                             (a, p, b)}) == 3
                    for c in a1.get(a, set()) & a2.get(b, set())
                )
            )
            hc = sup / len(hp)
            if sup >= min_sup and hc >= min_hc:
                out[(p, q, d1, r, d2)] = sup
    return out


def test_injective_l3v3_matches_brute(spark, kg_rows):
    t = spark.createDataFrame(kg_rows, "s string, p string, o string")
    params = MiningParams(min_head_size=30, min_support=2,
                          min_head_coverage=0.02, injective=True)
    heads = head_sizes(t, params)
    got = {
        (r.p, r.q, r.d1, r.r, r.d2): r.support
        for r in mine_l3_3var(t, heads, params).collect()
    }
    want = _brute_injective_l3v3(kg_rows, 30, 2, 0.02)
    assert got == want and got


def test_timeout_returns_valid_subset(spark, kg_rows):
    t = spark.createDataFrame(kg_rows, "s string, p string, o string")
    full = mine(t, MiningParams(min_head_size=30, min_support=2,
                                min_head_coverage=0.02)).collect()
    partial = mine(
        t,
        MiningParams(min_head_size=30, min_support=2, min_head_coverage=0.02,
                     timeout_s=0.0),
    ).collect()
    key = lambda r: (r.p, r.shape, r.q, r.d1, r.r, r.d2)  # noqa: E731
    fullset = {key(r): r.support for r in full}
    # the anytime run returns a SUBSET with identical measures, and at
    # least the first shape completed
    assert partial
    for r in partial:
        assert fullset[key(r)] == r.support
    assert {r.shape for r in partial} == {"l2"}  # budget 0 -> first shape only


def test_head_sampling_scales_support(spark, kg_rows):
    t = spark.createDataFrame(kg_rows, "s string, p string, o string")
    exact = {
        (r.p, r.q, r.d1): r.support
        for r in mine(t, MiningParams(min_head_size=30, min_support=1,
                                      min_head_coverage=0.01,
                                      max_rule_length=2)).collect()
    }
    sampled = {
        (r.p, r.q, r.d1): r.support
        for r in mine(
            t,
            MiningParams(min_head_size=30, min_support=1,
                         min_head_coverage=0.01, max_rule_length=2,
                         head_sample_fraction=0.5),
        ).collect()
    }
    assert sampled
    # scaled supports approximate the exact ones (margin-error sampling)
    common = set(exact) & set(sampled)
    assert len(common) >= len(exact) * 0.6
    for k in common:
        assert sampled[k] == pytest.approx(exact[k], rel=0.8, abs=20)


@pytest.fixture(scope="module")
def quads(spark):
    rows = []
    for i in range(120):
        rows.append((f"a{i % 20}", "shared", f"b{i % 15}", "g1"))
        rows.append((f"a{i % 20}", "shared", f"b{i % 15}", "g2"))
        rows.append((f"a{i % 20}", "only1", f"b{i % 15}", "g1"))
        rows.append((f"a{i % 20}", "only2", f"b{i % 15}", "g2"))
    return spark.createDataFrame(
        rows, "s string, p string, o string, g string"
    ).distinct()


def test_multigraph_mine_and_graph_aware(quads):
    from rdfrules_spark.mining.multigraph import (
        filter_by_graph,
        graph_aware_rules,
        mine_quads,
    )

    params = MiningParams(min_head_size=10, min_support=2,
                          min_head_coverage=0.05)
    rules = mine_quads(quads, params).cache()
    assert rules.count() > 0
    ga = graph_aware_rules(rules, quads)
    row = ga.where("p = 'only1' and q = 'shared' and shape = 'l2'").first()
    assert row is not None
    assert row.g_head == ["g1"]
    assert row.g1 == ["g1", "g2"]
    # 'only' keeps rules whose every atom lives solely in g1
    only1 = filter_by_graph(rules, quads, "g1", mode="only")
    preds = {(r.p, r.q, r.r) for r in only1.collect()}
    assert all(
        all(x in (None, "only1") for x in t) for t in preds
    ), preds
    # 'none' excludes every rule touching g1-resident predicates
    none1 = filter_by_graph(rules, quads, "g1", mode="none")
    assert all(
        all(x in (None, "only2") for x in (r.p, r.q, r.r))
        for r in none1.collect()
    )
    rules.unpersist()


def _brute_quasi(rows, rules):
    """hasQuasiBinding replica: enumerate body bindings, check whether any
    constant atom's variable side takes a single value."""
    by = defaultdict(set)
    for s, p, o in rows:
        by[p].add((s, o))

    def atom_bindings(atom):
        # atom: string "?x|q|C=v" etc over vars ?a ?b ?c
        su, q, ob = atom.split("|")
        prs = by[q]
        out = []
        for s, o in prs:
            bind = {}
            ok = True
            for item, val in ((su, s), (ob, o)):
                if item.startswith("C="):
                    ok = ok and (item[2:] == val)
                else:
                    if item in bind and bind[item] != val:
                        ok = False
                    bind[item] = val
            if ok:
                out.append(bind)
        return out

    def join(bs1, bs2):
        out = []
        for b1 in bs1:
            for b2 in bs2:
                if all(b1.get(k, v) == v for k, v in b2.items()):
                    m = dict(b1)
                    m.update(b2)
                    out.append(m)
        return out

    res = {}
    for key, atoms in rules.items():
        bindings = [{}]
        for a in atoms:
            bindings = join(bindings, atom_bindings(a))
        quasi = False
        for a in atoms:
            if "C=" not in a:
                continue
            var = next(x for x in a.split("|") if x.startswith("?"))
            vals = {bd[var] for bd in bindings if var in bd}
            if len(vals) <= 1:
                quasi = True
        res[key] = quasi
    return res


def test_without_quasi_binding_matches_brute(spark):
    from rdfrules_spark.mining.constants import (
        mine_constants,
        without_quasi_binding,
    )

    rows = set()
    for i in range(60):
        rows.add((f"x{i % 12}", "q1", f"y{i % 9}"))
        rows.add((f"x{i % 12}", "q2", "HUB"))        # constant-heavy
        if i % 4 == 0:
            rows.add((f"x{i % 12}", "q3", "RARE"))
    rows.add(("lonely", "q1", "singleton"))
    rows.add(("lonely", "q2", "HUB"))
    rows = sorted(rows)
    t = spark.createDataFrame(rows, "s string, p string, o string")
    params = MiningParams(min_head_size=5, min_support=1,
                          min_head_coverage=0.01)
    mined = mine_constants(t, params, constants="anywhere").cache()
    kept = without_quasi_binding(mined, t, constants="anywhere")
    mined_rows = {
        (r.head, tuple(sorted(r.atoms))): list(r.atoms)
        for r in mined.collect()
    }
    want = _brute_quasi(rows, mined_rows)
    got_kept = {(r.head, tuple(sorted(r.atoms))) for r in kept.collect()}
    for key, quasi in want.items():
        if quasi:
            assert key not in got_kept, key
        else:
            assert key in got_kept, key
    mined.unpersist()


def test_constants_for_predicates_matches_brute(spark):
    _constants_for_predicates(spark)


def test_constants_for_predicates_matches_brute_distributed(spark):
    """The per-predicate dispatch of the distributed plan."""
    _constants_for_predicates(spark, local_threshold=0)


def _constants_for_predicates(spark, **gate):
    from oracles.brute import _atom_str, mine_brute_constants
    from rdfrules_spark.mining.constants import mine_constants

    from rdfrules_spark.corpus import synth_kg

    t = synth_kg(spark, 1500, n_entities=150, n_predicates=6).distinct().cache()
    rows = [(r.s, r.p, r.o) for r in t.collect()]
    cfp = {"r0": "object", "r1": "both", "r2": "lcs"}
    for global_policy in ("nowhere", "subject"):
        brute = mine_brute_constants(
            rows, min_head_size=40, min_support=2, min_hc=0.02,
            constants=global_policy, with_dup=True,
            constants_for_predicates=cfp,
        )
        bset = {(_atom_str(h), tuple(sorted(_atom_str(a) for a in body)), sup)
                for (h, body), sup in brute.items()}
        params = MiningParams(min_head_size=40, min_support=2,
                              min_head_coverage=0.02)
        out = mine_constants(
            t, params, constants=global_policy,
            constants_for_predicates=cfp, **gate,
        ).collect()
        sset = {(r.head, tuple(sorted(r.atoms)), r.support) for r in out}
        assert sset == bset, global_policy
    t.unpersist()


def test_select_candidates_strategies(spark):
    from rdfrules_spark.prediction import select_candidates

    train = spark.createDataFrame(
        [("e1", "p", "x1"), ("e1", "p", "x2"), ("e2", "p", "x1"),
         ("e3", "q", "y1")],
        "s string, p string, o string",
    )
    # tasks predict the SUBJECT side for p (fixed = object)
    ranked = spark.createDataFrame(
        [("p", "subject", "x1", "e9", 0.9, "Negative", 1),
         ("p", "subject", "x1", "e8", 0.8, "Negative", 2),
         ("p", "subject", "x9", "e7", 0.7, "Negative", 1),
         ("p", "subject", "x9", "e6", 0.6, "Negative", 2)],
        "p string, predict_side string, fixed_entity string, "
        "candidate string, score double, result string, rank int",
    )
    # PCA: x1 HAS existing subjects -> dropped; x9 has none -> top-1 kept
    pca = {(r.fixed_entity, r.candidate)
           for r in select_candidates(ranked, train, "pca").collect()}
    assert pca == {("x9", "e7")}
    # QPCA: avg subjects per object = round(3/2) = 2 (p has 3 facts,
    # 2 distinct objects); x1 already has 2 subjects -> 0 slots; x9 -> 2
    qpca = {(r.fixed_entity, r.candidate)
            for r in select_candidates(ranked, train, "qpca").collect()}
    assert qpca == {("x9", "e7"), ("x9", "e6")}


def test_with_modes_appends(spark):
    from rdfrules_spark.prediction import with_modes

    train = spark.createDataFrame(
        [("m1", "p", "z"), ("m1", "p", "y"), ("m2", "p", "z")],
        "s string, p string, o string",
    )
    ranked = spark.createDataFrame(
        [("p", "subject", "z", "m9", 0.9, "Negative", 1)],
        "p string, predict_side string, fixed_entity string, "
        "candidate string, score double, result string, rank int",
    )
    out = with_modes(ranked, train, n_modes=1).collect()
    # mode subject for p = m1 (2 facts) appended after the candidate
    rows = {(r.candidate, r.result, r.rank) for r in out}
    assert ("m9", "Negative", 1) in rows
    assert ("m1", "Mode", 2) in rows


def test_prefix_ops_roundtrip(spark):
    from rdfrules_spark.sources.prefixes import (
        compact_graph,
        expand_graph,
        resolve_prefixes,
        with_prefixed_uris,
    )

    pfx = {"ex": "http://ex.org/", "exv": "http://ex.org/vocab/"}
    df = spark.createDataFrame(
        [("http://ex.org/a", "http://ex.org/vocab/knows", "http://other/x")],
        "s string, p string, o string",
    )
    c = compact_graph(df, pfx).first()
    assert (c.s, c.p, c.o) == ("ex:a", "exv:knows", "http://other/x")
    back = expand_graph(compact_graph(df, pfx), pfx).first()
    assert (back.s, back.p, back.o) == tuple(df.first())


def test_recount_support_on_other_index(spark):
    from rdfrules_spark.mining.measures import recount_support

    t1 = spark.createDataFrame(
        [(f"e{i}", "p", f"e{(i + 1) % 20}") for i in range(20)]
        + [(f"e{i}", "q", f"e{(i + 1) % 20}") for i in range(20)],
        "s string, p string, o string",
    )
    params = MiningParams(min_head_size=10, min_support=1,
                          min_head_coverage=0.01, max_rule_length=2)
    rules = mine(t1, params)
    # second index drops half of q
    t2 = t1.where((F.col("p") != "q") | (F.col("s").isin(
        *[f"e{i}" for i in range(10)])))
    re = {(r.p, r.q, r.d1): (r.support, r.head_size)
          for r in recount_support(rules, t2).collect()}
    assert re[("p", "q", "f")] == (10, 20)  # only 10 q-facts remain
    assert re[("q", "p", "f")][1] == 10     # q head size shrank


def test_instantiate_and_rule_tree(spark):
    from rdfrules_spark.ruleset import instantiate_rules, rule_parents

    t = spark.createDataFrame(
        [(f"e{i}", "p", f"e{(i + 1) % 15}") for i in range(15)]
        + [(f"e{i}", "q", f"e{(i + 1) % 15}") for i in range(15)]
        + [(f"e{i}", "rr", f"e{(i + 1) % 15}") for i in range(10)],
        "s string, p string, o string",
    )
    rules = mine(t, MiningParams(min_head_size=8, min_support=1,
                                 min_head_coverage=0.01)).cache()
    inst = instantiate_rules(rules, t)
    # l2 rule (?a p ?b) <- (?a q ?b): bindings = every q-fact
    got = {
        (r.va, r.vb)
        for r in inst.where(
            "p = 'p' and shape = 'l2' and q = 'q' and d1 = 'f'"
        ).collect()
    }
    assert got == {(f"e{i}", f"e{(i + 1) % 15}") for i in range(15)}
    # l3v2 rules have their two l2 sub-rules as tree parents
    edges = rule_parents(rules).collect()
    child = [e for e in edges if e.child_shape == "l3v2"]
    if child:
        e = child[0]
        assert e.parent_shape == "l2"
        assert e.parent_q in (e.child_q, e.child_r)
    rules.unpersist()
