"""Full task13-pipeline parity against the EXECUTED reference.

The reference's task13 experiment (rungraphs, RdfRulesExperiments.scala:73-81
via RdfRulesMiningTask.taskBody + DefaultMiningSettings) runs

    mine:  MinHeadCoverage(0.01) + MaxRuleLength(3) + InjectiveMapping
           + ConstantsAtPosition(Object)
    then:  CwaConfidence >= 0.1 (injective), filter
    then:  PcaConfidence >= 0.1 (injective), filter

tools/refexec/harness/Task13Harness.scala executes exactly that pipeline in
the compiled reference snapshot; the dump pinned here ran it on the small
yago.tsv (46,654 triples, ParsedLiterals like the experiment code):
133,153 mined -> 116,608 rules after both confidence filters.

This test pins our Spark pipeline — mine_constants(injective=True,
quasi_binding=True) + confidences_constants(injective=True) — RULE-FOR-RULE
against that dump: same rule set, same support/headSize, CWA and PCA values
equal to 1e-9. The same pipeline at full yago scale (yagoFacts +
yagoLiteralFacts, 951,333 rules) matches the executed reference exactly as
well; it is benched (not pytest-pinned) in bench.py --task13.

Reference cites: experiments/benchmark/RdfRulesMiningTask.scala:23-44,
algorithm/amie/RuleCounting.scala, rule/RuleConstraint.scala
(InjectiveMapping), index/TripleHashIndex.scala:61-66 (non-reflexive size
under injective).
"""

from __future__ import annotations

import gzip
import re

from pyspark.sql import functions as F

from rdfrules_spark.mining.amie import MiningParams
from rdfrules_spark.mining.constants import mine_constants
from rdfrules_spark.mining.measures_constants import confidences_constants
from oracles.refsim import Rule
from rdfrules_spark.sources.tsv import read_tsv

from conftest import yago_tsv

YAGO = yago_tsv()
DUMP = "/root/repo/tests/fixtures/refexec/task13_smallyago.tsv.gz"
ATOM = re.compile(r"^\(\s*(\S+)\s+(\S+)\s+(.+?)\s*\)$")
VARMAP = {"?a": 0, "?b": 1, "?c": 2, "?d": 3}
NUM = re.compile(r"^-?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")


def _canon_const(v: str) -> str:
    """ParsedLiterals value law: TripleItem.Number(1) == Number(1.0)
    (cooperative equality), so integral doubles in int range collapse to
    the int lexical form — mirrored by read_tsv(parse_literals=True)."""
    if NUM.match(v):
        try:
            d = float(v)
            if d == int(d) and -(2**31) <= d <= 2**31 - 1:
                return str(int(d))
        except (ValueError, OverflowError):
            pass
    return v


def _dump_term(x: str):
    if x in VARMAP:
        return VARMAP[x]
    if x.startswith("<") and x.endswith(">"):
        return ("c", x[1:-1])
    if x.startswith('"') and x.endswith('"'):
        return ("c", _canon_const(x[1:-1]))
    return ("c", _canon_const(x))


def _dump_atom(s: str):
    m = ATOM.match(s.strip())
    assert m, s
    su, p, o = m.groups()
    return (_dump_term(su), p[1:-1], _dump_term(o))


def load_dump() -> dict:
    out = {}
    with gzip.open(DUMP, "rt", encoding="utf-8") as f:
        for line in f:
            head, _, body, sup, hs, cwa, pca = line.rstrip("\n").split("\t")
            r = Rule(
                head=_dump_atom(head),
                body=tuple(_dump_atom(a) for a in body.split(" ^ ")),
                danglings=(), max_variable=9,
            )
            out[r.canon()] = (int(sup), int(hs), float(cwa), float(pca))
    assert len(out) == 116608
    return out


def _miner_term(x: str):
    if x.startswith("?"):
        return VARMAP[x]
    assert x.startswith("C="), x
    return ("c", x[2:])


def _miner_atom(s: str):
    su, p, o = s.split("|")
    return (_miner_term(su), p, _miner_term(o))


def _miner_rule(head: str, atoms) -> Rule:
    h = _miner_atom(head)
    body = tuple(_miner_atom(a) for a in atoms)
    hv = {x for x in (h[0], h[2]) if isinstance(x, int)}
    if hv == {1}:  # instantiated head: the miner names the free var ?b
        sub = lambda x: {1: 0, 2: 1}.get(x, x) if isinstance(x, int) else x
        h = (sub(h[0]), h[1], sub(h[2]))
        body = tuple((sub(a[0]), a[1], sub(a[2])) for a in body)
    return Rule(head=h, body=body, danglings=(), max_variable=9)


def test_task13_pipeline_matches_executed_reference(spark):
    t = (
        read_tsv(spark, YAGO, parse_literals=True)
        .select("s", "p", "o").distinct()
    )
    params = MiningParams(
        min_head_size=100, min_support=1, min_head_coverage=0.01,
        max_rule_length=3, injective=True,
    )
    rules = mine_constants(
        t, params, constants="object", quasi_binding=True
    ).localCheckpoint()
    conf = confidences_constants(rules, t, injective=True)
    final = (
        conf
        .withColumn("cwa", F.col("support") / F.col("body_size"))
        .withColumn(
            "pca",
            F.when(F.col("pca_body_size") > 0,
                   F.col("support") / F.col("pca_body_size")),
        )
        .where((F.col("cwa") >= 0.1) & (F.col("pca") >= 0.1))
        .select("head", "atoms", "support", "head_size", "cwa", "pca")
    )
    got = {}
    for r in final.toLocalIterator():
        got[_miner_rule(r["head"], r["atoms"]).canon()] = (
            r["support"], r["head_size"], r["cwa"], r["pca"]
        )
    dump = load_dump()
    only_dump = set(dump) - set(got)
    only_got = set(got) - set(dump)
    assert not only_dump and not only_got, (
        f"{len(only_dump)} rules only in the reference dump, "
        f"{len(only_got)} only in ours; e.g. "
        f"{sorted(only_dump)[:2]} / {sorted(only_got)[:2]}"
    )
    mism = [
        (k, got[k], dump[k]) for k in dump
        if got[k][:2] != dump[k][:2]
        or abs(got[k][2] - dump[k][2]) > 1e-9
        or abs(got[k][3] - dump[k][3]) > 1e-9
    ]
    assert not mism, f"value mismatches: {mism[:3]}"
