"""Full task9-pipeline parity against the EXECUTED reference.

The reference's task9 experiment (experiments_amie2
OriginalAmieComparison.scala:70-86 ``-runlogical`` + MinHcRdfRules +
RdfRulesMiningTask.taskBody with DefaultMiningSettings) runs

    mine:  MinHeadCoverage(0.01) + MaxRuleLength(3) + InjectiveMapping
           + ConstantsAtPosition(Nowhere)          [exhaustive logical]
    then:  CwaConfidence >= 0.1 (injective), filter
    then:  PcaConfidence >= 0.1 (injective), filter

Its published result (experiments/results/task9.txt: 12.82 min / 3,430
rules) ran on yago2core (~1M triples), which is not in the snapshot —
tools/refexec/harness/Task9Harness.scala executes the identical pipeline
on the deterministic synthetic KG instead. The dump pinned here ran it on
``synth_kg(50_000).distinct()`` (48,936 triples): 442 mined -> 138 rules
after both confidence filters. The same pipeline at the ~1M-triple scale
(978,619 triples, 311 mined -> 162 final) also matches rule-for-rule with
all measures exact; that scale is benched (bench.py task9_logical_1m), not
pytest-pinned.

This test pins our Spark pipeline — mine(injective=True,
reflexive_head_sizes=True) + confidences(injective=True) — RULE-FOR-RULE:
same rule set, same support/headSize, CWA and PCA equal to 1e-9.

``reflexive_head_sizes=True`` mirrors an executed-reference inconsistency
on SINGLE-graph datasets: TripleHashIndex.scala:325-330 (single-graph
build) marks reflexivity on the per-(s,o) graph-set entry instead of the
per-subject object map (the multi-graph path at :247 calls
``psi.value.setReflexivity()``), so ``predicate.size(nonReflexive=true)``
(:61-66) never subtracts reflexive facts — headSize and the minHC
denominator equal the FULL size, while support enumeration
(ExpandingRule.headTriples) still skips reflexive head triples. The
synthetic KG contains reflexive facts, which is what exposed this; yago.tsv
has none, so the task13 (multi-graph) parity test cannot see it.

Reference cites: experiments_amie2/OriginalAmieComparison.scala:70-86,
experiments/benchmark/RdfRulesMiningTask.scala:23-44,
index/TripleHashIndex.scala:61-66,247,325-330,
rule/ExpandingRule.scala:27-36.
"""

from __future__ import annotations

import gzip
import os

from pyspark.sql import functions as F

from rdfrules_spark.corpus import synth_kg
from rdfrules_spark.mining.amie import MiningParams, mine
from rdfrules_spark.mining.local_constants import LOCAL_TRIPLES_MAX
from rdfrules_spark.mining.measures import confidences

DUMP = os.path.join(
    os.path.dirname(__file__), "fixtures", "refexec", "task9_synth50k.tsv.gz"
)


def load_dump() -> dict:
    out = {}
    with gzip.open(DUMP, "rt", encoding="utf-8") as f:
        for line in f:
            head, _, body, sup, hs, cwa, pca = line.rstrip("\n").split("\t")
            out[(head, body)] = (int(sup), int(hs), float(cwa), float(pca))
    assert len(out) == 138
    return out


def _atoms(r) -> list[str]:
    b = []
    if r["shape"] == "l2":
        b.append(("?a", r["q"], "?b") if r["d1"] == "f"
                 else ("?b", r["q"], "?a"))
    elif r["shape"] == "l3v2":
        b.append(("?a", r["q"], "?b") if r["d1"] == "f"
                 else ("?b", r["q"], "?a"))
        b.append(("?a", r["r"], "?b") if r["d2"] == "f"
                 else ("?b", r["r"], "?a"))
    else:  # l3v3: B1 over (a, c), B2 over (b, c)
        b.append(("?a", r["q"], "?c") if r["d1"] == "f"
                 else ("?c", r["q"], "?a"))
        b.append(("?b", r["r"], "?c") if r["d2"] == "f"
                 else ("?c", r["r"], "?b"))
    return sorted(f"({x} <{p}> {y})" for x, p, y in b)


def test_task9_pipeline_matches_executed_reference(spark):
    """Through both confidence paths: the driver-local gate (exact sizes,
    then the min_confidence filter) and the staged plan's l3v3 lower-bound
    pruning."""
    t = synth_kg(spark, 50_000).distinct().cache()
    params = MiningParams(
        min_head_size=100, min_support=1, min_head_coverage=0.01,
        injective=True, reflexive_head_sizes=True,
    )
    rules = mine(t, params).cache()
    dump = load_dump()
    for thr in (LOCAL_TRIPLES_MAX, 0):
        out = confidences(
            rules, t, cwa=True, pca=True, min_confidence=0.1,
            injective=True, local_threshold=thr,
        )
        got = {}
        for r in out.where(F.col("pca_confidence") >= 0.1).collect():
            key = (f"(?a <{r['p']}> ?b)", " ^ ".join(_atoms(r)))
            got[key] = (r["support"], r["head_size"],
                        r["cwa_confidence"], r["pca_confidence"])
        only_dump = set(dump) - set(got)
        only_got = set(got) - set(dump)
        assert not only_dump and not only_got, (
            f"local_threshold={thr}: {len(only_dump)} rules only in the "
            f"reference dump, {len(only_got)} only in ours; e.g. "
            f"{sorted(only_dump)[:2]} / {sorted(only_got)[:2]}"
        )
        mism = [
            (k, got[k], dump[k]) for k in dump
            if got[k][:2] != dump[k][:2]
            or abs(got[k][2] - dump[k][2]) > 1e-9
            or abs(got[k][3] - dump[k][3]) > 1e-9
        ]
        assert not mism, f"local_threshold={thr}: {mism[:3]}"
    rules.unpersist()
    t.unpersist()
