"""Diagnostic: which mechanism reproduces the AmieSpec dup+constants golden
(51,143 rules @ minHC 0.02, of which 40,130 dup-predicate)?

Variants over tests/oracles/refsim.py on yago.tsv (46,654 distinct triples):
  A ndt=False quasi=True   -- plain supports + faithful QuasiBindingFilter
  B ndt=True  quasi=False  -- round-2 status quo (51,136)
  C ndt=True  quasi=True   -- both
Run: python tools/residual_experiment.py A [B C ...]
"""

import sys
import time

sys.path.insert(0, "/root/repo")

from tests.oracles.refsim import SimParams, mine_reference_order

YAGO = "/root/reference/core/src/test/resources/yago.tsv"


def load():
    triples = set()
    with open(YAGO, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n").rstrip(".")
            parts = line.split("\t")
            if len(parts) == 3:
                triples.add(tuple(x.strip() for x in parts))
    return sorted(triples)


def is_dup(rule):
    preds = [a[1] for a in rule.body] + [rule.head[1]]
    return len(set(preds)) != len(preds)


VARIANTS = {
    "A": dict(ndt=False, quasi=True),
    "B": dict(ndt=True, quasi=False),
    "C": dict(ndt=True, quasi=True),
    # D: body atoms pairwise distinct, head triple NOT excluded
    "D": dict(ndt=True, ndt_head=False, quasi=False),
    # E: head triple forbidden ONLY for the fresh atom
    "E": dict(ndt=True, ndt_variant="E", quasi=False),
    # F: head triple forbidden ONLY for earlier body atoms
    "F": dict(ndt=True, ndt_variant="F", quasi=False),
    # G: head triple forbidden for EVERY atom, body-body collisions allowed
    "G": dict(ndt=True, ndt_variant="G", quasi=False),
}

if __name__ == "__main__":
    triples = load()
    print(f"triples: {len(triples)}", flush=True)
    for key in sys.argv[1:] or ["A"]:
        t0 = time.time()
        rules = mine_reference_order(
            triples,
            SimParams(
                min_head_size=100,
                min_support=1,
                min_head_coverage=0.02,
                with_duplicate_predicates=True,
                constants_position=None,
                **VARIANTS[key],
            ),
        )
        ndup = sum(1 for r in rules if is_dup(r))
        print(
            f"variant {key} {VARIANTS[key]}: total={len(rules)} "
            f"dup={ndup} nodup={len(rules) - ndup} "
            f"[ref: 51143/40130/11013] {time.time() - t0:.1f}s",
            flush=True,
        )
