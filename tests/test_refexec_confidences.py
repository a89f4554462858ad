"""Per-rule CONFIDENCE-VALUE parity against the executed reference.

tools/refexec's ConfHarness mines a config with the reference engine and
computes, per rule, CWA / PCA confidence (injective AND plain), QPCA
confidence, body sizes, and lift via the reference's own RuleCounting —
dumped to tests/fixtures/refexec/conf_*.tsv.gz. These tests compare every
value our measures modules produce against the reference's, rule for rule:
a far stronger pin than the count-threshold goldens of RulesetSpec.

Dump columns: head, sortedBody, support, headSize, cwaInj, bodySizeInj,
cwaPlain, bodySizePlain, pcaInj, pcaPlain, qpcaInj, qpcaPlain, lift.
A value of -1 means the reference dropped the measure (confidence below
its 0.001 floor, RuleCounting.scala:63-72/235-241/298-301); we then assert
our exact value is < 0.001 instead.
"""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from rdfrules_spark.mining.amie import MiningParams, mine
from rdfrules_spark.mining.constants import mine_constants
from rdfrules_spark.mining.measures import confidences, lift, qpca_confidence
from rdfrules_spark.mining.measures_constants import (
    confidences_constants,
    qpca_constants,
)
from oracles.refsim import Rule

from test_refexec_parity import (  # reuse the dump/miner canon helpers
    YAGO,
    _dump_atom,
    _miner_rule,
    yago_df,
)

FIXTURES = "/root/repo/tests/fixtures/refexec"
pytestmark = pytest.mark.skipif(
    not os.path.exists(YAGO), reason="yago fixture absent"
)

COLS = [
    "cwa_inj", "body_size_inj", "cwa_plain", "body_size_plain",
    "pca_inj", "pca_plain", "qpca_inj", "qpca_plain", "lift",
]


def load_conf_dump(name: str) -> dict:
    out = {}
    with gzip.open(f"{FIXTURES}/{name}.tsv.gz", "rt", encoding="utf-8") as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            head, body, sup, hs = parts[0], parts[1], int(parts[2]), int(parts[3])
            vals = [float(x) for x in parts[4:]]
            r = Rule(
                head=_dump_atom(head),
                body=tuple(_dump_atom(a) for a in body.split(" ^ ")),
                danglings=(), max_variable=9,
            )
            out[r.canon()] = (sup, hs, dict(zip(COLS, vals)))
    assert out
    return out


def _yago(spark):
    # raw values (angle brackets kept) — the same representation the
    # reference's Raw TSV mode indexes, so names line up with the dumps
    return yago_df(spark)


def _check(key, ours: float | None, ref: float, what: str, errs: list):
    """ref == -1 -> reference dropped the measure (value < its 0.001
    floor); otherwise compare to 1e-9."""
    if ref == -1.0:
        if ours is not None and ours >= 0.001:
            errs.append((what, key, ours, "expected < 0.001"))
    else:
        if ours is None or abs(ours - ref) > 1e-9:
            errs.append((what, key, ours, ref))


def test_var_only_confidence_values(spark):
    """All 67 var-only rules: CWA/PCA (injective + plain), QPCA (both),
    and lift match the reference's RuleCounting value-for-value."""
    dump = load_conf_dump("conf_novar_001")
    t = _yago(spark).cache()
    params = MiningParams(min_head_size=100, min_support=1,
                          min_head_coverage=0.01,
                          with_duplicate_predicates=False)
    rules = mine(t, params).cache()

    def key_of(r):
        body = []
        for q, d in ((r["q"], r["d1"]), (r["r"], r["d2"])):
            if q is None:
                continue
            if r["shape"] == "l3v3":
                u, v = (0, 2) if not body else (1, 2)
            else:
                u, v = 0, 1
            body.append((u, q, v) if d == "f" else (v, q, u))
        return Rule(head=(0, r["p"], 1), body=tuple(body), danglings=(),
                    max_variable=9).canon()

    def collect(df, cols):
        return {
            key_of(r): {c: r[c] for c in cols}
            for r in df.collect()
        }

    ci = collect(
        confidences(rules, t, injective=True)
        .withColumnRenamed("cwa_confidence", "cwa_inj")
        .withColumnRenamed("body_size", "body_size_inj")
        .withColumnRenamed("pca_confidence", "pca_inj"),
        ["shape", "q", "d1", "r", "d2", "p", "support", "head_size",
         "cwa_inj", "body_size_inj", "pca_inj"],
    )
    cp = collect(
        confidences(rules, t, injective=False)
        .withColumnRenamed("cwa_confidence", "cwa_plain")
        .withColumnRenamed("body_size", "body_size_plain")
        .withColumnRenamed("pca_confidence", "pca_plain"),
        ["shape", "q", "d1", "r", "d2", "p", "cwa_plain",
         "body_size_plain", "pca_plain"],
    )
    qi = collect(
        qpca_confidence(rules, t, injective=True),
        ["shape", "q", "d1", "r", "d2", "p", "qpca_confidence"],
    )
    qp = collect(
        qpca_confidence(rules, t, injective=False),
        ["shape", "q", "d1", "r", "d2", "p", "qpca_confidence"],
    )
    lf = collect(
        lift(
            confidences(rules, t, injective=True)
            .where(F.col("cwa_confidence") >= 0.001),
            t,
        ),
        ["shape", "q", "d1", "r", "d2", "p", "lift"],
    )

    assert set(ci) == set(dump)
    errs: list = []
    for k, (sup, hs, ref) in dump.items():
        assert (ci[k]["support"], ci[k]["head_size"]) == (sup, hs)
        _check(k, ci[k]["cwa_inj"], ref["cwa_inj"], "cwa_inj", errs)
        _check(k, cp[k]["cwa_plain"], ref["cwa_plain"], "cwa_plain", errs)
        if ref["cwa_inj"] != -1.0:
            _check(k, float(ci[k]["body_size_inj"]), ref["body_size_inj"],
                   "body_size_inj", errs)
        if ref["cwa_plain"] != -1.0:
            _check(k, float(cp[k]["body_size_plain"]), ref["body_size_plain"],
                   "body_size_plain", errs)
        _check(k, ci[k]["pca_inj"], ref["pca_inj"], "pca_inj", errs)
        _check(k, cp[k]["pca_plain"], ref["pca_plain"], "pca_plain", errs)
        _check(k, qi[k]["qpca_confidence"], ref["qpca_inj"], "qpca_inj", errs)
        _check(k, qp[k]["qpca_confidence"], ref["qpca_plain"], "qpca_plain",
               errs)
        _check(k, lf.get(k, {}).get("lift"), ref["lift"], "lift", errs)
    t.unpersist()
    rules.unpersist()
    assert not errs, f"{len(errs)} value mismatches, e.g. {errs[:5]}"


def test_constants_confidence_values(spark):
    """The executed-spec LCS ruleset (4,203 rules incl. all 9 constants
    shapes): the Spark miner reproduces it exactly (an extra config beyond
    test_refexec_parity) and CWA/PCA/QPCA confidences (injective + plain)
    match value-for-value."""
    dump = load_conf_dump("conf_lcs_001")
    t = _yago(spark).cache()
    params = MiningParams(min_head_size=100, min_support=1,
                          min_head_coverage=0.01,
                          with_duplicate_predicates=False)
    rules = mine_constants(t, params, constants="lcs",
                           quasi_binding=True).cache()

    def collect(df, cols):
        out = {}
        for r in df.collect():
            out[_miner_rule(r["head"], r["atoms"]).canon()] = {
                c: r[c] for c in cols
            }
        return out

    ci = collect(
        confidences_constants(rules, t, injective=True),
        ["support", "head_size", "body_size", "pca_body_size"],
    )
    cp = collect(
        confidences_constants(rules, t, injective=False),
        ["body_size", "pca_body_size"],
    )
    qi = collect(qpca_constants(rules, t, injective=True),
                 ["qpca_confidence"])
    qp = collect(qpca_constants(rules, t, injective=False),
                 ["qpca_confidence"])
    assert set(ci) == set(dump)
    errs: list = []
    for k, (sup, hs, ref) in dump.items():
        assert (ci[k]["support"], ci[k]["head_size"]) == (sup, hs)

        def conf(entry, size_col):
            bs = entry[size_col]
            return None if not bs else sup / bs

        _check(k, conf(ci[k], "body_size"), ref["cwa_inj"], "cwa_inj", errs)
        _check(k, conf(cp[k], "body_size"), ref["cwa_plain"], "cwa_plain",
               errs)
        _check(k, conf(ci[k], "pca_body_size"), ref["pca_inj"], "pca_inj",
               errs)
        _check(k, conf(cp[k], "pca_body_size"), ref["pca_plain"],
               "pca_plain", errs)
        _check(k, qi[k]["qpca_confidence"], ref["qpca_inj"], "qpca_inj",
               errs)
        _check(k, qp[k]["qpca_confidence"], ref["qpca_plain"], "qpca_plain",
               errs)
    t.unpersist()
    rules.unpersist()
    assert not errs, f"{len(errs)} value mismatches, e.g. {errs[:5]}"
