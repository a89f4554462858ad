"""Per-rule LocalTimeout margin-error sampling (Threshold.LocalTimeout,
core:algorithm/amie/AnytimeRefinement.scala SamplesChecker): the reference
stops each rule's head scan at the Wald sample-size bound
n >= hc*(1-hc)*(1.96/me)^2 and scales supports by headSupport/n. The repo's
set-based analog samples every head predicate to the hc=0.5 worst-case bound
(the binding case of the stopper), so the +-me @95% guarantee holds or is
exceeded for EVERY rule. Verified here on yago.tsv (46,654 triples): every
sampled head-coverage is within +-me of the exact value — deterministic
(hash-based sample), so the asserted bounds are stable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfrules_spark.mining.amie import MiningParams, _lt_cap, mine
from rdfrules_spark.sources.tsv import read_tsv

from conftest import yago_tsv

YAGO = yago_tsv()
BASE = dict(min_head_size=100, min_support=1, min_head_coverage=0.01)
KEY = ["p", "shape", "q", "d1", "r", "d2"]


def _canon(rules, suffix):
    # null-safe join keys (r/d2 are NULL for L2 rules)
    out = rules
    for k in KEY:
        out = out.withColumn(k, F.coalesce(F.col(k).cast("string"), F.lit("_")))
    return out.select(*KEY, F.col("head_coverage").alias("hc_" + suffix))


@pytest.fixture(scope="module")
def yago(spark):
    return (
        read_tsv(spark, YAGO).select("s", "p", "o").distinct().cache()
    )


def test_wald_cap():
    # n = ceil(0.25 * (1.96/me)^2) at the hc=0.5 worst case
    assert _lt_cap(MiningParams(local_timeout_me=0.05)) == 385
    assert _lt_cap(MiningParams(local_timeout_me=0.02)) == 2401
    # dme mode shrinks the margin for rare rules (bounded at min_head_
    # coverage), which only ever INCREASES the sample size
    assert (
        _lt_cap(MiningParams(local_timeout_me=0.05, local_timeout_dme=True,
                             min_head_coverage=0.01))
        == 1537
        > 385
    )


def test_sampling_modes_mutually_exclusive(yago):
    with pytest.raises(ValueError, match="mutually exclusive"):
        mine(
            yago,
            MiningParams(**BASE, head_sample_fraction=0.5,
                         local_timeout_me=0.05),
        ).count()


def test_local_timeout_margin_bounds(yago):
    """Every rule's sampled head coverage is within +-me of exact, in both
    plain and dme modes (AmieSpec default-mining config, 124 exact rules)."""
    exact = _canon(mine(yago, MiningParams(**BASE)), "e").cache()
    assert exact.count() == 124
    for me, dme in [(0.05, False), (0.05, True)]:
        samp = _canon(
            mine(yago, MiningParams(**BASE, local_timeout_me=me,
                                    local_timeout_dme=dme)),
            "s",
        )
        j = (
            exact.join(samp, KEY, "full")
            .fillna(0.0, ["hc_e", "hc_s"])
            .withColumn("err", F.abs(F.col("hc_e") - F.col("hc_s")))
        )
        stats = j.agg(
            F.count(F.lit(1)).alias("n"), F.max("err").alias("max_err")
        ).collect()[0]
        # the Wald bound promises +-me @95% per rule; the realized
        # deterministic sample beats it for ALL rules on this config
        assert stats["max_err"] <= me, (me, dme, stats)
        # the rule SET is near-identical too: only threshold-adjacent
        # rules may flip in/out (hc within me of the 0.01 cut)
        flipped = j.where((F.col("hc_e") == 0) | (F.col("hc_s") == 0))
        assert flipped.count() <= 8
        assert (
            flipped.where(
                F.greatest("hc_e", "hc_s")
                > BASE["min_head_coverage"] + me
            ).count()
            == 0
        )


def test_lt_ratio_cache_keyed_on_min_head_coverage(yago):
    """dme mode folds min_head_coverage into the sample cap, so two
    mine() runs over the SAME cached triples object with different
    min_head_coverage must not share a ratio table (ADVICE r03)."""
    from rdfrules_spark.mining.amie import _lt_ratios

    p1 = MiningParams(min_head_size=100, min_support=1,
                      min_head_coverage=0.01,
                      local_timeout_me=0.05, local_timeout_dme=True)
    p2 = MiningParams(min_head_size=100, min_support=1,
                      min_head_coverage=0.05,
                      local_timeout_me=0.05, local_timeout_dme=True)
    assert _lt_cap(p1) != _lt_cap(p2)
    r1 = _lt_ratios(yago, p1)
    r2 = _lt_ratios(yago, p2)
    assert r1 is not r2, "stale ratio table reused across hc settings"
    # same params -> memo hit
    assert _lt_ratios(yago, p1) is r1
