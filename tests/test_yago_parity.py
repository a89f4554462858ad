"""Golden-value parity with the reference's own test suite (AmieSpec.scala)
on its yago.tsv fixture (46,654 triples) — the cross-implementation
correctness bar of SURVEY.md §5."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfrules_spark.mining.amie import MiningParams, mine
from rdfrules_spark.mining.local_constants import LOCAL_TRIPLES_MAX
from rdfrules_spark.mining.measures import COMBO, _l3v3_lower_bounds, confidences

from conftest import reference_file, yago_tsv

YAGO = yago_tsv()
BASE = dict(min_head_size=100, min_support=1, min_head_coverage=0.01)


@pytest.fixture(scope="module")
def yago(spark):
    from rdfrules_spark.sources.tsv import read_tsv

    t = read_tsv(spark, YAGO).select("s", "p", "o").distinct().cache()
    assert t.count() == 46654  # GraphSpec.scala:21-30
    return t


def test_default_mining_124(yago):
    # AmieSpec.scala:45-50 / RulesetSpec.scala:32-44
    assert mine(yago, MiningParams(**BASE)).count() == 124


def test_default_mining_124_distributed(yago):
    # the same golden through the staged plan the driver-local gate skips
    assert mine(yago, MiningParams(**BASE), local_threshold=0).count() == 124


def test_without_duplicate_predicates_67(yago):
    # AmieSpec.scala:52-68
    rules = mine(
        yago, MiningParams(**BASE, with_duplicate_predicates=False)
    ).collect()
    assert len(rules) == 67
    hcs = sorted((r["head_coverage"] for r in rules), reverse=True)
    assert hcs[1] == 0.22784810126582278


def test_only_predicates_8(yago):
    # AmieSpec.scala:70-89
    rules = mine(
        yago,
        MiningParams(
            **BASE,
            with_duplicate_predicates=False,
            only_predicates=["imports", "exports", "dealsWith"],
        ),
    ).collect()
    assert len(rules) == 8
    hcs = sorted((r["head_coverage"] for r in rules), reverse=True)
    assert hcs[0] == 0.22784810126582278
    assert hcs[1] == 0.16033755274261605


def test_without_predicates_59(yago):
    # AmieSpec.scala:91-108
    rules = mine(
        yago,
        MiningParams(
            **BASE,
            with_duplicate_predicates=False,
            without_predicates=["imports", "exports", "dealsWith"],
        ),
    )
    assert rules.count() == 59


def test_max_rule_length_2_30(yago):
    # AmieSpec.scala:195-221 (maxlen 2 => 30)
    assert (
        mine(
            yago,
            MiningParams(**BASE, with_duplicate_predicates=False, max_rule_length=2),
        ).count()
        == 30
    )


def test_min_head_size_1000_11(yago):
    # AmieSpec.scala:223-239
    rules = mine(
        yago,
        MiningParams(
            min_head_size=1000,
            min_support=1,
            min_head_coverage=0.01,
            with_duplicate_predicates=False,
        ),
    ).collect()
    assert len(rules) == 11
    assert all(r["head_size"] >= 1000 for r in rules)


def test_topk_10(yago):
    # AmieSpec.scala:241-257
    rules = mine(
        yago, MiningParams(**BASE, with_duplicate_predicates=False, top_k=10)
    ).collect()
    assert len(rules) == 10
    hcs = sorted((r["head_coverage"] for r in rules), reverse=True)
    assert hcs[1] == 0.22784810126582278


def test_cwa_confidence_7(yago):
    # AmieSpec.scala:259-274 ("count confidence": CWA >= 0.2 => 7), through
    # the driver-local gate and through the staged distributed plan
    for thr in (LOCAL_TRIPLES_MAX, 0):
        rules = mine(
            yago, MiningParams(**BASE, with_duplicate_predicates=False),
            local_threshold=thr,
        )
        cwa = confidences(rules, yago, pca=False, local_threshold=thr)
        assert cwa.where("cwa_confidence >= 0.2").count() == 7, thr


def test_min_confidence_pruning_exact_parity(yago):
    # capped-counting analog (the staged measures.confidences min_confidence
    # lower-bound pruning) must give the SAME final ruleset as exact
    # counting (here through the driver-local gate) + post-filter
    rules = mine(yago, MiningParams(**BASE, with_duplicate_predicates=False))
    exact = confidences(rules, yago, pca=False)
    pruned = confidences(rules, yago, pca=False, min_confidence=0.2,
                         local_threshold=0)
    exact_set = {
        (r.p, r.shape, r.q, r.d1, r.r, r.d2, r.body_size)
        for r in exact.where("cwa_confidence >= 0.2").collect()
    }
    pruned_set = {
        (r.p, r.shape, r.q, r.d1, r.r, r.d2, r.body_size)
        for r in pruned.collect()
    }
    assert pruned_set == exact_set and len(pruned_set) == 7
    # the lower bounds do prune here: 12 of the 30 l3v3 rules
    l3 = rules.where("shape = 'l3v3'")
    lbs = _l3v3_lower_bounds(yago, l3.select(*COMBO).distinct())
    assert l3.join(lbs, COMBO).where(
        F.col("lb_body_size") > F.col("support") / 0.2
    ).count() == 12


def test_graphspec_triple_ops_goldens(spark):
    """GraphSpec.scala:33-59 'have triples ops' (yago-only assertions):
    filter(dealsWith)=520, properties().size=33, hasWonPrize range
    sum=1110 (the reference types bare TSV tokens as LongUri in Raw mode;
    our term_kind calls the same unbracketed tokens 'text' — the per-
    predicate count is the pinned quantity), histogram(p)=33 rows with
    hasGeonamesId=2103, filtered histogram(p,o) over hasOfficialLanguage =
    147 keys with Russian_language=4."""
    from rdfrules_spark.operators.histogram import histogram, properties
    from rdfrules_spark.sources.tsv import read_tsv

    t = read_tsv(spark, YAGO)
    assert t.where(F.col("p") == "dealsWith").count() == 520
    props = properties(t)
    assert props.select("p").distinct().count() == 33
    won = props.where(F.col("p") == "hasWonPrize").collect()
    assert [(r["okind"], r["cnt"]) for r in won] == [("text", 1110)]
    h = histogram(t, "p")
    assert h.count() == 33
    assert h.where(F.col("p") == "hasGeonamesId").collect()[0]["cnt"] == 2103
    h2 = histogram(t.where(F.col("p") == "hasOfficialLanguage"), "p", "o")
    assert h2.count() == 147
    assert h2.where(F.col("o") == "Russian_language").collect()[0]["cnt"] == 4


def test_indexspec_dictionary_size(spark):
    """IndexSpec.scala:34-35: the TripleItemHashIndex holds 42,980 distinct
    items over yago = 42,979 distinct s/p/o terms + the graph name (our
    dictionary is term-only; the graph rides as an encoded column)."""
    from rdfrules_spark.dictionary import build_dictionary
    from rdfrules_spark.sources.tsv import read_tsv

    t = read_tsv(spark, YAGO).select("s", "p", "o")
    assert build_dictionary(t).count() == 42980 - 1


def test_datasetspec_prefix_file():
    """DatasetSpec.scala:31: addPrefixes(prefixes.ttl) yields exactly 2
    user-defined prefixes — parsed from the reference's own fixture."""
    from rdfrules_spark.sources.prefixes import read_prefix_file

    p = read_prefix_file(
        reference_file("core/src/test/resources/prefixes.ttl")
    )
    assert p == {
        "dbp": "http://cs.dbpedia.org/property/",
        "dbr": "http://cs.dbpedia.org/resource/",
    }


def test_graphspec_file_order_head(spark):
    """GraphSpec.scala:22-40: the TSV scan preserves file order, so
    head/take see the reference's exact first triples — first is
    (Azerbaijan hasCapital Baku), take(2).last / drop(1).head is
    (Azerbaijan dealsWith People's_Republic_of_China)."""
    from rdfrules_spark.sources.tsv import read_tsv

    t = read_tsv(spark, YAGO).select("s", "p", "o")
    first_two = [tuple(r) for r in t.head(2)]
    assert first_two[0] == ("Azerbaijan", "hasCapital", "Baku")
    assert first_two[1] == (
        "Azerbaijan", "dealsWith", "People's_Republic_of_China"
    )
