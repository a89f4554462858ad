"""End-to-end KG pipeline tests: determinism, span invariant, P/R vs the
pure-Python reference extractor (BASELINE.json acceptance: P/R >= 0.95)."""

from __future__ import annotations

import pytest

from rdfrules_spark import corpus
from rdfrules_spark.extraction import extract_statements, span_sequence_invariant
from rdfrules_spark.pipeline import flagship_query
from rdfrules_spark.reference_extractor import (
    precision_recall,
    reference_triples,
)

from conftest import reference_file

N_DOCS = 300


@pytest.fixture(scope="module")
def docs_df(spark):
    return corpus.synth_documents(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def pipe(spark, docs_df):
    from rdfrules_spark.pipeline import run_pipeline
    result = run_pipeline(spark, docs_df, n_entities=corpus.n_entities_for(N_DOCS))
    result.relations = result.relations.cache()
    result.triples = result.triples.cache()
    return result


@pytest.fixture(scope="module")
def local_docs():
    n_ent = corpus.n_entities_for(N_DOCS)
    return [corpus.gen_doc(i, n_ent) for i in range(N_DOCS)]


def test_generator_deterministic_and_distributed(spark, docs_df, local_docs):
    # Spark-generated corpus must match the pure-Python generator row by row,
    # regardless of partitioning.
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in docs_df.collect()
    }
    exp = {doc_id: spans for doc_id, spans in local_docs}
    assert got == exp
    # different partitioning, same bytes
    re_got = corpus.synth_documents(spark, N_DOCS, partitions=7).collect()
    assert {r["doc_id"] for r in re_got} == set(exp)


def test_corpus_has_interleaved_media_and_aliases(local_docs):
    kinds = {s[0] for _, spans in local_docs for s in spans}
    assert "text" in kinds and kinds & {"image", "video", "audio"}
    texts = " ".join(s[1] for _, spans in local_docs for s in spans)
    assert " aka " in texts  # sameAs cues present


def test_span_sequence_invariant(spark, docs_df):
    # extraction must not disturb the spans column
    processed = docs_df.select("doc_id", "spans")  # post-extraction carrier
    assert span_sequence_invariant(docs_df, processed) == 0


def test_extraction_matches_reference(spark, docs_df, local_docs):
    from rdfrules_spark.reference_extractor import extract_statements as ref_extract

    got = {
        (r["doc_id"], r["stmt_no"], r["s_surf"], r["p"], r["o_surf"])
        for r in extract_statements(docs_df).collect()
    }
    exp = {
        (doc_id, i, s, p, o)
        for doc_id, spans in local_docs
        for i, (s, p, o) in enumerate(
            ref_extract([{"kind": k, "text": t, "media_ref": m} for (k, t, m, _) in spans])
        )
    }
    assert got == exp


def test_pipeline_pr_vs_reference(spark, pipe, local_docs):
    result = pipe
    got = {
        (r["s"], r["p"], r["o"])
        for r in result.relations.select("s", "p", "o").distinct().collect()
    }
    expected = reference_triples(
        [(d, [{"kind": k, "text": t, "media_ref": m} for (k, t, m, _) in spans]) for d, spans in local_docs]
    )
    p, r = precision_recall(got, expected)
    assert p >= 0.95 and r >= 0.95, (p, r)
    # our extraction is exact by construction
    assert (p, r) == (1.0, 1.0)


def test_canonicalization_merges_aliases(spark, pipe):
    result = pipe
    # canon map is non-trivial and maps aliases onto canonicals
    cm = {r["node"]: r["canon"] for r in result.canon_map.collect()}
    assert cm and all(not v.endswith("x") for v in cm.values())
    assert all(k == v or k.endswith("x") for k, v in cm.items())
    # every alias with sameAs evidence must be gone from the triples;
    # aliases never mentioned in an aka statement legitimately survive
    merged = {k for k in cm if k.endswith("x")}
    leftovers = {
        v
        for r in result.relations.select("s", "o").collect()
        for v in (r["s"], r["o"])
        if v in merged
    }
    assert not leftovers


def test_dictionary_and_encoding(spark, pipe):
    from rdfrules_spark.dictionary import assert_no_collisions, decode_triples

    result = pipe
    assert assert_no_collisions(result.dict_df) == 0
    n_str = result.relations.select("s", "p", "o").distinct().count()
    assert result.triples.count() == n_str
    # decode round-trip
    back = {
        (r["s"], r["p"], r["o"])
        for r in decode_triples(result.triples, result.dict_df).collect()
    }
    exp = {
        (r["s"], r["p"], r["o"])
        for r in result.relations.select("s", "p", "o").distinct().collect()
    }
    assert back == exp


def test_pred_stats(spark, pipe):
    result = pipe
    stats = {r["p"]: r for r in result.pred_stats.collect()}
    triples = result.triples.groupBy("p").count().collect()
    assert {r["p"] for r in triples} == set(stats)
    for r in triples:
        st = stats[r["p"]]
        assert st["size"] == r["count"]
        assert 0 < st["subj_rel_card"] <= 1.0
        assert st["higher_card_side"] in ("subject", "object")


def test_flagship_query(spark, pipe):
    rows = flagship_query(pipe).collect()
    assert len(rows) > 0
    assert rows[0]["n_triples"] >= rows[-1]["n_triples"]


def test_synth_kg_deterministic_with_planted_rules(spark):
    from rdfrules_spark.corpus import synth_kg
    from rdfrules_spark.mining.amie import MiningParams, mine

    a = synth_kg(spark, 20_000, partitions=3)
    b = synth_kg(spark, 20_000, partitions=17)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    t = a.distinct().cache()
    rules = mine(
        t, MiningParams(min_head_size=100, min_support=2, min_head_coverage=0.05)
    )
    # planted structure: same-direction partner rules (p odd <- p even, d1=f)
    got = {(r.p, r.q, r.d1) for r in rules.where("shape = 'l2'").collect()}
    assert any(d == "f" and int(p[1:]) ^ 1 == int(q[1:]) for p, q, d in got)
    # and inverse partner rules (d1='i')
    assert any(d == "i" for _, _, d in got)
    t.unpersist()


def test_sameas_fixture_goldens(spark):
    """Reference IndexSpec.scala:105-116 on sameastest.tsv: 9 triples ->
    after owl:sameAs resolution 6 distinct triples, 2 subjects,
    1 predicate, 5 objects (reference core:index/TripleItemHashIndex
    .scala:68-82 semantics; counts invariant under representative choice)."""
    from pyspark.sql import functions as F

    from rdfrules_spark.canonicalize import canonicalize_triples
    from rdfrules_spark.sources.tsv import read_tsv

    g = read_tsv(
        spark, reference_file("core/src/test/resources/sameastest.tsv")
    ).select("s", "p", "o")
    assert g.count() == 9  # GraphSpec graph.size
    sameas = g.where(F.col("p") == "owl:sameAs").select(
        F.col("s").alias("a"), F.col("o").alias("b")
    )
    rels = g.where(F.col("p") != "owl:sameAs")
    canon, _ = canonicalize_triples(rels, sameas, rewrite_predicates=True)
    t = canon.distinct().cache()
    assert t.count() == 6
    row = t.agg(
        F.countDistinct("s").alias("ns"),
        F.countDistinct("p").alias("np"),
        F.countDistinct("o").alias("no"),
    ).first()
    assert (row.ns, row.np, row.no) == (2, 1, 5)
    t.unpersist()


def test_cc_driver_vs_distributed_parity(spark):
    """connected_components' size-gated driver union-find must produce the
    identical (node, component-min) map as the distributed min-label
    propagation loop (forced with driver_threshold=0): chains (worst case
    for propagation), a star, and a singleton edge."""
    from rdfrules_spark.canonicalize import connected_components

    edges = [
        # chain z9->z0 (reversed lexicographic order stresses min-finding)
        *[(f"z{i+1}", f"z{i}") for i in range(9)],
        # star with hub NOT the minimum
        ("hub", "a1"), ("hub", "a2"), ("hub", "a0"),
        # singleton pair + self-loop
        ("s1", "s2"), ("q", "q"),
    ]
    df = spark.createDataFrame(edges, "a string, b string")
    fast = {(r.node, r.canon)
            for r in connected_components(df).collect()}
    slow = {(r.node, r.canon)
            for r in connected_components(df, driver_threshold=0).collect()}
    assert fast == slow
    assert ("z9", "z0") in fast and ("hub", "a0") in fast
    assert ("q", "q") in fast


def test_dictionary_fast_path_covers_stream_terms(spark, pipe):
    """run_pipeline derives the dictionary from the link map (dimension
    side) rather than scanning the triple stream; it must contain every
    stream term with identical id/kind, and any extras are canonical IRIs
    of aka-only surfaces (which the reference interns too)."""
    from rdfrules_spark.dictionary import build_dictionary

    full = build_dictionary(pipe.relations.select("s", "p", "o"))
    assert full.exceptAll(pipe.dict_df).count() == 0
    extra = pipe.dict_df.exceptAll(full).collect()
    assert all(r["kind"] == "uri" and r["item"].startswith("ent:")
               for r in extra)
