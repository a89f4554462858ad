from __future__ import annotations

from rdfrules_spark import corpus

from perfbench.trace import Tracer
from perfbench.workloads import KgBuild, kg_expected

N_DOCS = 600


def test_traced_composition_matches_run_pipeline(spark, tmp_path):
    """The traced kg_build job (the spine's public calls composed layer by
    layer) and the untraced one (pipeline.run_pipeline) write the same
    store, and both match what the corpus grammar predicts."""
    wl = KgBuild()
    wl.n_docs = N_DOCS
    docs = corpus.synth_documents(spark, N_DOCS, seed=5)
    state = {"docs_df": docs, "stores": str(tmp_path), "jobs": 0}
    expected = kg_expected(docs)
    assert expected["canon_map"] > 0 and expected["triples"] > 0

    plain = wl.job(spark, state, Tracer(spark, enabled=False))
    got_plain = wl.check(spark, state, plain)
    wl.release(plain)

    tracer = Tracer(spark)
    traced = wl.job(spark, state, tracer)
    got_traced = wl.check(spark, state, traced)
    wl.release(traced)

    assert got_plain == expected
    assert got_traced == expected
    assert [r.name for r in tracer.records] == list(wl.layers)
    by_name = {r.name: r for r in tracer.records}
    assert by_name["dictionary.encode"].rows_out == expected["triples"]
    assert by_name["extraction"].rows_out == expected["statements"]
    assert all(r.spark_stages > 0 for r in tracer.records)
