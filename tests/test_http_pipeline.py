"""JSON task-pipeline interpreter (http_pipeline.py) — the reference's
`bin/main task.json` entry point (http:Main.scala;
PipelineJsonReaders.scala:463-599).

Checks: typed chaining + the reference's task names, terminal semantics,
and that every pipeline composes to EXACTLY the same result as calling the
engine ops directly (the ops themselves carry the reference goldens)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from rdfrules_spark.http_pipeline import (
    PipelineError,
    run_pipeline_json,
    to_var_schema,
)

from conftest import yago_tsv

YAGO = yago_tsv()


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def yago_triples(spark):
    return (
        spark.read.option("sep", "\t").csv(YAGO)
        .select(
            F.col("_c0").alias("s"), F.col("_c1").alias("p"),
            F.regexp_replace(F.col("_c2"), r"\s*\.$", "").alias("o"),
        )
        .dropDuplicates()
    )


def test_dataset_terminal_tasks(spark, yago_triples):
    # Histogram(predicate) == direct groupBy count
    res = run_pipeline_json(spark, [
        {"name": "LoadGraph", "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Histogram", "parameters": {"predicate": True}},
    ])
    direct = yago_triples.groupBy("p").agg(F.count(F.lit(1)).alias("count"))
    assert sorted(_rows(res)) == sorted(_rows(direct))
    assert res.count() == 33  # GraphSpec histogram(p) golden

    # FilterQuads + DatasetSize: dealsWith golden 520 (GraphSpec.scala:42)
    res = run_pipeline_json(spark, [
        {"name": "LoadGraph", "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "FilterQuads",
         "parameters": {"or": [{"predicate": "^<dealsWith>$"}]}},
        {"name": "DatasetSize"},
    ])
    assert res.collect()[0]["size"] == 520

    # inverse matcher
    res = run_pipeline_json(spark, [
        {"name": "LoadGraph", "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "FilterQuads",
         "parameters": {"or": [{"predicate": "^<dealsWith>$",
                                "inverse": True}]}},
        {"name": "DatasetSize"},
    ])
    assert res.collect()[0]["size"] == yago_triples.count() - 520

    # ShrinkQuads take
    res = run_pipeline_json(spark, [
        {"name": "LoadGraph", "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "ShrinkQuads", "parameters": {"take": 10}},
        {"name": "DatasetSize"},
    ])
    assert res.collect()[0]["size"] == 10


def test_to_var_schema_equals_native_miner(spark, yago_triples):
    """The canonical->var-key bridge reproduces mine() exactly (same rule
    keys, same measures) for every var-only rule on yago at minHC 0.01."""
    from rdfrules_spark.mining.amie import MiningParams, mine
    from rdfrules_spark.mining.constants import mine_constants

    params = MiningParams(
        min_head_size=100, min_support=1, min_head_coverage=0.01,
        with_duplicate_predicates=False,
    )
    native = mine(yago_triples, params)
    bridged = to_var_schema(
        mine_constants(yago_triples, params, constants="nowhere")
    )
    cols = ["p", "shape", "q", "d1", "r", "d2", "support", "head_size"]
    assert _rows(native.select(*cols)) == _rows(bridged.select(*cols))


def test_mine_pipeline_equals_direct(spark, yago_triples):
    """Load -> Index -> Mine -> GetRules == mine_constants directly (the
    pipeline's Mine auto-adds InjectiveMapping like the HTTP task)."""
    from rdfrules_spark.mining.amie import MiningParams
    from rdfrules_spark.mining.constants import mine_constants

    res = run_pipeline_json(spark, [
        {"name": "LoadGraph", "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Index"},
        {"name": "Mine", "parameters": {
            "thresholds": [{"name": "MinHeadCoverage", "value": 0.01}],
            "constraints": [{"name": "WithoutDuplicitPredicates"},
                            {"name": "WithoutConstants"}],
        }},
        {"name": "GetRules"},
    ])
    direct = mine_constants(
        yago_triples,
        MiningParams(min_head_coverage=0.01, with_duplicate_predicates=False,
                     injective=True),
        constants="nowhere",
    )
    cols = ["head", "support", "head_size"]
    assert _rows(res.select(*cols)) == _rows(direct.select(*cols))


def test_confidence_filter_sort_shrink(spark, yago_triples):
    """The full AmieSpec 'count confidence' flow through the JSON pipeline:
    CWA confidence >= 0.2 over the nodup/novar yago ruleset. The API-level
    golden is 7 rules (AmieSpec.scala:259-274, non-injective); the HTTP
    pipeline mines injectively, so pin against the direct injective call
    and check the measure filter + topk consumer shape."""
    from rdfrules_spark.mining.amie import MiningParams
    from rdfrules_spark.mining.constants import mine_constants
    from rdfrules_spark.mining.measures_constants import (
        confidences_constants,
    )

    res = run_pipeline_json(spark, [
        {"name": "LoadGraph", "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Index"},
        {"name": "Mine", "parameters": {
            "thresholds": [{"name": "MinHeadCoverage", "value": 0.01}],
            "constraints": [{"name": "WithoutDuplicitPredicates"},
                            {"name": "WithoutConstants"}],
        }},
        {"name": "ComputeConfidence",
         "parameters": {"name": "StandardConfidence", "min": 0.2}},
        {"name": "SortRuleset", "parameters": {}},
        {"name": "GetRules"},
    ])
    direct = mine_constants(
        yago_triples,
        MiningParams(min_head_coverage=0.01, with_duplicate_predicates=False,
                     injective=True),
        constants="nowhere",
    )
    direct = confidences_constants(direct, yago_triples, injective=True)
    direct = direct.where(F.col("cwa_confidence") >= 0.2)
    assert _rows(res.select("head", "atoms")) == _rows(
        direct.select("head", "atoms")
    )
    # sorted: first row has the max cwa_confidence
    top = res.limit(1).collect()[0]
    mx = direct.agg(F.max("cwa_confidence")).collect()[0][0]
    assert abs(top["cwa_confidence"] - mx) < 1e-12


def test_cached_index_collects_its_triples_once(spark, monkeypatch):
    """Index -> CacheIndex -> Mine -> ComputeConfidence: the driver-local
    miner and the confidences share one collect of the cached triples,
    and the rules are those of the uncached pipeline."""
    from rdfrules_spark import http_pipeline
    from rdfrules_spark.mining import local_constants

    collects, cached = [], []
    collect_local, cache = local_constants.collect_local, http_pipeline._cache

    def spy_collect(*args):
        collects.append(1)
        return collect_local(*args)

    def spy_cache(df, params):
        cached.append(cache(df, params))
        return cached[-1]

    monkeypatch.setattr(local_constants, "collect_local", spy_collect)
    monkeypatch.setattr(http_pipeline, "_cache", spy_cache)
    tasks = [
        {"name": "LoadGraph", "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Index"},
        {"name": "CacheIndex", "parameters": {"inMemory": True}},
        {"name": "Mine", "parameters": {
            "thresholds": [{"name": "MinHeadCoverage", "value": 0.01}],
            "constraints": [{"name": "WithoutDuplicitPredicates"},
                            {"name": "WithoutConstants"}],
        }},
        {"name": "ComputeConfidence",
         "parameters": {"name": "StandardConfidence"}},
        {"name": "GetRules"},
    ]
    cols = ["head", "atoms", "support", "body_size", "cwa_confidence"]
    try:
        res = _rows(run_pipeline_json(spark, tasks).select(*cols))
        assert len(collects) == 1 and len(cached) == 1
    finally:
        for df in cached:
            df.unpersist()
    assert res
    assert res == _rows(run_pipeline_json(
        spark, [t for t in tasks if t["name"] != "CacheIndex"]
    ).select(*cols))


def test_invalid_bindings_raise(spark):
    with pytest.raises(PipelineError, match="Invalid first task"):
        run_pipeline_json(spark, [{"name": "Mine", "parameters": {}}])
    with pytest.raises(PipelineError, match="can not be bound to Dataset"):
        run_pipeline_json(spark, [
            {"name": "LoadGraph", "parameters": {"path": YAGO, "settings": "tsvRaw"}},
            {"name": "ComputeConfidence",
             "parameters": {"name": "StandardConfidence", "min": 0.1}},
        ])
    with pytest.raises(PipelineError, match="can not be bound to Index"):
        run_pipeline_json(spark, [
            {"name": "LoadGraph", "parameters": {"path": YAGO, "settings": "tsvRaw"}},
            {"name": "Index"},
            {"name": "FilterQuads", "parameters": {"or": []}},
        ])


def test_pipeline_from_json_file(spark, tmp_path, yago_triples):
    """run_pipeline_json accepts a task.json path (bin/main task.json)."""
    task = [
        {"name": "LoadGraph", "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "FilterQuads",
         "parameters": {"or": [{"predicate": "^<livesIn>$"}]}},
        {"name": "DatasetSize"},
    ]
    p = tmp_path / "task.json"
    p.write_text(json.dumps(task), encoding="utf-8")
    res = run_pipeline_json(spark, str(p))
    assert res.collect()[0]["size"] == 473


def test_predict_and_evaluate_pipeline(spark, yago_triples, tmp_path):
    """Mine -> ComputeConfidence -> Predict(testPath) -> ToPredictionTasks
    -> SelectCandidates -> Evaluate runs end-to-end and equals the direct
    composition."""
    from rdfrules_spark.mining.amie import MiningParams, mine
    from rdfrules_spark.mining.measures import confidences
    from rdfrules_spark.prediction import (
        evaluate_ranking,
        predict_triples,
        prediction_tasks,
        score_predictions,
        select_candidates,
    )

    # deterministic 90/10 split of dealsWith triples as train/test files
    test_df = yago_triples.where(
        (F.col("p") == "<dealsWith>")
        & (F.crc32(F.concat_ws("|", "s", "o")) % 10 == 0)
    )
    # raw TSV (yago.tsv parsing mode) so terms keep the <...> form
    test_path = str(tmp_path / "test.tsv")
    with open(test_path, "w", encoding="utf-8") as f:
        for r in test_df.collect():
            f.write(f"{r['s']}\t{r['p']}\t{r['o']}.\n")

    res = run_pipeline_json(spark, [
        {"name": "LoadGraph", "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Index"},
        {"name": "Mine", "parameters": {
            "thresholds": [{"name": "MinHeadCoverage", "value": 0.05},
                           {"name": "MaxRuleLength", "value": 2}],
            "constraints": [{"name": "WithoutDuplicitPredicates"},
                            {"name": "WithoutConstants"}],
        }},
        {"name": "ComputeConfidence",
         "parameters": {"name": "StandardConfidence", "min": 0.1}},
        {"name": "Predict", "parameters": {"testPath": test_path, "settings": "tsvRaw"}},
        {"name": "ToPredictionTasks", "parameters": {"limit": 10}},
        {"name": "SelectCandidates",
         "parameters": {"strategy": {"type": "topK", "k": 10}}},
        {"name": "Evaluate", "parameters": {"ranking": "test"}},
    ])
    row = res.collect()[0]
    assert row["n_tasks"] >= 1
    assert 0.0 <= row["mrr"] <= 1.0

    # mergeTestAndTrainForPrediction binds bodies over train UNION test
    # (TrainTestIndex merged view): a superset binding graph can only
    # grow the distinct predicted-triple set
    def n_pred(merge):
        out = run_pipeline_json(spark, [
            {"name": "LoadGraph",
             "parameters": {"path": YAGO, "settings": "tsvRaw"}},
            {"name": "Index"},
            {"name": "Mine", "parameters": {
                "thresholds": [{"name": "MinHeadCoverage", "value": 0.05},
                               {"name": "MaxRuleLength", "value": 2}],
                "constraints": [{"name": "WithoutDuplicitPredicates"},
                                {"name": "WithoutConstants"}],
            }},
            {"name": "Predict",
             "parameters": {"testPath": test_path, "settings": "tsvRaw",
                            "mergeTestAndTrainForPrediction": merge,
                            "onlyTestCoveredPredictions": False}},
            {"name": "GetPrediction"},
        ])
        return out.select("s", "p", "o").distinct().count()

    assert n_pred(True) >= n_pred(False)


@pytest.fixture(scope="module")
def numeric_tsv(tmp_path_factory):
    """40 <age> values 10..49, 40 <salary> values 100..4000, one <knows>."""
    p = tmp_path_factory.mktemp("num") / "nums.tsv"
    with open(p, "w", encoding="utf-8") as f:
        for i in range(40):
            f.write(f"<e{i}>\t<age>\t{10 + i}.\n")
        for i in range(40):
            f.write(f"<e{i}>\t<salary>\t{100 * (i + 1)}.\n")
        f.write("<e0>\t<knows>\t<e1>.\n")
    return str(p)


def test_split_task(spark, yago_triples):
    """Split (data/Split.scala): relative parts = deterministic hash
    buckets relabelled as graphs; absolute parts = exact sizes."""
    load = {"name": "LoadGraph",
            "parameters": {"path": YAGO, "settings": "tsvRaw"}}
    res = run_pipeline_json(spark, [
        load,
        {"name": "Split", "parameters": {
            "train": {"uri": "train", "part": {"ratio": 0.8}},
            "test": {"uri": "test", "part": {"ratio": 0.2}}}},
        {"name": "GetQuads"},
    ])
    by_g = {
        r["g"]: r["n"]
        for r in res.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = yago_triples.count()
    assert set(by_g) == {"train", "test"}
    assert sum(by_g.values()) == total  # 0.8 + 0.2 covers every bucket
    assert abs(by_g["train"] / total - 0.8) < 0.02  # hash-uniformity
    # absolute parts: exact sequential sizes off one deterministic shuffle
    res2 = run_pipeline_json(spark, [
        load,
        {"name": "Split", "parameters": {
            "train": {"uri": "train", "part": {"max": 100}},
            "test": {"uri": "test", "part": {"max": 50}}}},
        {"name": "GetQuads"},
    ])
    by_g2 = {
        r["g"]: r["n"]
        for r in res2.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_g2 == {"train": 100, "test": 50}


def test_split_index_predict_evaluate(spark):
    """The reference's canonical KGC flow: Split -> Index(train, test) ->
    Mine -> Predict (test graphs feed Evaluate without a testPath)."""
    res = run_pipeline_json(spark, [
        {"name": "LoadGraph",
         "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Split", "parameters": {
            "train": {"uri": "train", "part": {"ratio": 0.9}},
            "test": {"uri": "test", "part": {"ratio": 0.1}}}},
        {"name": "Index", "parameters": {"train": ["train"],
                                         "test": ["test"]}},
        {"name": "Mine", "parameters": {
            "thresholds": [{"name": "MinHeadCoverage", "value": 0.05},
                           {"name": "MaxRuleLength", "value": 2}],
            "constraints": [{"name": "WithoutDuplicitPredicates"},
                            {"name": "WithoutConstants"}],
        }},
        {"name": "Predict", "parameters": {}},
        {"name": "ToPredictionTasks", "parameters": {"limit": 10}},
        {"name": "Evaluate", "parameters": {"ranking": "test"}},
    ])
    row = res.collect()[0]
    assert row["n_tasks"] >= 1
    assert 0.0 <= row["mrr"] <= 1.0


def test_discretize_bulk_equals_per_predicate(spark, numeric_tsv):
    """DiscretizeInBulk == composing per-predicate Discretize tasks; the
    long reference task names (EquidistanceDiscretizationTask, ...) are
    accepted (CommonDataJsonReaders.scala:119-135)."""
    load = {"name": "LoadGraph",
            "parameters": {"path": numeric_tsv, "settings": "tsvRaw"}}
    bulk = run_pipeline_json(spark, [
        load,
        {"name": "DiscretizeInBulk", "parameters": {
            "predicates": [],
            "task": {"name": "EquidistanceDiscretizationTask", "bins": 2}}},
        {"name": "GetQuads"},
    ])
    per = run_pipeline_json(spark, [
        load,
        {"name": "Discretize", "parameters": {
            "task": {"name": "Equidistance", "bins": 2},
            "predicate": "<age>"}},
        {"name": "Discretize", "parameters": {
            "task": {"name": "Equidistance", "bins": 2},
            "predicate": "<salary>"}},
        {"name": "GetQuads"},
    ])
    assert _rows(bulk) == _rows(per)
    # every numeric object became an interval literal; <knows> untouched
    assert bulk.where(F.col("o").rlike(r"^\[")).count() >= 80
    assert bulk.where(F.col("p") == "<knows>").collect()[0]["o"] == "<e1>"


def test_mine_rejects_timeout(spark):
    """The miner has no time budget: a Timeout threshold fails loudly,
    naming the threshold, instead of being ignored."""
    with pytest.raises(PipelineError, match="Unsupported threshold: Timeout"):
        run_pipeline_json(spark, [
            {"name": "LoadGraph", "parameters": {"path": YAGO, "settings": "tsvRaw"}},
            {"name": "Index"},
            {"name": "Mine", "parameters": {
                "thresholds": [{"name": "Timeout", "value": 5}]}},
        ])


def test_discretize_bulk_bounds_predicate_collect(spark, tmp_path):
    """DiscretizeInBulk without ``predicates`` collects the distinct
    numeric predicates under a bound and fails loudly past it."""
    path = tmp_path / "wide.tsv"
    with open(path, "w", encoding="utf-8") as f:
        for i in range(4097):
            f.write(f"<e0>\t<p{i}>\t{i}.\n")
    with pytest.raises(PipelineError, match=">4096 distinct numeric"):
        run_pipeline_json(spark, [
            {"name": "LoadGraph",
             "parameters": {"path": str(path), "settings": "tsvRaw"}},
            {"name": "DiscretizeInBulk", "parameters": {
                "predicates": [],
                "task": {"name": "Equidistance", "bins": 2}}},
            {"name": "GetQuads"},
        ])


def test_export_then_load_index(spark, tmp_path, yago_triples):
    """ExportIndex -> LoadIndex round-trip (index/ExportIndex.scala,
    LoadIndex.scala): LoadIndex is a valid FIRST task."""
    path = str(tmp_path / "idx")
    res = run_pipeline_json(spark, [
        {"name": "LoadGraph",
         "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Index"},
        {"name": "ExportIndex", "parameters": {"path": path}},
    ])
    assert res.collect()[0]["path"] == path
    out = run_pipeline_json(spark, [
        {"name": "LoadIndex", "parameters": {"path": path,
                                             "partially": False}},
        {"name": "IndexToDataset"},
        {"name": "DatasetSize"},
    ])
    assert out.collect()[0]["size"] == yago_triples.count()


def test_load_ruleset_file_and_inline(spark, tmp_path):
    """ExportRules(ndjson) -> LoadRuleset / LoadRulesetWithoutIndex
    round-trip, plus inline rules (RulesetSource.Rules)."""
    path = str(tmp_path / "rules.ndjson")
    mine = [
        {"name": "LoadGraph",
         "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Index"},
        {"name": "Mine", "parameters": {
            "thresholds": [{"name": "MinHeadCoverage", "value": 0.05},
                           {"name": "MaxRuleLength", "value": 2}],
            "constraints": [{"name": "WithoutDuplicitPredicates"},
                            {"name": "WithoutConstants"}],
        }},
    ]
    direct = run_pipeline_json(spark, mine + [{"name": "GetRules"}])
    run_pipeline_json(
        spark,
        mine + [{"name": "ExportRules",
                 "parameters": {"path": path, "format": "ndjson"}}],
    )
    # LoadRuleset binds to Index (PipelineJsonReaders.scala:560)
    loaded = run_pipeline_json(spark, [
        {"name": "LoadGraph",
         "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Index"},
        {"name": "LoadRuleset", "parameters": {"path": path,
                                               "format": "ndjson"}},
        {"name": "GetRules"},
    ])
    cols = ["head", "atoms", "support"]
    assert _rows(loaded.select(*cols)) == _rows(direct.select(*cols))
    # LoadRulesetWithoutIndex is a valid FIRST task
    loaded2 = run_pipeline_json(spark, [
        {"name": "LoadRulesetWithoutIndex",
         "parameters": {"path": path, "format": "ndjson"}},
        {"name": "RulesetSize"},
    ])
    assert loaded2.collect()[0]["size"] == direct.count()


def test_to_dataset_with_intervals(spark, numeric_tsv):
    """Ruleset.toDatasetWithIntervals (Ruleset.scala:61-74): each source
    quad whose numeric object falls in a rule's interval constant gains an
    EXTRA quad under the rule's (discretized) predicate."""
    rule = {
        "head": {"subject": {"type": "variable", "value": "?a"},
                 "predicate": "<age>#discretized_level_1",
                 "object": {"type": "constant", "value": "[10.0;20.0)"}},
        "body": [{"subject": {"type": "variable", "value": "?a"},
                  "predicate": "<knows>",
                  "object": {"type": "variable", "value": "?b"}}],
        "measures": [],
    }
    out = run_pipeline_json(spark, [
        {"name": "LoadGraph",
         "parameters": {"path": numeric_tsv, "settings": "tsvRaw"}},
        {"name": "Index"},
        {"name": "LoadRuleset", "parameters": {"rules": [rule]}},
        {"name": "ToDatasetWithIntervals"},
        {"name": "GetQuads"},
    ])
    extra = out.where(F.col("p") == "<age>#discretized_level_1")
    # ages 10..19 fall inside [10;20) -> exactly 10 new quads
    assert extra.count() == 10
    assert {r["o"] for r in extra.collect()} == {"[10.0;20.0)"}
    assert out.count() == 81 + 10  # originals all kept


def test_prediction_tasks_filter_shrink_convert(spark, yago_triples,
                                                tmp_path):
    """FilterPredictionTasks / ShrinkPredictionTasks /
    PredictionTasksToPredictions / PredictionTasksToDataset +
    ExportPrediction -> LoadPredictionWithoutIndex round-trip."""
    test_df = yago_triples.where(
        (F.col("p") == "<dealsWith>")
        & (F.crc32(F.concat_ws("|", "s", "o")) % 10 == 0)
    )
    test_path = str(tmp_path / "test.tsv")
    with open(test_path, "w", encoding="utf-8") as f:
        for r in test_df.collect():
            f.write(f"{r['s']}\t{r['p']}\t{r['o']}.\n")
    base = [
        {"name": "LoadGraph",
         "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Index"},
        # duplicate predicates ALLOWED so the symmetric rule
        # dealsWith(a,b) <= dealsWith(b,a) survives and predicts test pairs
        {"name": "Mine", "parameters": {
            "thresholds": [{"name": "MinHeadCoverage", "value": 0.05},
                           {"name": "MaxRuleLength", "value": 2}],
            "constraints": [{"name": "WithoutConstants"}],
        }},
        {"name": "ComputeConfidence",
         "parameters": {"name": "StandardConfidence", "min": 0.1}},
        {"name": "Predict",
         "parameters": {"testPath": test_path, "settings": "tsvRaw"}},
        {"name": "ToPredictionTasks", "parameters": {"limit": 10}},
    ]
    tasks = run_pipeline_json(
        spark, base + [{"name": "GetPredictionTasks"}]
    )
    n_all = tasks.count()
    assert n_all > 0
    # predicate regex keeps only dealsWith tasks
    filtered = run_pipeline_json(spark, base + [
        {"name": "FilterPredictionTasks",
         "parameters": {"tripleMatchers": [{"predicate": "^<dealsWith>$"}]}},
        {"name": "GetPredictionTasks"},
    ])
    assert filtered.count() == tasks.where(
        F.col("p") == "<dealsWith>"
    ).count()
    assert {r["p"] for r in filtered.select("p").distinct().collect()} == {
        "<dealsWith>"
    }
    # shrink + convert back to predictions / dataset
    back = run_pipeline_json(spark, base + [
        {"name": "ShrinkPredictionTasks", "parameters": {"take": 5}},
        {"name": "PredictionTasksToPredictions"},
        {"name": "PredictionSize"},
    ])
    assert 0 < back.collect()[0]["size"] <= 5
    ds = run_pipeline_json(spark, base + [
        {"name": "PredictionTasksToDataset"},
        {"name": "DatasetSize"},
    ])
    assert ds.collect()[0]["size"] <= n_all
    # ExportPrediction -> LoadPredictionWithoutIndex round-trip
    pred_path = str(tmp_path / "preds.ndjson")
    run_pipeline_json(spark, base[:-1] + [
        {"name": "ExportPrediction", "parameters": {"path": pred_path}},
    ])
    loaded = run_pipeline_json(spark, [
        {"name": "LoadPredictionWithoutIndex",
         "parameters": {"path": pred_path, "format": "ndjson"}},
        {"name": "GetPrediction"},
    ])
    direct = run_pipeline_json(
        spark, base[:-1] + [{"name": "GetPrediction"}]
    )
    assert _rows(loaded.select("s", "p", "o", "result")) == _rows(
        direct.select("s", "p", "o", "result")
    )


def test_export_quads_nq_roundtrip_and_pruning(spark, tmp_path,
                                               yago_triples):
    """ExportQuads extension dispatch: .nq keeps graphs and round-trips
    through LoadDataset (DatasetSpec.scala:51-65 export semantics); and the
    lazy interpreter lets Catalyst prune the parquet scan down to the one
    column a terminal Histogram needs."""
    nq = str(tmp_path / "out.nq")
    # parsed mode (default): <...> stripped, so the NQ writer re-brackets
    res = run_pipeline_json(spark, [
        {"name": "LoadGraph",
         "parameters": {"path": YAGO, "graphName": "yago"}},
        {"name": "ExportQuads", "parameters": {"path": nq}},
    ])
    assert res.collect()[0]["path"] == nq
    back = run_pipeline_json(spark, [
        {"name": "LoadDataset", "parameters": {"path": nq}},
        {"name": "GetQuads"},
    ])
    assert back.count() == yago_triples.count()
    assert [r["g"] for r in back.select("g").distinct().collect()] == ["yago"]

    # column pruning: Histogram(predicate) over a parquet LoadDataset must
    # scan ONLY p (ReadSchema) — proves tasks compose lazily into one plan
    pq = str(tmp_path / "quads.parquet")
    run_pipeline_json(spark, [
        {"name": "LoadGraph",
         "parameters": {"path": YAGO, "settings": "tsvRaw",
                        "graphName": "yago"}},
        {"name": "ExportQuads", "parameters": {"path": pq}},
    ])
    hist = run_pipeline_json(spark, [
        {"name": "LoadDataset", "parameters": {"path": pq}},
        {"name": "Histogram", "parameters": {"predicate": True}},
    ])
    plan = hist._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<p:string>" in plan
    assert hist.count() == 33


def test_review_fixes(spark, tmp_path):
    """Regression pins for the round-2 review findings: boundary values
    land in exactly one interval, MapQuads conditions on the WHOLE search
    matcher, SortRuleset multi-key ordering survives Catalyst, measure
    vocabulary (BodySize/RuleLength), ExportRules txt round-trip."""
    # --- interval boundary: values 0..40, bins 4 -> boundaries 10/20/30.
    num = tmp_path / "b.tsv"
    with open(num, "w", encoding="utf-8") as f:
        for i in range(41):
            f.write(f"<e{i}>\t<v>\t{i}.\n")
    load = {"name": "LoadGraph",
            "parameters": {"path": str(num), "settings": "tsvRaw"}}
    out = run_pipeline_json(spark, [
        load,
        {"name": "Discretize", "parameters": {
            "task": {"name": "Equidistance", "bins": 4},
            "predicate": "<v>"}},
        {"name": "GetQuads"},
    ])
    # one quad per input row (no double-matched boundary), 4 intervals,
    # and the max value 40 lands in the LAST (closed) bin
    assert out.count() == 41
    assert out.select("o").distinct().count() == 4
    assert out.where(F.col("s") == "<e40>").collect()[0]["o"] == "[30.0;40.0)"
    # DiscretizeInBulk sees the same law
    out2 = run_pipeline_json(spark, [
        load,
        {"name": "DiscretizeInBulk", "parameters": {
            "predicates": ["<v>"],
            "task": {"name": "Equidistance", "bins": 4}}},
        {"name": "GetQuads"},
    ])
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, out2.collect())
    )

    # --- MapQuads: replacement applies ONLY to fully-matched quads
    mixed = tmp_path / "m.tsv"
    with open(mixed, "w", encoding="utf-8") as f:
        f.write("<a>\t<p>\t<x>.\n<a>\t<q>\t<y>.\n<b>\t<p>\t<z>.\n")
    res = run_pipeline_json(spark, [
        {"name": "LoadGraph",
         "parameters": {"path": str(mixed), "settings": "tsvRaw"}},
        {"name": "MapQuads", "parameters": {
            "search": {"subject": "^<a>$", "predicate": "^<p>$"},
            "replacement": {"subject": "<A>"}}},
        {"name": "GetQuads"},
    ])
    rows = {(r["s"], r["p"], r["o"]) for r in res.collect()}
    assert rows == {("<A>", "<p>", "<x>"), ("<a>", "<q>", "<y>"),
                    ("<b>", "<p>", "<z>")}

    # --- SortRuleset multi-key + RuleLength + BodySize filter + txt export
    mine = [
        {"name": "LoadGraph",
         "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Index"},
        {"name": "Mine", "parameters": {
            "thresholds": [{"name": "MinHeadCoverage", "value": 0.01}],
            "constraints": [{"name": "WithoutDuplicitPredicates"},
                            {"name": "WithoutConstants"}],
        }},
    ]
    res = run_pipeline_json(spark, mine + [
        {"name": "SortRuleset", "parameters": {"by": [
            {"measure": "RuleLength", "reversed": True},
            {"measure": "Support"},
        ]}},
        {"name": "GetRules"},
    ])
    rows = [(len(r["atoms"]) + 1, r["support"]) for r in res.collect()]
    # multi-key: length ascending, support DESCENDING within each length
    assert rows == sorted(rows, key=lambda t: (t[0], -t[1]))
    filt = run_pipeline_json(spark, mine + [
        {"name": "FilterRules", "parameters": {
            "measures": [{"name": "BodySize", "value": "> 0"}]}},
        {"name": "RulesetSize"},
    ])
    # body_size isn't mined -> null -> no rows pass a > filter (valid
    # vocabulary, no KeyError)
    assert filt.collect()[0]["size"] == 0
    # txt round-trip in PARSED mode: the Text syntax's <...> are
    # serialization brackets (Text.scala), so terms must be bare URIs
    mine_parsed = [
        {"name": "LoadGraph", "parameters": {"path": YAGO}},
    ] + mine[1:]
    txt = str(tmp_path / "rules.txt")
    run_pipeline_json(spark, mine_parsed + [
        {"name": "ExportRules", "parameters": {"path": txt,
                                               "format": "txt"}},
    ])
    direct = run_pipeline_json(spark, mine_parsed + [{"name": "GetRules"}])
    loaded = run_pipeline_json(spark, [
        {"name": "LoadRulesetWithoutIndex",
         "parameters": {"path": txt, "format": "txt"}},
        {"name": "GetRules"},
    ])
    assert _rows(loaded.select("head", "atoms", "support")) == _rows(
        direct.select("head", "atoms", "support")
    )
