"""JSON task pipeline — the reference's canonical batch entry point.

The reference product is driven by a JSON task list (`bin/main task.json
result.json`, http:Main.scala; README.md:27-35): a JSON array of
``{"name": <TaskName>, "parameters": {...}}`` parsed by
http:formats/PipelineJsonReaders.scala:463-599 into a typed ``Pipeline[T]``
whose tasks chain through states Dataset -> Index -> Ruleset ->
Prediction -> PredictionTasks (http:task/Pipeline.scala:11-50); an invalid
binding is rejected with "Invalid task 'X' can not be bound to Y".

This module is the Spark-native interpreter for that vocabulary: the SAME
task names and parameter spellings (the supported subset of each task's
parameters is documented per handler), the same typed chaining, and the
same terminal semantics (GetQuads/Histogram/GetRules/Evaluate/... produce
the pipeline result; a pipeline with no terminal task returns the current
state's canonical DataFrame, like ToJsonTask.From[T]).

Execution model difference (deliberate): the reference's Pipeline.execute
runs tasks strictly in sequence over materialized in-memory objects; here
each task contributes LAZY DataFrame transformations, so Catalyst
optimizes across task boundaries (filter pushdown through a Shrink into
the scan, column pruning across Index -> Mine) and nothing materializes
until the terminal result is consumed. Cache tasks are the explicit
materialization points, exactly like the reference's cache
short-circuiting (Pipeline.scala:40-46) — backed by checkpointing.py
(parquet + fingerprint manifest) or ``inMemory`` persist.

Scale: the interpreter itself is driver-side metadata only (a list of
task dicts); all data movement stays in the composed DataFrame plan.
"""

from __future__ import annotations

import json as _json
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdfrules_spark.mining.measures_constants import to_var_schema


# ---------------------------------------------------------------------------
# state


@dataclass
class PipelineState:
    """The typed pipeline state (Pipeline[T]'s T)."""

    kind: str  # 'start' | 'dataset' | 'index' | 'ruleset' | 'prediction'
    #        | 'prediction_tasks' | 'result'
    datasets: list = field(default_factory=list)  # [DataFrame(s,p,o,g)]
    quads: DataFrame | None = None        # indexed quads
    triples: DataFrame | None = None      # indexed distinct (s,p,o)
    rules: DataFrame | None = None        # canonical (head, atoms) rules
    predictions: DataFrame | None = None  # predict_triples output (scored?)
    tasks: DataFrame | None = None        # prediction_tasks output
    test: DataFrame | None = None         # test triples (Predict testPath)
    prefixes: dict = field(default_factory=dict)
    sort_cols: list = field(default_factory=list)  # [(col, desc)]
    pred_sorted: bool = False  # SortPrediction seen
    result: DataFrame | None = None


class PipelineError(ValueError):
    pass


def _invalid(name: str, kind: str):
    # the reference's error text shape (PipelineJsonReaders.scala:501)
    raise PipelineError(f"Invalid task '{name}' can not be bound to {kind}")


# ---------------------------------------------------------------------------
# helpers


#: the full measureKeyReader vocabulary (CommonDataJsonReaders.scala:266-279).
#: HeadSupport is the injective head size; this engine mines under ONE
#: mapping semantic per run, so it aliases head_size.
_MEASURE_COLS = {
    "HeadCoverage": "head_coverage",
    "Support": "support",
    "HeadSize": "head_size",
    "HeadSupport": "head_size",
    "BodySize": "body_size",
    "CwaConfidence": "cwa_confidence",
    "Confidence": "cwa_confidence",
    "PcaConfidence": "pca_confidence",
    "PcaBodySize": "pca_body_size",
    "QpcaConfidence": "qpca_confidence",
    "QpcaBodySize": "qpca_body_size",
    "Lift": "lift",
    "Cluster": "cluster",
}


def _union_datasets(state: PipelineState) -> DataFrame:
    out = state.datasets[0]
    for d in state.datasets[1:]:
        out = out.unionByName(d)
    return out


def _quad_matcher(params: dict):
    """QuadMatcher JSON ({subject/predicate/object/graph: regex-or-uri}) ->
    filters.QuadMatcher. String values are treated as the reference's
    TripleItemMatcher text form: a regex match on the term
    (QuadMatcher.scala / TripleItemMatcher.scala). 'inverse' is applied by
    the caller (FilterQuads negates the whole conjunction)."""
    from rdfrules_spark.operators.filters import Matcher, QuadMatcher

    cols = {"subject": "s", "predicate": "p", "object": "o", "graph": "g"}
    ms = [
        Matcher(col=c, rlike=str(params[k]))
        for k, c in cols.items()
        if params.get(k) is not None
    ]
    return QuadMatcher(matchers=ms)


def _atom_pattern(p: dict | None):
    from rdfrules_spark.mining.patterns import (
        ANY,
        ANY_CONSTANT,
        ANY_VARIABLE,
        AtomPattern,
    )

    if p is None:
        return None

    def item(v):
        if v is None:
            return None
        if isinstance(v, dict):
            name = v.get("name")
            if name == "Any":
                return ANY
            if name == "AnyVariable":
                return ANY_VARIABLE
            if name == "AnyConstant":
                return ANY_CONSTANT
            if name == "Variable":
                return "?" + str(v["value"]).lstrip("?")
            if name == "Constant":
                return "C=" + str(v["value"])
            raise PipelineError(f"Invalid atom item pattern: {name}")
        return str(v)

    pred = p.get("predicate")
    pred_none = None
    if isinstance(pred, dict):
        if pred.get("name") == "OneOf":
            pred = [str(x) for x in pred["value"]]
        elif pred.get("name") == "NoneOf":
            pred_none = [str(x) for x in pred["value"]]
            pred = None
        elif pred.get("name") == "Constant":
            pred = str(pred["value"])
        else:
            raise PipelineError("Invalid predicate pattern")
    graph = p.get("graph")
    graph_none = None
    if isinstance(graph, dict):
        if graph.get("name") == "NoneOf":
            graph_none = [str(x) for x in graph["value"]]
            graph = None
        elif graph.get("name") in ("Constant", "OneOf"):
            v = graph["value"]
            graph = [str(x) for x in v] if isinstance(v, list) else str(v)
        else:
            raise PipelineError("Invalid graph pattern")
    return AtomPattern(
        predicate=pred,
        predicate_none_of=pred_none,
        subject=item(p.get("subject")),
        object=item(p.get("object")),
        graph=graph,
        graph_none_of=graph_none,
    )


def _measure_filter(rules: DataFrame, name: str, value: str) -> DataFrame:
    """FilterRules measures entry: value is the reference's text condition
    form — '> x', '>= x', '< x', '<= x', '= x', or an interval
    '[a;b]' / '(a;b)' (TripleItemMatcher.Number)."""
    if name == "RuleLength":
        col = F.size(F.col("atoms")) + 1
    else:
        if name not in _MEASURE_COLS:
            raise PipelineError(f"Invalid measure name: {name}")
        c = _MEASURE_COLS[name]
        # a measure not (yet) computed on this ruleset matches nothing —
        # the reference's TypedKeyMap lookup returns None the same way
        col = (
            F.col(c) if c in rules.columns
            else F.lit(None).cast("double")
        )
    v = value.strip()
    for op, fn in ((">=", col.__ge__), ("<=", col.__le__), (">", col.__gt__),
                   ("<", col.__lt__), ("=", col.__eq__)):
        if v.startswith(op):
            return rules.where(fn(F.lit(float(v[len(op):].strip()))))
    if v[0] in "[(" and v[-1] in ")]":
        lo, hi = (x.strip() for x in v[1:-1].split(";"))
        lo_c = col >= float(lo) if v[0] == "[" else col > float(lo)
        hi_c = col <= float(hi) if v[-1] == "]" else col < float(hi)
        return rules.where(lo_c & hi_c)
    return rules.where(col == F.lit(float(v)))


# ---------------------------------------------------------------------------
# task handlers, grouped by bound state exactly like PipelineJsonReaders


def _load(spark: SparkSession, state: PipelineState, name, params):
    """LoadGraph/LoadDataset {path, graphName?, settings?}; settings is the
    reference's string form (sourceSettingsReader,
    CommonDataJsonReaders.scala:487-498): 'tsvRaw' keeps <...> terms
    verbatim, 'tsvParsedUris' (default) strips angle brackets."""
    from rdfrules_spark.sources.rdf import read_rdf

    path = params["path"]
    kw = {}
    if params.get("settings") == "tsvRaw":
        kw["parse_uris"] = False
    df = read_rdf(spark, path, **kw)
    if "g" not in df.columns:
        g = params.get("graphName") or path.rsplit("/", 1)[-1]
        df = df.withColumn("g", F.lit(str(g)))
    elif params.get("graphName"):
        df = df.withColumn("g", F.lit(str(params["graphName"])))
    return replace(
        state, kind="dataset", datasets=state.datasets + [df.select("s", "p", "o", "g")]
    )


def _dataset_task(spark, state: PipelineState, name: str, params: dict):
    from rdfrules_spark.operators import shrink as shrink_ops
    from rdfrules_spark.operators.histogram import histogram, properties

    quads = _union_datasets(state)

    def one(df):  # replace the dataset stack with one transformed dataset
        return replace(state, datasets=[df])

    if name in ("LoadGraph", "LoadDataset"):
        return _load(spark, state, name, params)
    if name == "MergeDatasets":
        return one(quads)
    if name == "AddPrefixes":
        from rdfrules_spark.sources.prefixes import read_prefix_file

        px = dict(state.prefixes)
        if params.get("path"):
            px.update(read_prefix_file(params["path"]))
        for e in params.get("prefixes", []):
            px[e["prefix"]] = e["nameSpace"]
        return replace(state, prefixes=px)
    if name == "Prefixes":
        rows = sorted(state.prefixes.items())
        res = spark.createDataFrame(
            rows or [("", "")], "prefix string, nameSpace string"
        ).where(F.col("prefix") != "")
        return replace(state, kind="result", result=res)
    if name == "FilterQuads":
        conds = []
        for m in params.get("or", []):
            c = _quad_matcher(
                {k: v for k, v in m.items() if k != "inverse"}
            ).to_column()
            conds.append((~c) if m.get("inverse") else c)
        cond = conds[0] if conds else F.lit(True)
        for c in conds[1:]:
            cond = cond | c
        return one(quads.where(cond))
    if name == "MapQuads":
        # data/MapQuads: rewrite ONLY quads matched by the WHOLE search
        # QuadMatcher (search.inverse negates it); each replacement position
        # is a regexp replacement with $N capture refs against that
        # position's search regex, or a literal when the position has no
        # search regex (QuadMapper.scala:12-45; cross-position $sN refs are
        # not supported). The match is frozen in a column first so earlier
        # rewrites cannot change what later positions see.
        search, repl = params["search"], params["replacement"]
        cols = {"subject": "s", "predicate": "p", "object": "o", "graph": "g"}
        cond = _quad_matcher(
            {k: v for k, v in search.items() if k != "inverse"}
        ).to_column()
        if search.get("inverse"):
            cond = ~cond
        df = quads.withColumn("_m", cond)
        for k, col in cols.items():
            if k not in repl:
                continue
            if search.get(k) is not None:
                newv = F.regexp_replace(
                    F.col(col), str(search[k]), str(repl[k])
                )
            else:
                newv = F.lit(str(repl[k]))
            df = df.withColumn(
                col, F.when(F.col("_m"), newv).otherwise(F.col(col))
            )
        return one(df.drop("_m"))
    if name == "ShrinkQuads":
        order = ["s", "p", "o", "g"]
        if "take" in params:
            return one(shrink_ops.take(quads, int(params["take"]), *order))
        if "drop" in params:
            return one(shrink_ops.drop_rows(quads, int(params["drop"]), *order))
        # ShrinkSetup puts start/end at the top level
        # (CommonDataJsonReaders.scala:369-374); `subset` also accepted
        sub = params.get("subset", params)
        return one(
            shrink_ops.slice_rows(
                quads, int(sub["start"]), int(sub["end"]), *order
            )
        )
    if name == "DatasetSize":
        res = quads.groupBy().agg(F.count(F.lit(1)).alias("size"))
        return replace(state, kind="result", result=res)
    if name == "Histogram":
        cols = [
            c
            for key, c in (("subject", "s"), ("predicate", "p"), ("object", "o"))
            if params.get(key)
        ]
        return replace(state, kind="result", result=histogram(quads, *cols))
    if name == "Properties":
        return replace(state, kind="result", result=properties(quads))
    if name == "Discretize":
        return one(_discretize(quads, params))
    if name == "DiscretizeInBulk":
        return one(_discretize_in_bulk(quads, params))
    if name == "Split":
        return one(_split(quads, params))
    if name == "CacheDataset":
        return one(_cache(quads, params))
    if name == "ExportQuads":
        # extension dispatch: .nq keeps graphs, .nt/.tsv drop them,
        # .parquet is the native cache (data/ExportQuads.scala)
        from rdfrules_spark.sources.rdf import write_rdf

        write_rdf(quads, params["path"])
        res = spark.createDataFrame([(params["path"],)], "path string")
        return replace(state, kind="result", result=res)
    if name == "GetQuads":
        return replace(state, kind="result", result=quads)
    if name == "Index":
        # {train, test}: graph-membership split (data/Index.scala:11-22 ->
        # Dataset.index(train, test) / TrainTestIndex) — rule bodies bind
        # against the train graphs only, Evaluate sees the test graphs
        train = [str(x) for x in params.get("train", [])]
        test = [str(x) for x in params.get("test", [])]
        if train and test:
            tr = quads.where(F.col("g").isin(train))
            te = quads.where(F.col("g").isin(test))
            return replace(
                state,
                kind="index",
                quads=tr,
                triples=tr.select("s", "p", "o").distinct(),
                test=te.select("s", "p", "o").distinct(),
            )
        return replace(
            state,
            kind="index",
            quads=quads,
            triples=quads.select("s", "p", "o").distinct(),
        )
    _invalid(name, "Dataset")


#: the reference's DiscretizationTask JSON names
#: (CommonDataJsonReaders.scala:119-135) plus the short aliases
_DISCRETIZATION_TASKS = {
    "Equidistance": "Equidistance",
    "EquidistanceDiscretizationTask": "Equidistance",
    "Equifrequency": "Equifrequency",
    "EquifrequencyDiscretizationTask": "Equifrequency",
    "Equisize": "Equisize",
    "EquisizeDiscretizationTask": "Equisize",
}


def _intervals_for(nums: DataFrame, task: dict) -> DataFrame:
    from rdfrules_spark.operators.discretize import (
        equidistance_intervals,
        equifrequency_intervals,
        equisize_intervals,
    )

    tname = _DISCRETIZATION_TASKS.get(task["name"])
    if tname == "Equidistance":
        return equidistance_intervals(nums, "v", int(task["bins"]))
    if tname == "Equifrequency":
        return equifrequency_intervals(nums, "v", int(task["bins"]))
    if tname == "Equisize":
        return equisize_intervals(nums, "v", float(task["support"]))
    raise PipelineError(f"Invalid discretization task name: {task['name']}")


def _discretize(quads: DataFrame, params: dict) -> DataFrame:
    """Discretize {task: {name, bins|support}, <QuadMatcher fields>,
    inverse?}: rewrite matching numeric objects to interval literals
    (data/Discretize.scala:9-13; the params object doubles as the
    QuadMatcher, PipelineJsonReaders.scala:119-126). A bare ``predicate``
    key keeps exact-URI matching; any other matcher field switches to the
    reference's regex TripleItemMatcher semantics."""
    from rdfrules_spark.operators.discretize import interval_literal

    task = params["task"]
    if any(params.get(k) is not None for k in ("subject", "object", "graph")):
        cond = _quad_matcher(params).to_column()
    else:
        pred = params.get("predicate")
        cond = (F.col("p") == pred) if pred else F.lit(True)
    if params.get("inverse"):
        cond = ~cond
    nums = quads.where(cond).select(
        F.col("o").try_cast("double").alias("v")
    ).where(F.col("v").isNotNull())
    iv = _intervals_for(nums, task).select("lo", "hi")
    # half-open [lo;hi) matching with a CLOSED last bin, so a value on a
    # shared bin boundary lands in exactly ONE interval (same law as
    # discretize_equidistance's floor-bin + least(k-1))
    b = F.broadcast(iv.crossJoin(iv.agg(F.max("hi").alias("_mx"))))
    v = F.col("o").try_cast("double")
    in_bin = (v >= F.col("lo")) & (
        (v < F.col("hi"))
        | ((F.col("hi") == F.col("_mx")) & (v <= F.col("hi")))
    )
    joined = quads.join(b, cond & v.isNotNull() & in_bin, "left")
    return joined.select(
        "s", "p",
        F.when(
            F.col("lo").isNotNull(), interval_literal(F.col("lo"), F.col("hi"))
        ).otherwise(F.col("o")).alias("o"),
        "g",
    ).dropDuplicates(["s", "p", "o", "g"])


#: bound on the distinct numeric predicates DiscretizeInBulk collects when
#: no ``predicates`` are given (the writers' predicate bound)
_MAX_BULK_PREDICATES = 4096


def _discretize_in_bulk(quads: DataFrame, params: dict) -> DataFrame:
    """DiscretizeInBulk {predicates, task}: per-predicate intervals of the
    same task, applied in ONE broadcast range-join rewrite
    (data/DiscretizeInBulk.scala:15-28 folds over the predicates the same
    driver-side way; the interval tables are tiny). Empty ``predicates`` =
    every predicate with at least one numeric object; more than
    ``_MAX_BULK_PREDICATES`` of them raise rather than collect unbounded
    rows to the driver."""
    from rdfrules_spark.operators.discretize import interval_literal

    preds = [str(x) for x in params.get("predicates", [])]
    if not preds:
        rows = (
            quads.where(F.col("o").try_cast("double").isNotNull())
            .select("p").distinct().limit(_MAX_BULK_PREDICATES + 1).collect()
        )
        if len(rows) > _MAX_BULK_PREDICATES:
            raise PipelineError(
                f"DiscretizeInBulk: >{_MAX_BULK_PREDICATES} distinct numeric "
                "predicates; pass explicit predicates"
            )
        preds = sorted(r["p"] for r in rows)
    spark = quads.sparkSession
    per = []
    for p in preds:
        nums = quads.where(F.col("p") == p).select(
            F.col("o").try_cast("double").alias("v")
        ).where(F.col("v").isNotNull())
        per.append(_intervals_for(nums, params["task"])
                   .select(F.lit(p).alias("ip"), "lo", "hi"))
    if not per:
        return quads
    iv = per[0]
    for d in per[1:]:
        iv = iv.unionByName(d)
    # closed last bin PER PREDICATE (see _discretize)
    iv = iv.join(iv.groupBy("ip").agg(F.max("hi").alias("_mx")), "ip")
    v = F.col("o").try_cast("double")
    in_bin = (v >= F.col("lo")) & (
        (v < F.col("hi"))
        | ((F.col("hi") == F.col("_mx")) & (v <= F.col("hi")))
    )
    joined = quads.join(
        F.broadcast(iv),
        (F.col("p") == F.col("ip")) & v.isNotNull() & in_bin,
        "left",
    )
    return joined.select(
        "s", "p",
        F.when(
            F.col("lo").isNotNull(), interval_literal(F.col("lo"), F.col("hi"))
        ).otherwise(F.col("o")).alias("o"),
        "g",
    ).dropDuplicates(["s", "p", "o", "g"])


def _split(quads: DataFrame, params: dict) -> DataFrame:
    """Split {train: {uri, part}, test: {uri, part}} with part =
    {ratio} | {max} (data/Split.scala:10-17; Sampleable.shuffle(train,
    test) takes two SEQUENTIAL parts of one deterministic shuffle, then
    re-labels them as graphs train.uri / test.uri).

    Scale: two relative parts are pure hash-bucket filters (no sort, no
    count). An absolute part needs the deterministic shuffle ORDER, so it
    routes through the scale-safe two-pass slice of operators/shrink."""
    from rdfrules_spark.functions.hashing import h60
    from rdfrules_spark.operators import shrink as shrink_ops

    train, test = params["train"], params["test"]
    t_part, e_part = train["part"], test["part"]
    if "ratio" in t_part and "ratio" in e_part:
        r1, r2 = float(t_part["ratio"]), float(e_part["ratio"])
        u = h60(F.concat_ws("|", "s", "p", "o", "g", F.lit("split"))) % 1_000_000
        tr = quads.where(u < int(r1 * 1_000_000))
        te = quads.where(
            (u >= int(r1 * 1_000_000)) & (u < int((r1 + r2) * 1_000_000))
        )
    else:
        total = None
        sizes = []
        for part in (t_part, e_part):
            if "max" in part:
                sizes.append(int(part["max"]))
            else:
                total = quads.count() if total is None else total
                sizes.append(int(float(part["ratio"]) * total))
        order = [
            h60(F.concat_ws("|", "s", "p", "o", "g", F.lit("split"))),
            "s", "p", "o", "g",
        ]
        tr = shrink_ops.take(quads, sizes[0], *order)
        te = shrink_ops.slice_rows(quads, sizes[0], sizes[0] + sizes[1], *order)
    tr = tr.withColumn("g", F.lit(str(train["uri"])))
    te = te.withColumn("g", F.lit(str(test["uri"])))
    return tr.unionByName(te)


def _cache(df: DataFrame, params: dict) -> DataFrame:
    if params.get("inMemory", not params.get("path")):
        return df.persist()
    from rdfrules_spark.checkpointing import write_stage

    return write_stage(df, params["path"], "cache", {"task": "cache"})


def _load_ruleset(spark: SparkSession, params: dict) -> DataFrame:
    """LoadRuleset / LoadRulesetWithoutIndex {path, format} | {rules}
    (ruleset/LoadRuleset.scala:25-43; format names
    CommonDataJsonReaders.scala:361-367). ``rules`` is an inline array of
    resolved-rule objects (RulesetSource.Rules)."""
    from rdfrules_spark import ruleset_io

    if params.get("rules") is not None:
        return ruleset_io.rules_from_objs(spark, params["rules"])
    path = params["path"]
    fmt = params.get("format") or path.rsplit(".", 1)[-1]
    if fmt in ("txt", "text"):
        return ruleset_io.import_text(spark, path)
    if fmt == "json":
        return ruleset_io.import_reference_json(spark, path)
    if fmt == "ndjson":
        return ruleset_io.import_resolved_ndjson(spark, path)
    if fmt == "cache":
        import os

        return spark.read.parquet(os.path.join(path, "cache", "data"))
    raise PipelineError(f"Invalid ruleset format name: {fmt}")


def _load_prediction(spark: SparkSession, params: dict) -> DataFrame:
    """LoadPrediction / LoadPredictionWithoutIndex {path, format}
    (prediction/LoadPrediction.scala; PredictionSource reader
    CommonDataJsonReaders.scala:354-359). The json form is a single JSON
    array (inherently one document — parsed driver-side like the
    reference); ndjson streams distributed."""
    from rdfrules_spark.ruleset_io import (
        PREDICTION_SCHEMA,
        import_predictions_ndjson,
    )

    path = params["path"]
    fmt = params.get("format") or path.rsplit(".", 1)[-1]
    if fmt == "ndjson":
        return import_predictions_ndjson(spark, path)
    if fmt == "json":
        with open(path, encoding="utf-8") as f:
            objs = _json.load(f)
        rows = [
            tuple(o.get(f.name) for f in PREDICTION_SCHEMA.fields)
            for o in objs
        ]
        return spark.createDataFrame(rows, PREDICTION_SCHEMA)
    if fmt == "cache":
        import os

        return spark.read.parquet(os.path.join(path, "cache", "data"))
    raise PipelineError(f"Invalid prediction format name: {fmt}")


def _load_index(spark: SparkSession, state: PipelineState, params: dict):
    """LoadIndex {path} (index/LoadIndex.scala): read back an ExportIndex /
    CacheIndex parquet stage. ``partially`` is a JVM-memory knob in the
    reference — parquet scans are lazy by construction, so it is accepted
    and ignored."""
    import os

    base = params["path"]
    for stage in ("index", "cache"):
        data = os.path.join(base, stage, "data")
        if os.path.exists(data):
            df = spark.read.parquet(data)
            break
    else:
        df = spark.read.parquet(base)
    if "g" not in df.columns:
        df = df.withColumn("g", F.lit(os.path.basename(base)))
    return replace(
        state,
        kind="index",
        quads=df.select("s", "p", "o", "g"),
        triples=df.select("s", "p", "o").distinct(),
    )


def _index_task(spark, state: PipelineState, name: str, params: dict):
    if name == "Mine":
        return _mine(spark, state, params)
    if name == "PropertiesCardinalities":
        from rdfrules_spark.dictionary import predicate_stats

        res = predicate_stats(state.triples)
        if params.get("filter"):
            res = res.where(F.col("p").isin([str(x) for x in params["filter"]]))
        return replace(state, kind="result", result=res)
    if name == "IndexToDataset":
        return replace(
            state, kind="dataset", datasets=[state.quads], quads=None,
            triples=None,
        )
    if name == "CacheIndex":
        return replace(state, triples=_cache(state.triples, params))
    if name == "ExportIndex":
        from rdfrules_spark.checkpointing import write_stage

        write_stage(state.quads, params["path"], "index", {"task": "ExportIndex"})
        res = spark.createDataFrame([(params["path"],)], "path string")
        return replace(state, kind="result", result=res)
    if name == "LoadRuleset":
        return replace(state, kind="ruleset", rules=_load_ruleset(spark, params))
    if name == "LoadPrediction":
        return replace(
            state, kind="prediction",
            predictions=_load_prediction(spark, params),
        )
    if name == "AutoDiscretization":
        # Task[Index, Dataset] (index/Discretize.scala:10-13): the result is
        # the original DATASET plus the new '<p>#discretized_level_L'
        # interval quads (DiscretizationOps.scala:18-48). New quads inherit
        # the source quad's graph (discretizedTreeQuads iterates
        # getGraphs(s,p,o)); auto_discretize works on bare triples, so the
        # graph is recovered by a join on (s, original p) — identical unless
        # one (s,p) holds different numeric objects in different graphs.
        from rdfrules_spark.operators.autodiscretize import (
            LEVEL_SUFFIX,
            AutoDiscretizationTask,
            auto_discretize,
        )

        task = AutoDiscretizationTask(
            min_head_size=int(params.get("minHeadSize", 100)),
            min_head_coverage=float(params.get("minHeadCoverage", 0.01)),
            max_rule_length=int(params.get("maxRuleLength", 3)),
            min_support_lower_bound_on=bool(
                params.get("minSupportLowerBoundOn", True)
            ),
            min_support_upper_bound_on=bool(
                params.get("minSupportUpperBoundOn", True)
            ),
            predicates=[str(x) for x in params["predicates"]]
            if params.get("predicates")
            else None,
        )
        new = auto_discretize(state.triples, task)
        src_graphs = state.quads.select("s", "p", "g").distinct()
        new_q = new.withColumn(
            "_orig", F.regexp_replace("p", LEVEL_SUFFIX + r"\d+$", "")
        ).join(
            src_graphs.withColumnRenamed("p", "_orig"), ["s", "_orig"]
        ).select("s", "p", "o", "g")
        return replace(
            state,
            kind="dataset",
            datasets=[state.quads.unionByName(new_q)],
            quads=None,
            triples=None,
        )
    _invalid(name, "Index")


def _mine(spark, state: PipelineState, params: dict):
    """Mine: thresholds + constraints + patterns + ruleConsumers
    (index/Mine.scala; RulesMining reader
    CommonDataJsonReaders.scala:223-241). The HTTP layer's Mine task always
    mines with injective mapping (http:task/index/Mine.scala:15)."""
    from rdfrules_spark.mining.amie import MiningParams
    from rdfrules_spark.mining.constants import mine_constants
    from rdfrules_spark.mining.patterns import filter_rules

    kw: dict[str, Any] = {}
    constants = "nowhere"
    cfp = None
    for t in params.get("thresholds", []):
        n, v = t["name"], t["value"]
        if n == "MinHeadSize":
            kw["min_head_size"] = int(v)
        elif n == "MinHeadCoverage":
            kw["min_head_coverage"] = float(v)
        elif n == "MinSupport":
            kw["min_support"] = int(v)
        elif n == "MaxRuleLength":
            kw["max_rule_length"] = int(v)
        elif n == "Timeout":
            # the constants miner runs to completion; a time budget it
            # cannot honour must not be dropped silently
            raise PipelineError(
                f"Unsupported threshold: Timeout ({v} min); mining here "
                "has no time budget"
            )
        else:
            raise PipelineError(f"Invalid threshold: {n}")
    for c in params.get("constraints", []):
        n = c["name"]
        if n == "WithoutConstants":
            constants = "nowhere"
        elif n == "OnlyObjectConstants":
            constants = "object"
        elif n == "OnlySubjectConstants":
            constants = "subject"
        elif n == "OnlyLowerCardinalitySideConstants":
            constants = "lcs"
        elif n == "WithConstants":
            constants = "anywhere"
        elif n == "WithoutDuplicitPredicates":
            kw["with_duplicate_predicates"] = False
        elif n == "OnlyPredicates":
            kw["only_predicates"] = {str(x) for x in c["values"]}
        elif n == "WithoutPredicates":
            kw["without_predicates"] = {str(x) for x in c["values"]}
        elif n == "ConstantsForPredicates":
            pos_map = {
                "Subject": "subject", "Object": "object",
                "LowerCardinalitySide": "lcs", "Both": "both",
            }
            # reference entry keys are SINGULAR {predicate, position};
            # entries missing either are silently skipped (toOpt.zip,
            # CommonDataJsonReaders.scala:208-211). A legacy {predicates:
            # [...]} list is also accepted.
            cfp = {}
            for e in c["values"]:
                pos = e.get("position")
                preds = e.get("predicates") or (
                    [e["predicate"]] if e.get("predicate") else []
                )
                if pos is None or not preds:
                    continue
                for p in preds:
                    cfp[str(p)] = pos_map[str(pos)]
        else:
            raise PipelineError(f"Invalid constraint: {n}")
    # the HTTP Mine task auto-adds InjectiveMapping
    # (http:task/index/Mine.scala:15) — the product default
    kw.setdefault("injective", True)
    rules = mine_constants(
        state.triples,
        MiningParams(**kw),
        constants=constants,
        constants_for_predicates=cfp,
    )
    for p in params.get("patterns", []):
        from rdfrules_spark.mining.multigraph import predicate_graphs

        pg = None
        body = [_atom_pattern(x) for x in p.get("body", [])]
        head = _atom_pattern(p.get("head"))
        if any(
            x is not None and (x.graph or x.graph_none_of)
            for x in [head, *body]
        ):
            pg = {
                r["p"]: list(r["graphs"])
                for r in predicate_graphs(state.quads).collect()
            }
        rules = filter_rules(
            rules, body=body or None, head=head,
            exact=bool(p.get("exact")), orderless=bool(p.get("orderless")),
            predicate_graphs=pg,
        )
    for consumer in params.get("ruleConsumers", []):
        if consumer.get("name") == "topK":
            from pyspark.sql import Window

            k = int(consumer["k"])
            w = Window.orderBy(F.desc("head_coverage"))
            fn = F.rank() if consumer.get("allowOverflow") else F.row_number()
            rules = (
                rules.withColumn("_rk", fn.over(w))
                .where(F.col("_rk") <= k)
                .drop("_rk")
            )
        elif consumer.get("name") not in ("inMemory", None):
            raise PipelineError(
                f"Invalid rule consumer: {consumer.get('name')}"
            )
    return replace(state, kind="ruleset", rules=rules)


def _ruleset_task(spark, state: PipelineState, name: str, params: dict):
    rules = state.rules
    if name == "ComputeConfidence":
        return replace(state, rules=_confidence(state, params))
    if name == "ComputeSupport":
        from rdfrules_spark.mining.measures import recount_support

        # recount on the var-key bridge, then join the refreshed measures
        # back so state.rules KEEPS the canonical (head, atoms) schema
        # (same pattern as the Lift branch of _confidence)
        base = to_var_schema(rules, keep_atoms=True)
        re = recount_support(base, state.triples).select(
            "head", "atoms", "support", "head_size", "head_coverage"
        )
        new_rules = rules.drop("support", "head_size", "head_coverage").join(
            re, ["head", "atoms"]
        )
        return replace(state, rules=new_rules)
    if name == "FilterRules":
        from rdfrules_spark.mining.patterns import filter_rules

        for m in params.get("measures", []):
            rules = _measure_filter(rules, m["name"], str(m["value"]))
        for p in params.get("patterns", []):
            rules = filter_rules(
                rules,
                body=[_atom_pattern(x) for x in p.get("body", [])] or None,
                head=_atom_pattern(p.get("head")),
                exact=bool(p.get("exact")),
                orderless=bool(p.get("orderless")),
            )
        return replace(state, rules=rules)
    if name == "SortRuleset":
        by = params.get("by", [])
        if by:
            # keep the MEASURE NAME (incl. RuleLength); resolved lazily by
            # _rule_order so derived measures sort too
            cols = [(m["measure"], bool(m.get("reversed"))) for m in by]
        else:
            # default measure ordering (Measure.scala:144-154)
            cols = [
                (c, False)
                for c in ("cwa_confidence", "pca_confidence", "head_coverage",
                          "support")
                if c in rules.columns
            ]
        return replace(state, sort_cols=cols)
    if name == "ShrinkRuleset":
        from rdfrules_spark.operators import shrink as shrink_ops

        order = _rule_order(state, rules) or ["head", "atoms"]
        if "take" in params:
            return replace(
                state, rules=shrink_ops.take(rules, int(params["take"]), *order)
            )
        if "drop" in params:
            return replace(
                state,
                rules=shrink_ops.drop_rows(rules, int(params["drop"]), *order),
            )
        sub = params.get("subset", params)
        return replace(
            state,
            rules=shrink_ops.slice_rows(
                rules, int(sub["start"]), int(sub["end"]), *order
            ),
        )
    if name == "CacheRuleset":
        return replace(state, rules=_cache(rules, params))
    if name == "GetRules":
        order = _rule_order(state, rules)
        # ONE orderBy with every key: chained orderBy calls collapse
        # (Catalyst EliminateSorts keeps only the outermost global sort),
        # which would drop all tie-breaking keys
        out = rules.orderBy(*order) if order else rules
        return replace(state, kind="result", result=out)
    if name == "RulesetSize":
        res = rules.groupBy().agg(F.count(F.lit(1)).alias("size"))
        return replace(state, kind="result", result=res)
    if name == "ExportRules":
        return replace(
            state, kind="result", result=_export_rules(spark, rules, params)
        )
    if name == "MakeClusters":
        from rdfrules_spark.ruleset import dbscan_clusters_resolved

        c = params.get("clustering", {})
        return replace(
            state,
            rules=dbscan_clusters_resolved(
                rules,
                min_similarity=float(c.get("minSimilarity", 0.9)),
                min_neighbours=int(c.get("minNeighbours", 5)),
            ),
        )
    if name == "FindSimilar":
        from rdfrules_spark.ruleset import find_similar_resolved

        r = params["rule"]
        return replace(
            state,
            rules=find_similar_resolved(
                rules, r["head"], list(r["atoms"]), k=int(params["take"]),
                dissimilar=bool(params.get("dissimilar")),
            ),
        )
    if name == "GraphAwareRules":
        from rdfrules_spark.mining.multigraph import graph_aware_atoms

        return replace(state, rules=graph_aware_atoms(rules, state.quads))
    if name == "Instantiate":
        from rdfrules_spark.ruleset import instantiate_rules

        res = instantiate_rules(to_var_schema(rules), state.triples)
        return replace(state, kind="result", result=res)
    if name == "ToDatasetWithIntervals":
        return replace(
            state,
            kind="dataset",
            datasets=[_dataset_with_intervals(state)],
            quads=None,
            triples=None,
            rules=None,
        )
    if name == "Predict":
        return _predict(spark, state, params)
    if name == "Prune":
        # parameters ARE the strategy object: {"strategy": <name>, ...}
        # (pruningStrategyReader, CommonDataJsonReaders.scala:376-386)
        strat = params.get("strategy", "DataCoveragePruning")
        if strat == "WithoutQuasiBinding":
            from rdfrules_spark.mining.constants import without_quasi_binding

            return replace(
                state, rules=without_quasi_binding(rules, state.triples)
            )
        if strat != "DataCoveragePruning":
            raise PipelineError(f"Invalid name of pruning strategy: {strat}")
        from rdfrules_spark.prediction import predict_triples
        from rdfrules_spark.ruleset import cba_prune
        var_rules = to_var_schema(rules, keep_atoms=True)
        conf = (
            "cwa_confidence"
            if "cwa_confidence" in var_rules.columns
            else "head_coverage"
        )
        preds = predict_triples(var_rules, state.triples, conf_col=conf)
        kept = cba_prune(preds, var_rules.drop("head", "atoms"))
        # null-safe semi-join back (r/d2 are null for l2 rules)
        from rdfrules_spark.mining.measures import _combo_join

        keys = ["p", "shape", "q", "d1", "r", "d2"]
        back = _combo_join(
            var_rules.select("head", "atoms", *keys),
            kept.select(*keys), keys, "left_semi",
        )
        return replace(
            state,
            rules=rules.join(back.select("head", "atoms"),
                             ["head", "atoms"], "left_semi"),
        )
    _invalid(name, "Ruleset")


def _dataset_with_intervals(state: PipelineState) -> DataFrame:
    """Ruleset.toDatasetWithIntervals (Ruleset.scala:61-74): collect every
    (predicate, interval-object) pair from rule atoms (head + body), key it
    by the predicate with any '#discretized_level_N' suffix stripped
    (DiscretizedPredicate, DiscretizationOps.scala:53-70), and for each
    source quad whose numeric object falls inside an interval emit an EXTRA
    quad (rule's predicate, interval literal) NEXT TO the original quad.

    Scale: the interval table comes from rules (tiny) and broadcasts; the
    dataset streams through one range join."""
    a = F.col("a")
    p_ = F.split(a, r"\|")[1]
    o_ = F.split(a, r"\|")[2]
    iv_re = r"^C=([\[\(])(-?[0-9.eE+]+);(-?[0-9.eE+]+)([\)\]])$"
    iv = (
        state.rules.select(
            F.explode(F.concat(F.array("head"), "atoms")).alias("a")
        )
        .select(
            p_.alias("ip"),
            F.regexp_replace(p_, r"#discretized_level_\d+$", "").alias("_orig"),
            F.regexp_extract(o_, iv_re, 1).alias("lob"),
            F.regexp_extract(o_, iv_re, 2).try_cast("double").alias("lo"),
            F.regexp_extract(o_, iv_re, 3).try_cast("double").alias("hi"),
            F.regexp_extract(o_, iv_re, 4).alias("hib"),
            F.substring(o_, 3, 1 << 20).alias("olit"),
        )
        .where(F.col("lo").isNotNull() & (F.col("lob") != ""))
        .distinct()
    )
    quads = state.quads
    v = F.col("o").try_cast("double")
    in_lo = F.when(F.col("lob") == "[", v >= F.col("lo")).otherwise(
        v > F.col("lo")
    )
    in_hi = F.when(F.col("hib") == "]", v <= F.col("hi")).otherwise(
        v < F.col("hi")
    )
    new_q = quads.join(
        F.broadcast(iv),
        (F.col("p") == F.col("_orig")) & v.isNotNull() & in_lo & in_hi,
    ).select("s", F.col("ip").alias("p"), F.col("olit").alias("o"), "g")
    return quads.unionByName(new_q.dropDuplicates(["s", "p", "o", "g"]))


def _confidence(state: PipelineState, params: dict) -> DataFrame:
    """ComputeConfidence {name: StandardConfidence|PcaConfidence|
    QpcaConfidence (min, topk) | Lift} (ConfidenceType reader
    CommonDataJsonReaders.scala:389-397). Confidence counting is injective
    by default (Ruleset.computeConfidence, Ruleset.scala:186)."""
    from rdfrules_spark.mining.measures_constants import (
        confidences_constants,
        qpca_constants,
    )

    rules, triples = state.rules, state.triples
    cname = params["name"]
    min_v = float(params.get("min", 0.0))
    topk = int(params.get("topk", 0))
    if cname in ("StandardConfidence", "PcaConfidence"):
        out = confidences_constants(rules, triples, injective=True)
        col = (
            "cwa_confidence" if cname == "StandardConfidence" else
            "pca_confidence"
        )
    elif cname == "QpcaConfidence":
        out = qpca_constants(
            confidences_constants(rules, triples, injective=True),
            triples, injective=True,
        )
        col = "qpca_confidence"
    elif cname == "Lift":
        from rdfrules_spark.mining.measures import confidences, lift

        base = to_var_schema(rules, keep_atoms=True)
        if "cwa_confidence" not in base.columns:
            base = confidences(base, triples, cwa=True, pca=False)
        lifted = lift(base, triples)
        return rules.join(
            lifted.select("head", "atoms", "mode_probability", "lift"),
            ["head", "atoms"],
        )
    else:
        raise PipelineError(f"Invalid confidence type: {cname}")
    if min_v > 0:
        out = out.where(F.col(col) >= min_v)
    if topk > 0:
        from pyspark.sql import Window

        w = Window.orderBy(F.desc(col))
        out = (
            out.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= topk)
            .drop("_rk")
        )
    return out


def _export_rules(spark, rules: DataFrame, params: dict) -> DataFrame:
    from rdfrules_spark import ruleset_io

    path = params["path"]
    fmt = params.get("format") or path.rsplit(".", 1)[-1]
    if fmt in ("txt", "text"):
        ruleset_io.export_text_resolved(rules, path)
    elif fmt == "json":
        ruleset_io.export_reference_json(rules, path)
    elif fmt == "ndjson":
        ruleset_io.export_resolved_ndjson(rules, path)
    else:
        raise PipelineError(f"Invalid ruleset format: {fmt}")
    return spark.createDataFrame([(path,)], "path string")


def _predict(spark, state: PipelineState, params: dict):
    """Predict (ruleset/Predict.scala; reader
    PipelineJsonReaders.scala:255-265). Supported: testPath,
    mergeTestAndTrainForPrediction, onlyTestCoveredPredictions,
    predictedResults, injectiveMapping, headVariablePreMapping.

    headVariablePreMapping (Prediction.scala:14-28) is a SPEED knob in the
    reference (restrict the head's higher-cardinality variable to test-set
    values before binding); here predict_triples already applies the
    test-covered restriction at the earliest point the head predicate is
    known, which subsumes every variant — the value is accepted and the
    same plan is produced."""
    from rdfrules_spark.prediction import merged_triples, predict_triples
    from rdfrules_spark.sources.rdf import read_rdf

    var_rules = to_var_schema(state.rules)
    conf = (
        "cwa_confidence" if "cwa_confidence" in var_rules.columns
        else "head_coverage"
    )
    # test triples come from testPath or from an Index(train, test)
    # graph-membership split earlier in the pipeline (TrainTestIndex)
    test = state.test
    if params.get("testPath"):
        kw = (
            {"parse_uris": False}
            if params.get("settings") == "tsvRaw"
            else {}
        )
        test = read_rdf(spark, params["testPath"], **kw).select("s", "p", "o")
    # mergeTestAndTrainForPrediction: bind rule bodies against the union
    # graph (core:index/TrainTestIndex merged view, Predict.scala) — the
    # Positive/Negative tagging still compares against the same bound index
    bind = state.triples
    # reference default is TRUE (predictReader,
    # PipelineJsonReaders.scala:259): bodies bind over train UNION test
    if test is not None and params.get("mergeTestAndTrainForPrediction", True):
        bind = merged_triples(state.triples, test)
    preds = predict_triples(
        var_rules,
        bind,
        conf_col=conf,
        injective=params.get("injectiveMapping", True),
        only_covered=bool(test is not None
                          and params.get("onlyTestCoveredPredictions", True)),
        covered=test,
    )
    wanted = params.get("predictedResults")
    if wanted:
        preds = preds.where(F.col("result").isin([str(x) for x in wanted]))
    return replace(state, kind="prediction", predictions=preds, test=test)


def _rule_order(state: PipelineState, rules: DataFrame) -> list:
    """SortRuleset keys -> one list of sort expressions (single orderBy).
    Keys are measure names (by=) or raw column names (default ordering);
    a measure not computed on this ruleset is skipped as a sort key."""
    out = []
    for m, rev in state.sort_cols:
        if m == "RuleLength":
            col = F.size(F.col("atoms")) + 1
        else:
            c = _MEASURE_COLS.get(m, m)
            if c not in rules.columns:
                continue
            col = F.col(c)
        out.append(col.asc() if rev else col.desc())
    return out


def _sorted_preds(state: PipelineState, preds: DataFrame) -> DataFrame:
    if not state.pred_sorted:
        return preds
    for c in ("noisy_or", "score", "conf"):
        if c in preds.columns:
            return preds.orderBy(F.desc(c))
    return preds


def _prediction_task(spark, state: PipelineState, name: str, params: dict):
    from rdfrules_spark.prediction import score_predictions

    preds = state.predictions
    if name == "GroupPredictions":
        scored = score_predictions(
            preds, top_rules=int(params.get("limit", 3))
        )
        return replace(state, predictions=scored)
    if name == "SortPrediction":
        # PredictedTriples.sorted orders by the default confidence
        # descending (PredictedTriples.scala:37-39); applied lazily at the
        # terminal so Catalyst can fold it into the final exchange
        return replace(state, pred_sorted=True)
    if name == "FilterPrediction":
        if params.get("predictedResults"):
            preds = preds.where(
                F.col("result").isin([str(x) for x in params["predictedResults"]])
            )
        if params.get("distinctPredictions"):
            preds = preds.dropDuplicates(["s", "p", "o"])
        return replace(state, predictions=preds)
    if name == "PredictionSize":
        res = preds.groupBy().agg(F.count(F.lit(1)).alias("size"))
        return replace(state, kind="result", result=res)
    if name == "GetPrediction":
        return replace(state, kind="result", result=_sorted_preds(state, preds))
    if name == "ExportPrediction":
        from rdfrules_spark.ruleset_io import export_predictions_ndjson

        export_predictions_ndjson(preds, params["path"], score_col="conf")
        res = spark.createDataFrame([(params["path"],)], "path string")
        return replace(state, kind="result", result=res)
    if name == "ToPredictionTasks":
        from rdfrules_spark.prediction import prediction_tasks

        scored = (
            preds if "noisy_or" in preds.columns else score_predictions(preds)
        )
        tasks = prediction_tasks(
            scored, state.triples, top_k=int(params.get("limit", 10))
        )
        return replace(state, kind="prediction_tasks", tasks=tasks)
    if name == "PredictionToDataset":
        df = preds.select("s", "p", "o").distinct().withColumn(
            "g", F.lit("prediction")
        )
        return replace(state, kind="dataset", datasets=[df])
    if name == "CachePrediction":
        return replace(state, predictions=_cache(preds, params))
    if name == "ShrinkPrediction":
        from rdfrules_spark.operators import shrink as shrink_ops

        # after SortPrediction the sequence order is confidence-descending
        # (prediction/Shrink.scala shrinks the CURRENT order); tie-break on
        # the triple for determinism
        order = ["s", "p", "o"]
        if state.pred_sorted:
            score = next(
                (c for c in ("noisy_or", "score", "conf")
                 if c in preds.columns), None,
            )
            if score:
                order = [F.desc(score), "s", "p", "o"]
        if "take" in params:
            return replace(
                state,
                predictions=shrink_ops.take(preds, int(params["take"]), *order),
            )
        if "drop" in params:
            return replace(
                state,
                predictions=shrink_ops.drop_rows(
                    preds, int(params["drop"]), *order
                ),
            )
        sub = params.get("subset", params)
        return replace(
            state,
            predictions=shrink_ops.slice_rows(
                preds, int(sub["start"]), int(sub["end"]), *order
            ),
        )
    _invalid(name, "Prediction")


def _prediction_tasks_task(spark, state: PipelineState, name: str, params: dict):
    tasks = state.tasks
    if name == "SelectCandidates":
        from rdfrules_spark.prediction import select_candidates

        strat = params.get("strategy", {"type": "topK", "k": 10})
        t = strat.get("type", "topK")
        mapping = {"topK": "topk", "pca": "pca", "qpca": "qpca"}
        if t not in mapping:
            raise PipelineError("Invalid type of selection strategy.")
        return replace(
            state,
            tasks=select_candidates(
                tasks, state.triples, strategy=mapping[t],
                k=int(strat.get("k", 10)),
            ),
        )
    if name == "WithModes":
        from rdfrules_spark.prediction import with_modes

        return replace(state, tasks=with_modes(tasks, state.triples))
    if name == "Evaluate":
        from rdfrules_spark.prediction import (
            evaluate_completeness,
            evaluate_ranking,
        )

        if state.test is None:
            raise PipelineError("Evaluate needs Predict(testPath=...)")
        if params.get("ranking", "test") == "test":
            res = evaluate_ranking(tasks, state.test, train=state.triples)
        else:
            res = evaluate_completeness(
                tasks.select("s", "p", "o").distinct()
                if "s" in tasks.columns
                else state.predictions.select("s", "p", "o").distinct(),
                state.test,
            )
        return replace(state, kind="result", result=res)
    if name == "GetPredictionTasks":
        return replace(state, kind="result", result=tasks)
    if name == "PredictionTasksSize":
        res = tasks.groupBy().agg(F.count(F.lit(1)).alias("size"))
        return replace(state, kind="result", result=res)
    if name == "CachePredictionTasks":
        return replace(state, tasks=_cache(tasks, params))
    if name == "ShrinkPredictionTasks":
        from rdfrules_spark.operators import shrink as shrink_ops

        order = ["p", "predict_side", "fixed_entity", "rank"]
        if "take" in params:
            return replace(
                state, tasks=shrink_ops.take(tasks, int(params["take"]), *order)
            )
        if "drop" in params:
            return replace(
                state,
                tasks=shrink_ops.drop_rows(tasks, int(params["drop"]), *order),
            )
        sub = params.get("subset", params)
        return replace(
            state,
            tasks=shrink_ops.slice_rows(
                tasks, int(sub["start"]), int(sub["end"]), *order
            ),
        )
    if name == "FilterPredictionTasks":
        # predictionTasks/Filter.scala:7-17. A task = the candidate group
        # (p, predict_side, fixed_entity); predictedResults keeps whole
        # groups containing any wanted result; tripleMatchers OR-match the
        # task triple (the predicted side is a VARIABLE — a regex on that
        # position can never match it, exactly like the reference's
        # TripleItemMatcher on a variable; rlike(NULL) is null -> false).
        # nonEmptyPredictions is inherent here: a task with no candidates
        # has no rows in this representation.
        keys = ["p", "predict_side", "fixed_entity"]
        if params.get("predictedResults"):
            wanted = [str(x) for x in params["predictedResults"]]
            good = tasks.where(F.col("result").isin(wanted)).select(*keys).distinct()
            tasks = tasks.join(good, keys, "left_semi")
        ms = params.get("tripleMatchers", [])
        if ms:
            subj = F.when(
                F.col("predict_side") == "object", F.col("fixed_entity")
            )
            obj = F.when(
                F.col("predict_side") == "subject", F.col("fixed_entity")
            )
            cond = F.lit(False)
            for m in ms:
                c = F.lit(True)
                if m.get("subject") is not None:
                    c = c & subj.rlike(str(m["subject"]))
                if m.get("predicate") is not None:
                    c = c & F.col("p").rlike(str(m["predicate"]))
                if m.get("object") is not None:
                    c = c & obj.rlike(str(m["object"]))
                cond = cond | c
            tasks = tasks.where(cond)
        return replace(state, tasks=tasks)
    if name in ("PredictionTasksToDataset", "PredictionTasksToPredictions"):
        # reconstruct the predicted triples from the candidate groups
        # (predictionTasks/ToDataset.scala, ToPredictions.scala)
        s = F.when(
            F.col("predict_side") == "subject", F.col("candidate")
        ).otherwise(F.col("fixed_entity"))
        o = F.when(
            F.col("predict_side") == "subject", F.col("fixed_entity")
        ).otherwise(F.col("candidate"))
        if name == "PredictionTasksToDataset":
            df = (
                tasks.select(s.alias("s"), "p", o.alias("o"))
                .distinct()
                .withColumn("g", F.lit("prediction"))
            )
            return replace(state, kind="dataset", datasets=[df])
        preds = tasks.select(
            s.alias("s"), "p", o.alias("o"), "result", "score"
        ).dropDuplicates(["s", "p", "o"])
        return replace(state, kind="prediction", predictions=preds)
    _invalid(name, "PredictionTasks")


# ---------------------------------------------------------------------------
# the interpreter


_DISPATCH = {
    "start": _dataset_task,  # only Load* reach it (validated below)
    "dataset": _dataset_task,
    "index": _index_task,
    "ruleset": _ruleset_task,
    "prediction": _prediction_task,
    "prediction_tasks": _prediction_tasks_task,
}


def run_pipeline_json(
    spark: SparkSession, tasks: list[dict] | str
) -> DataFrame:
    """Execute a reference-format JSON task pipeline and return the result
    DataFrame (the terminal task's output, or the final state's canonical
    DataFrame — rules / quads / predictions — like ToJsonTask.From[T])."""
    if isinstance(tasks, str):
        with open(tasks, encoding="utf-8") as f:
            tasks = _json.load(f)
    if not tasks:
        raise PipelineError("No tasks defined")
    first = tasks[0]["name"]
    first_tasks = (
        "LoadGraph", "LoadDataset", "LoadIndex",
        "LoadRulesetWithoutIndex", "LoadPredictionWithoutIndex",
    )  # PipelineJsonReaders.scala:466-473
    if first not in first_tasks:
        raise PipelineError(f"Invalid first task: {first}")
    state = PipelineState(kind="start")
    head_params = tasks[0].get("parameters", {})
    if first == "LoadIndex":
        state = _load_index(spark, state, head_params)
        tasks = tasks[1:]
    elif first == "LoadRulesetWithoutIndex":
        state = replace(
            state, kind="ruleset", rules=_load_ruleset(spark, head_params)
        )
        tasks = tasks[1:]
    elif first == "LoadPredictionWithoutIndex":
        state = replace(
            state,
            kind="prediction",
            predictions=_load_prediction(spark, head_params),
        )
        tasks = tasks[1:]
    for t in tasks:
        if state.kind == "result":
            raise PipelineError(
                f"Invalid task '{t['name']}': the pipeline already ended "
                "with a terminal task"
            )
        name = t["name"]
        params = t.get("parameters", {})
        if state.kind in ("start", "dataset") and name in (
            "LoadGraph", "LoadDataset",
        ):
            state = _load(spark, state, name, params)
            continue
        state = _DISPATCH[state.kind](spark, state, name, params)
    if state.result is not None:
        return state.result
    if state.kind == "dataset":
        return _union_datasets(state)
    if state.kind == "index":
        return state.triples
    if state.kind == "ruleset":
        order = _rule_order(state, state.rules)
        return state.rules.orderBy(*order) if order else state.rules
    if state.kind == "prediction":
        return _sorted_preds(state, state.predictions)
    if state.kind == "prediction_tasks":
        return state.tasks
    raise PipelineError("empty pipeline")


def main(argv: list[str] | None = None) -> None:
    """CLI analog of the reference's ``bin/main task.json result.json``
    (http:Main.scala): run the task pipeline and write the result rows as
    NDJSON to the output path (stdout when omitted). Row count stays
    bounded by the pipeline's own terminal task (Size/Get*/topK...)."""
    import sys

    args = list(sys.argv[1:] if argv is None else argv)
    if not args:
        print("usage: python -m rdfrules_spark.http_pipeline "
              "task.json [result.ndjson]", file=sys.stderr)
        raise SystemExit(2)
    from rdfrules_spark.session import get_spark

    spark = get_spark("rdfrules-task-pipeline")
    out = run_pipeline_json(spark, args[0])
    if len(args) > 1:
        out.write.mode("overwrite").json(args[1])
        print(args[1])
    else:
        for line in out.toJSON().toLocalIterator():
            print(line)


if __name__ == "__main__":
    main()
