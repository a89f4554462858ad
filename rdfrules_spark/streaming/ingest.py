"""Structured Streaming ingestion: incremental KG construction.

The reference (propi/rdfrules) is a batch engine — it has no streaming
surface. At the north star's 10^12-document scale, though, the corpus is
never static: documents land continuously and rebuilding the triple store
from scratch per drop is not an option. This module is the Spark-native
extension of the batch pipeline (pipeline.run_pipeline) to that regime,
reusing the SAME stage transforms — extraction, linking, sameAs split,
canonicalization, dictionary encoding are all pure DataFrame->DataFrame
functions, so the batch and streaming paths cannot drift apart.

Pieces and their scale story:

- ``stream_documents`` / ``stream_plain_documents``: file-source
  ``readStream`` over a documents directory (parquet, the input_hint
  shape (doc_id, spans) or the driver's plain documents.parquet shape).
  File listing is incremental; ``maxFilesPerTrigger`` bounds micro-batch
  size so a backlog replays at a controlled rate.
- ``stream_statements``: the batch extraction transform applied to a
  streaming DataFrame — narrow select/explode plus an Arrow pandas UDF,
  all stream-compatible, no shuffle before the sink.
- ``windowed_pred_counts``: watermarked event-time windowed aggregation
  (late data admitted up to the watermark, then state is evicted — the
  Structured Streaming analog of the batch histogram operator).
- ``dedup_statements_stateful``: ``applyInPandasWithState`` exact
  streaming dedup — the streaming analog of operators/dedup.exact_dedup,
  per-key state is one boolean so state size is #distinct keys, evenly
  hash-partitioned.
- ``run_incremental_pipeline``: ``foreachBatch`` driver. Per micro-batch
  it runs extraction+linking+sameAs split and appends (a) canonical-string
  relations and (b) sameAs edges under ``workdir``, PARTITIONED BY
  batch_id with dynamic partition overwrite — a replayed batch rewrites
  exactly its own partition, giving exactly-once output on top of the
  checkpointed source offsets (the same commit-point discipline as
  checkpointing.write_stage).
- ``finalize_store``: global canonicalization + dictionary encoding over
  the accumulated relations/edges. Connected components is inherently
  iterative/global, so it runs as a (cheap) batch tail: the edge set is
  the owl:sameAs subset only — orders of magnitude smaller than the
  statement stream — and relations are touched once, by the rewrite join.

Reference parity anchors: sameAs handling matches
core:index/TripleItemHashIndex.scala:68-82 (aka statements never become
triples); the store layout matches dictionary.encode_triples'
predicate-bucketed partitioning.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from rdfrules_spark import corpus, dictionary, extraction, linking
from rdfrules_spark.canonicalize import canonicalize_triples

SPAN_T = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_T)),
    ]
)


def stream_documents(
    spark: SparkSession,
    input_path: str,
    schema: T.StructType = DOC_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source readStream over interleaved (doc_id, spans) parquet."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def stream_plain_documents(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the driver's plain documents shape, reshaped to the
    interleaved span shape by the batch derive_documents transform (pure
    narrow ops — streams unchanged). Streaming sources need an explicit
    schema; it is read once from the parquet footer (no data scan)."""
    schema = spark.read.parquet(input_path).schema
    if os.path.isfile(input_path):
        # the file streaming source requires a directory; stage a symlink
        import tempfile

        d = tempfile.mkdtemp(prefix="stream_docs_")
        os.symlink(
            os.path.abspath(input_path),
            os.path.join(d, os.path.basename(input_path)),
        )
        input_path = d
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return corpus.derive_documents(reader.parquet(input_path))


def stream_statements(documents: DataFrame, window3: bool = False) -> DataFrame:
    """Batch extraction applied to a streaming documents DataFrame."""
    if window3:
        return extraction.extract_window3(documents)
    return extraction.extract_statements(documents)


def windowed_pred_counts(
    statements: DataFrame,
    event_time: str = "event_time",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed per-predicate counts with a watermark: late rows
    within ``watermark`` update their window; older state is evicted (bounded
    state — the only way a windowed agg survives an unbounded stream)."""
    return (
        statements.withWatermark(event_time, watermark)
        .groupBy(F.window(event_time, window).alias("w"), "p")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w_start"), "p", "cnt")
    )


_DEDUP_OUT = T.StructType(
    [
        T.StructField("s_surf", T.StringType()),
        T.StructField("p", T.StringType()),
        T.StructField("o_surf", T.StringType()),
    ]
)
_DEDUP_STATE = T.StructType([T.StructField("seen", T.LongType())])


def _dedup_fn(
    key: Tuple[str, str, str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n = sum(len(pdf) for pdf in pdfs)
    if state.exists:
        (seen,) = state.get
        state.update((seen + n,))
        return iter(())
    state.update((n,))
    return iter(
        [pd.DataFrame([{"s_surf": key[0], "p": key[1], "o_surf": key[2]}])]
    )


def dedup_statements_stateful(statements: DataFrame) -> DataFrame:
    """Streaming exact dedup by (s_surf, p, o_surf): emits each distinct
    statement exactly once across the whole stream; per-key state is one
    counter. Analog of operators/dedup.exact_dedup for unbounded input."""
    return statements.groupBy("s_surf", "p", "o_surf").applyInPandasWithState(
        _dedup_fn,
        outputStructType=_DEDUP_OUT,
        stateStructType=_DEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _batch_transform(
    batch_docs: DataFrame,
    window3: bool,
    candidates: DataFrame | None,
    aka_pred: str,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch's extraction -> linking -> sameAs split (shared by
    the parquet-partition sink and the IceTable sink)."""
    stmts = stream_statements(batch_docs, window3=window3)
    if window3:
        linked = stmts.select(
            "doc_id",
            "stmt_no",
            F.col("s_surf").alias("s"),
            "p",
            F.col("o_surf").alias("o"),
        )
    else:
        linked = linking.link_statements(stmts, candidates)
    relations = linked.where(F.col("p") != aka_pred)
    edges = linked.where(F.col("p") == aka_pred).select(
        F.col("s").alias("a"), F.col("o").alias("b")
    )
    return relations, edges


def run_incremental_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    workdir: str,
    candidates: DataFrame | None = None,
    n_entities: int | None = None,
    window3: bool = False,
    available_now: bool = True,
):
    """foreachBatch incremental KG construction.

    Per micro-batch: extraction -> linking (stream-static join against the
    candidates dim) -> sameAs split; relations and edges are appended under
    ``workdir`` partitioned by batch_id with DYNAMIC partition overwrite, so
    a batch replayed after a crash rewrites its own partition idempotently
    (exactly-once on top of the checkpointed source offsets). Returns the
    StreamingQuery; call ``finalize_store`` afterwards for the encoded
    triple store.

    ``window3=True`` selects the derived-corpus grammar (extract_window3 /
    p=='dup' cue) instead of the synthetic-corpus pandas-UDF grammar."""
    if candidates is None and not window3:
        if n_entities is None:
            raise ValueError("need candidates or n_entities")
        candidates = linking.alias_candidates(spark, n_entities)
    rel_path = os.path.join(workdir, "relations")
    edge_path = os.path.join(workdir, "sameas_edges")
    aka_pred = "dup" if window3 else linking.AKA

    def process_batch(batch_docs: DataFrame, batch_id: int) -> None:
        sess = batch_docs.sparkSession
        sess.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        relations, edges = _batch_transform(
            batch_docs, window3, candidates, aka_pred
        )
        (
            relations.withColumn("batch_id", F.lit(batch_id))
            .write.partitionBy("batch_id")
            .mode("overwrite")
            .parquet(rel_path)
        )
        (
            edges.withColumn("batch_id", F.lit(batch_id))
            .write.partitionBy("batch_id")
            .mode("overwrite")
            .parquet(edge_path)
        )

    writer = documents.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", os.path.join(workdir, "_stream_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_incremental_pipeline_ice(
    spark: SparkSession,
    documents: DataFrame,
    workdir: str,
    candidates: DataFrame | None = None,
    n_entities: int | None = None,
    window3: bool = False,
    available_now: bool = True,
):
    """foreachBatch incremental KG construction into IceTables.

    Same per-batch transform as :func:`run_incremental_pipeline`, but the
    sink is the Iceberg-shaped table format (sources/icetable.py): each
    micro-batch commits one ``append`` snapshot per table with
    ``idempotency_key='batch-{batch_id}'`` — a batch replayed after a
    crash is a METADATA no-op (the key is already committed), which is
    exactly-once at the table-format level, independent of partition
    layout or ``partitionOverwriteMode``. Snapshot summaries double as
    per-batch lineage (added-records/files/bytes per commit), queryable
    via ``IceTable.history()`` without touching data files."""
    from rdfrules_spark.sources.icetable import IceTable

    if candidates is None and not window3:
        if n_entities is None:
            raise ValueError("need candidates or n_entities")
        candidates = linking.alias_candidates(spark, n_entities)
    aka_pred = "dup" if window3 else linking.AKA
    tables: dict[str, IceTable] = {}
    # Key-format migration: tables written before the digest suffix
    # existed committed under the bare "batch-N" form. Each table's set of
    # such legacy keys is read once per query. A legacy key is honoured
    # for ONE composition of batch N: the first replay that meets it
    # records its digest key beside the tables, and is skipped. A later
    # replay of batch N is skipped only with that same file set; a batch N
    # re-composed of other files appends under its own digest key.
    legacy: dict[str, set[str]] = {}
    honoured_path = os.path.join(workdir, "_legacy_keys_honoured.json")
    honoured: dict[str, dict[str, str]] = {}
    if os.path.exists(honoured_path):
        with open(honoured_path) as f:
            honoured = json.load(f)

    def table_for(name: str, df: DataFrame) -> IceTable:
        if name not in tables:
            path = os.path.join(workdir, name)
            if os.path.exists(os.path.join(path, "metadata")):
                tables[name] = IceTable.load(spark, path)
            else:
                tables[name] = IceTable.create(
                    spark, path, df.schema,
                    partition_by=["p"] if "p" in df.columns else [],
                )
        return tables[name]

    def committed_under_legacy(name: str, legacy_key: str, key: str) -> bool:
        if name not in legacy:
            legacy[name] = {
                k for k in (s["summary"].get("idempotency-key")
                            for s in tables[name].snapshots())
                if k is not None and re.fullmatch(r"batch-\d+", k)
            }
        if key == legacy_key or legacy_key not in legacy[name]:
            return False
        seen = honoured.setdefault(name, {})
        if legacy_key not in seen:
            # recorded before the batch is skipped: a crash in between
            # replays the same file set, which the record still skips
            seen[legacy_key] = key
            tmp = honoured_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(honoured, f)
            os.replace(tmp, honoured_path)
        return seen[legacy_key] == key

    def process_batch(batch_docs: DataFrame, batch_id: int) -> None:
        relations, edges = _batch_transform(
            batch_docs, window3, candidates, aka_pred
        )
        # The exactly-once key identifies batch CONTENT, not just the
        # batch number: after a wiped checkpoint, Spark re-numbers batches
        # from 0 and a replayed "batch-N" may cover a different file set
        # (the source dir can have gained files since the original run).
        # Folding the batch's input-file list into the key makes a replay
        # dedupe when BOTH the renumbered batch id and the file set line
        # up with the original commit — batch_id stays part of the key, so
        # after a checkpoint wipe the guarantee is best-effort, not
        # absolute. The batch arrives as a LogicalRDD whose inputFiles()
        # is empty, so the list is one small job over input_file_name().
        # Sources with no file lineage (memory/rate) give no names and
        # fall back to the batch id alone.
        files = sorted(
            r[0] for r in batch_docs.select(F.input_file_name())
            .distinct().collect() if r[0]
        )
        legacy_key = f"batch-{batch_id}"
        if files:
            digest = hashlib.md5("\n".join(files).encode()).hexdigest()[:12]
            key = f"{legacy_key}-{digest}"
        else:
            key = legacy_key
        for name, df in (("relations_ice", relations),
                         ("sameas_edges_ice", edges)):
            table = table_for(name, df)
            if not committed_under_legacy(name, legacy_key, key):
                table.append(df, idempotency_key=key)

    writer = documents.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", os.path.join(workdir, "_stream_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def finalize_store_ice(spark: SparkSession, workdir: str):
    """:func:`finalize_store` over the IceTable sink: global
    canonicalization + encoding reading through manifest-planned scans."""
    from rdfrules_spark.sources.icetable import IceTable

    relations = IceTable.load(
        spark, os.path.join(workdir, "relations_ice")
    ).scan()
    try:
        sameas = IceTable.load(
            spark, os.path.join(workdir, "sameas_edges_ice")
        ).scan().select("a", "b")
    except FileNotFoundError:
        sameas = spark.createDataFrame(
            [], T.StructType(
                [
                    T.StructField("a", T.StringType()),
                    T.StructField("b", T.StringType()),
                ]
            )
        )
    canonical, canon_map = canonicalize_triples(relations, sameas)
    triples_str = canonical.select("s", "p", "o")
    triples = dictionary.encode_triples(triples_str)
    dict_df = dictionary.build_dictionary(triples_str)
    return canonical, canon_map, triples, dict_df


def finalize_store(spark: SparkSession, workdir: str):
    """Global canonicalization + dictionary encoding over everything the
    incremental pipeline has accumulated. CC runs over the sameAs edge set
    only (tiny vs the statement stream); relations are rewritten by one
    join and encoded into the predicate-bucketed store."""
    relations = spark.read.parquet(os.path.join(workdir, "relations")).drop(
        "batch_id"
    )
    edge_dir = os.path.join(workdir, "sameas_edges")
    try:
        sameas = spark.read.parquet(edge_dir).drop("batch_id")
    except Exception:
        sameas = spark.createDataFrame(
            [], T.StructType(
                [
                    T.StructField("a", T.StringType()),
                    T.StructField("b", T.StringType()),
                ]
            )
        )
    canonical, canon_map = canonicalize_triples(relations, sameas)
    triples_str = canonical.select("s", "p", "o")
    triples = dictionary.encode_triples(triples_str)
    dict_df = dictionary.build_dictionary(triples_str)
    return canonical, canon_map, triples, dict_df
