"""Structured Streaming: the streaming path must equal the batch path.

Each test runs a bounded stream (availableNow / processAllAvailable) over
the same input the batch transform sees and asserts set equality — the
streaming module reuses the batch stage functions, so any drift is a bug.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from rdfrules_spark import corpus, extraction
from rdfrules_spark.pipeline import run_pipeline
from rdfrules_spark.streaming import (
    dedup_statements_stateful,
    finalize_store,
    run_incremental_pipeline,
    stream_plain_documents,
    stream_statements,
    windowed_pred_counts,
)

SF_DIR = "/root/testdata/sf0.001"
DOCS = os.path.join(SF_DIR, "documents.parquet")


def _drain(df, name, tmp, output_mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(tmp, name + "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return df.sparkSession.table(name)


def test_stream_extraction_equals_batch(spark, tmp_path):
    batch = (
        extraction.extract_window3(
            corpus.derive_documents(spark.read.parquet(DOCS))
        )
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stream = (
        stream_statements(
            stream_plain_documents(spark, DOCS), window3=True
        )
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    got = _drain(stream, "t_stream_extract", str(tmp_path), "complete")
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in batch.collect()
    }


def test_windowed_pred_counts_watermark(spark, tmp_path):
    """Append-mode semantics: a window is emitted exactly once, when the
    watermark (advanced by later micro-batches) passes its end. Three file
    drops with event times 0s-179s, +30min, +60min => after the run every
    drop-1 window must have been flushed (watermark reached 58min), while
    drop-3's own windows stay in state (nothing ever advances past them)."""
    import os as _os
    import time as _time

    base = extraction.extract_window3(
        corpus.derive_documents(spark.read.parquet(DOCS))
    ).select(
        "p",
        F.timestamp_seconds(
            F.pmod(F.xxhash64("doc_id", "stmt_no"), F.lit(180))
        ).alias("event_time"),
    )
    in_dir = str(tmp_path / "win_in")
    for i, shift in enumerate((0, 1800, 3600)):
        before = set(_os.listdir(in_dir)) if _os.path.isdir(in_dir) else set()
        base.select(
            "p",
            F.timestamp_seconds(
                F.unix_timestamp("event_time") + F.lit(shift)
            ).alias("event_time"),
        ).coalesce(1).write.mode("append").parquet(in_dir)
        # file-source batches order by modification time; pin it to DROP
        # order (part filenames carry random UUIDs, so sorting by name
        # would randomize which drop the stream sees first)
        for f in _os.listdir(in_dir):
            if f.endswith(".parquet") and f not in before:
                p = _os.path.join(in_dir, f)
                new = _os.path.join(in_dir, f"drop{i}.parquet")
                _os.rename(p, new)
                _os.utime(new, (1_000_000 + i * 10, 1_000_000 + i * 10))
        _time.sleep(0.05)

    schema = spark.read.parquet(in_dir).schema
    stream_stmts = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    got = _drain(
        windowed_pred_counts(stream_stmts),
        "t_windowed",
        str(tmp_path),
        "append",
    )
    drop1_expected = (
        base.groupBy(F.window("event_time", "1 minute").alias("w"), "p")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w_start"), "p", "cnt")
    )
    got_rows = {tuple(r) for r in got.collect()}
    want_drop1 = {tuple(r) for r in drop1_expected.collect()}
    assert want_drop1 <= got_rows, "drop-1 windows must all have flushed"
    # drop-3's windows end at >= 3660s but the watermark never passes 3659s
    # (max event 3779s - 2min): they must still be held in state
    max_emitted = got.agg(
        F.max(F.unix_timestamp("w_start")).alias("m")
    ).collect()[0]["m"]
    assert max_emitted < 3600, "drop-3 windows must be held by the watermark"


def test_stateful_dedup_equals_distinct(spark, tmp_path):
    docs = corpus.derive_documents(spark.read.parquet(DOCS))
    expected = (
        extraction.extract_window3(docs)
        .select("s_surf", "p", "o_surf")
        .distinct()
    )
    stream = dedup_statements_stateful(
        stream_statements(
            stream_plain_documents(spark, DOCS), window3=True
        ).select("s_surf", "p", "o_surf")
    )
    got = _drain(stream, "t_dedup", str(tmp_path), "append")
    assert got.count() == expected.count()
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in expected.collect()
    }


def test_incremental_pipeline_equals_batch(spark, tmp_path):
    """Multi-batch incremental run == single batch run on the same docs."""
    n_docs, n_ent = 300, corpus.n_entities_for(300)
    docs = corpus.synth_documents(spark, n_docs, n_entities=n_ent)
    # two parquet drops into one dir -> multiple micro-batches
    in_dir = str(tmp_path / "in")
    docs.where(F.col("doc_id") < "doc_00000150").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    docs.where(F.col("doc_id") >= "doc_00000150").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    from rdfrules_spark.streaming.ingest import stream_documents

    stream_docs = stream_documents(
        spark, in_dir, max_files_per_trigger=1
    )
    workdir = str(tmp_path / "work")
    q = run_incremental_pipeline(
        spark, stream_docs, workdir, n_entities=n_ent
    )
    q.awaitTermination(600)
    canonical, canon_map, triples, dict_df = finalize_store(spark, workdir)

    batch = run_pipeline(spark, docs, n_entities=n_ent)
    got = {tuple(r) for r in canonical.select("s", "p", "o").collect()}
    want = {tuple(r) for r in batch.relations.select("s", "p", "o").collect()}
    assert got == want
    assert triples.select("s", "p", "o").distinct().count() == (
        batch.triples.select("s", "p", "o").distinct().count()
    )


def test_incremental_replay_is_idempotent(spark, tmp_path):
    """Re-running the stream over the same source after a completed run
    must not duplicate output rows (dynamic partition overwrite by
    batch_id + checkpointed offsets)."""
    n_docs, n_ent = 120, corpus.n_entities_for(120)
    docs = corpus.synth_documents(spark, n_docs, n_entities=n_ent)
    in_dir = str(tmp_path / "in")
    docs.write.parquet(in_dir)
    from rdfrules_spark.streaming.ingest import stream_documents

    workdir = str(tmp_path / "work")
    for _ in range(2):
        q = run_incremental_pipeline(
            spark,
            stream_documents(spark, in_dir),
            workdir,
            n_entities=n_ent,
        )
        q.awaitTermination(600)
    relations = spark.read.parquet(os.path.join(workdir, "relations"))
    batch = run_pipeline(spark, docs, n_entities=n_ent)
    assert relations.count() == batch.relations.count()


def test_incremental_ice_sink_equals_batch_and_replays_free(spark, tmp_path):
    """IceTable streaming sink: multi-batch incremental == batch pipeline,
    and a full stream replay adds ZERO snapshots (idempotency keys make
    replayed commits metadata no-ops — exactly-once at the table format)."""
    from rdfrules_spark.sources.icetable import IceTable
    from rdfrules_spark.streaming import (
        finalize_store_ice,
        run_incremental_pipeline_ice,
    )
    from rdfrules_spark.streaming.ingest import stream_documents

    n_docs, n_ent = 200, corpus.n_entities_for(200)
    docs = corpus.synth_documents(spark, n_docs, n_entities=n_ent)
    in_dir = str(tmp_path / "in")
    docs.where(F.col("doc_id") < "doc_00000100").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    docs.where(F.col("doc_id") >= "doc_00000100").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    workdir = str(tmp_path / "work")
    q = run_incremental_pipeline_ice(
        spark,
        stream_documents(spark, in_dir, max_files_per_trigger=1),
        workdir,
        n_entities=n_ent,
    )
    q.awaitTermination(600)
    rel_table = IceTable.load(spark, os.path.join(workdir, "relations_ice"))
    snaps_before = len(rel_table.snapshots())
    assert snaps_before >= 2  # one commit per micro-batch
    # per-batch lineage in the snapshot summaries
    assert all(
        s["summary"]["idempotency-key"].startswith("batch-")
        and s["summary"]["added-records"] > 0
        for s in rel_table.snapshots()
    )

    canonical, _cmap, triples, _d = finalize_store_ice(spark, workdir)
    batch = run_pipeline(spark, docs, n_entities=n_ent)
    got = {tuple(r) for r in canonical.select("s", "p", "o").collect()}
    want = {
        tuple(r) for r in batch.relations.select("s", "p", "o").collect()
    }
    assert got == want

    # replay the whole stream from a FRESH checkpoint (crash-and-restart
    # worst case: source offsets lost, every batch re-delivered)
    import shutil

    shutil.rmtree(os.path.join(workdir, "_stream_checkpoint"))
    q = run_incremental_pipeline_ice(
        spark,
        stream_documents(spark, in_dir, max_files_per_trigger=1),
        workdir,
        n_entities=n_ent,
    )
    q.awaitTermination(600)
    assert len(rel_table.snapshots()) == snaps_before  # zero new commits
    canonical2, _cm, _t, _d2 = finalize_store_ice(spark, workdir)
    assert canonical2.count() == canonical.count()


def test_ice_sink_honours_legacy_idempotency_keys(spark, tmp_path):
    """Key-format migration (ADVICE r04): a table whose snapshots were
    committed under the pre-digest 'batch-N' key form must NOT re-append
    when the same batches replay under upgraded (digest-suffixed-key)
    code — the sink accepts the legacy key as proof of commit."""
    import glob
    import json
    import re
    import shutil

    from rdfrules_spark.sources.icetable import IceTable
    from rdfrules_spark.streaming import run_incremental_pipeline_ice
    from rdfrules_spark.streaming.ingest import stream_documents

    n_docs, n_ent = 120, corpus.n_entities_for(120)
    docs = corpus.synth_documents(spark, n_docs, n_entities=n_ent)
    in_dir = str(tmp_path / "in")
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    workdir = str(tmp_path / "work")
    q = run_incremental_pipeline_ice(
        spark, stream_documents(spark, in_dir, max_files_per_trigger=1),
        workdir, n_entities=n_ent,
    )
    q.awaitTermination(600)

    # simulate a PRE-UPGRADE table: strip the digest suffix from every
    # committed idempotency key, and wipe the checkpoint so the stream
    # replays from batch 0 with the same file set (same renumbering)
    for name in ("relations_ice", "sameas_edges_ice"):
        for mf in glob.glob(
            os.path.join(workdir, name, "metadata", "v*.metadata.json")
        ):
            meta = json.load(open(mf))
            for s in meta.get("snapshots", []):
                k = s["summary"].get("idempotency-key", "")
                s["summary"]["idempotency-key"] = re.sub(
                    r"^(batch-\d+)-[0-9a-f]+$", r"\1", k
                )
            json.dump(meta, open(mf, "w"))
    shutil.rmtree(os.path.join(workdir, "_stream_checkpoint"))

    rel = IceTable.load(spark, os.path.join(workdir, "relations_ice"))
    rows_before = rel.scan().count()
    snaps_before = len(rel.snapshots())
    q2 = run_incremental_pipeline_ice(
        spark, stream_documents(spark, in_dir, max_files_per_trigger=1),
        workdir, n_entities=n_ent,
    )
    q2.awaitTermination(600)
    rel2 = IceTable.load(spark, os.path.join(workdir, "relations_ice"))
    assert len(rel2.snapshots()) == snaps_before  # no re-appends
    assert rel2.scan().count() == rows_before


def test_ice_sink_honours_a_legacy_key_for_one_composition(spark, tmp_path):
    """A legacy 'batch-N' key skips the first replay of batch N, and again
    any replay of that same file set; a batch N composed of other files
    appends under its digest key instead of being dropped."""
    import glob
    import json
    import re
    import shutil

    from rdfrules_spark.sources.icetable import IceTable
    from rdfrules_spark.streaming import run_incremental_pipeline_ice
    from rdfrules_spark.streaming.ingest import stream_documents

    n_docs, n_ent = 120, corpus.n_entities_for(120)
    docs = corpus.synth_documents(spark, n_docs, n_entities=n_ent)
    in_dir = str(tmp_path / "in")
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    other_dir = str(tmp_path / "other")
    docs.where(F.col("doc_id") < "doc_00000060").coalesce(1).write.mode(
        "append"
    ).parquet(other_dir)
    workdir = str(tmp_path / "work")

    def run(src):
        shutil.rmtree(os.path.join(workdir, "_stream_checkpoint"),
                      ignore_errors=True)
        run_incremental_pipeline_ice(
            spark, stream_documents(spark, src, max_files_per_trigger=1),
            workdir, n_entities=n_ent,
        ).awaitTermination(600)
        rel = IceTable.load(spark, os.path.join(workdir, "relations_ice"))
        return len(rel.snapshots()), rel.scan().count()

    run(in_dir)
    # a pre-upgrade table: every committed key in the bare 'batch-N' form
    for mf in glob.glob(os.path.join(workdir, "*_ice", "metadata",
                                     "v*.metadata.json")):
        meta = json.load(open(mf))
        for s in meta.get("snapshots", []):
            k = s["summary"].get("idempotency-key", "")
            s["summary"]["idempotency-key"] = re.sub(
                r"^(batch-\d+)-[0-9a-f]+$", r"\1", k
            )
        json.dump(meta, open(mf, "w"))
    rel = IceTable.load(spark, os.path.join(workdir, "relations_ice"))
    legacy = (len(rel.snapshots()), rel.scan().count())

    assert run(in_dir) == legacy
    snaps, rows = run(other_dir)
    assert snaps == legacy[0] + 1 and rows > legacy[1]
    assert run(in_dir) == (snaps, rows)
