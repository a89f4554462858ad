from __future__ import annotations

import time

from pyspark.sql import functions as F

from perfbench.tests.conftest import RETAINED_STAGES
from perfbench.trace import Tracer, busy_seconds, read_group


def _shuffle_job(spark, n: int = 20_000) -> int:
    return spark.range(n).groupBy((F.col("id") % 7).alias("k")).count().count()


def test_busy_seconds_merges_and_clips():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert busy_seconds(spans, 0.5, 10.0) == 2.5 + 1.0 + 1.0
    assert busy_seconds([], 0.0, 1.0) == 0.0


def test_span_reads_nonzero_counters_for_a_known_job(spark):
    tr = Tracer(spark)
    with tr.span("layer.a") as sp:
        sp.rows = _shuffle_job(spark)
    (rec,) = tr.records
    assert rec.name == "layer.a"
    assert rec.rows_out == 7
    assert rec.spark_stages >= 2  # the map side and the reduce side
    assert rec.exec_cpu_s > 0
    assert rec.shuffle_write_mb > 0
    assert rec.failed_tasks == 0 and rec.lost_stages == 0
    assert 0 <= rec.driver_only_s <= rec.wall_s


def test_disabled_tracer_records_nothing(spark):
    tr = Tracer(spark, enabled=False)
    with tr.span("layer.a") as sp:
        sp.rows = _shuffle_job(spark)
    assert tr.records == []


def test_counters_are_read_before_the_store_evicts_them(spark):
    """A span's stages are complete when read at its close; read after
    more than ``spark.ui.retainedStages`` further stages they are not."""
    tr = Tracer(spark)
    with tr.span("layer.early"):
        for _ in range(3):
            _shuffle_job(spark)
    (early,) = tr.records
    assert early.spark_stages >= 6 and early.lost_stages == 0

    with tr.span("layer.late"):
        for _ in range(RETAINED_STAGES):
            _shuffle_job(spark, 1000)
    late = tr.records[1]
    assert late.spark_stages + late.lost_stages >= 2 * RETAINED_STAGES

    again = read_group(spark.sparkContext, early.group, time.time())
    assert again.lost_stages > 0
    assert again.stages < early.spark_stages
