"""Reference binary ``.cache`` interop (core:data/ops/Cacheable.scala,
core:index/ops/Cacheable.scala, serialization/*.scala).

Fixtures were dumped by the EXECUTED reference itself
(tools/refexec/harness/CacheHarness.scala) on yago.tsv:
  - yago_quads.cache.gz — Dataset.cache stream (46,654 quads)
  - yago_index.cache.gz — Index.cache stream (42,980 dictionary items +
    one Train part of 46,654 int quads)
Cross-loader proof recorded at dump time: the reference's own
``Dataset.fromCache`` loads this engine's raw-mode written cache with the
SAME sorted-quad md5 as its own artifact (CacheHarness --load:
b04ad672420ed6cba04065401b46a542 both ways), and the raw-mode file is
byte-identical (md5 1e51cdf62f5acc065599b304f728271e) — asserted below.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rdfrules_spark.sources.refcache import (
    index_cache_items,
    index_cache_quads,
    index_cache_to_dataset,
    read_dataset_cache,
    write_dataset_cache,
)
from rdfrules_spark.sources.tsv import read_tsv

from conftest import yago_tsv

YAGO = yago_tsv()
FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "refexec")


@pytest.fixture(scope="module")
def cache_files():
    d = tempfile.mkdtemp(prefix="refcache_")
    out = {}
    for name in ("yago_quads.cache", "yago_index.cache"):
        with gzip.open(os.path.join(FIXTURES, name + ".gz"), "rb") as src:
            with open(os.path.join(d, name), "wb") as dst:
                shutil.copyfileobj(src, dst)
        out[name] = os.path.join(d, name)
    yield out
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def yago(spark):
    return read_tsv(spark, YAGO).select("s", "p", "o").cache()


def test_dataset_cache_equals_tsv(spark, yago, cache_files):
    ds = read_dataset_cache(spark, cache_files["yago_quads.cache"])
    assert ds.count() == 46654
    assert [r["g"] for r in ds.select("g").distinct().collect()] == [""]
    got = ds.select("s", "p", "o")
    assert got.exceptAll(yago).count() == 0
    assert yago.exceptAll(got).count() == 0


def test_index_cache_dictionary_and_quads(spark, yago, cache_files):
    path = cache_files["yago_index.cache"]
    items = index_cache_items(spark, path)
    # IndexSpec.scala dictionary-size golden
    assert items.count() == 42980
    assert items.select("id").distinct().count() == 42980
    quads = index_cache_quads(spark, path)
    assert quads.count() == 46654
    assert [r["part"] for r in quads.select("part").distinct().collect()] \
        == ["train"]
    decoded = index_cache_to_dataset(spark, path).select("s", "p", "o")
    dedup = yago.distinct()
    assert decoded.exceptAll(dedup).count() == 0
    assert dedup.exceptAll(decoded).count() == 0


def test_write_raw_cache_byte_identical(spark, cache_files):
    """Raw-mode writer reproduces the reference's own cache artifact
    BYTE-FOR-BYTE (so the reference's Dataset.fromCache is guaranteed to
    load it identically — also executed directly via CacheHarness --load,
    see module docstring)."""
    raw = read_tsv(spark, YAGO, parse_uris=False).withColumn("g", F.lit(""))
    out = cache_files["yago_quads.cache"] + ".rewrite"
    write_dataset_cache(raw, out, raw=True)
    h = lambda p: hashlib.md5(open(p, "rb").read()).hexdigest()  # noqa: E731
    assert h(out) == h(cache_files["yago_quads.cache"])
    assert h(out) == "1e51cdf62f5acc065599b304f728271e"


def test_canonical_roundtrip_with_literals(spark):
    """Canonical-mode write -> read round-trip across every TripleItem
    rendering the engine uses (uri / text / number / boolean)."""
    rows = [
        ("e:a", "e:p", "e:b", "uri"),
        ("e:a", "e:q", '"some text"', "text"),
        ("e:b", "e:q", "42", "number"),
        ("e:b", "e:r", "3.5", "number"),
        ("e:c", "e:s", "true", "boolean"),
    ]
    df = spark.createDataFrame(
        rows, "s string, p string, o string, okind string"
    )
    d = tempfile.mkdtemp(prefix="refcache_rt_")
    try:
        path = os.path.join(d, "rt.cache")
        write_dataset_cache(df, path)
        back = read_dataset_cache(spark, path)
        assert sorted(
            (r["s"], r["p"], r["o"], r["okind"])
            for r in back.collect()
        ) == sorted(rows)
        assert {r["g"] for r in back.collect()} == {""}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_java_num_str_plain_decimal_repr_ranges():
    """Doubles in [1e7, 1e16) and [1e-4, 1e-3): Python repr is plain
    decimal while Java uses E-notation — these used to crash on
    int('')."""
    from rdfrules_spark.sources.refcache import _java_num_str as j

    assert j(4.138e11) == "4.138E11"
    assert j(413800000000.0) == "4.138E11"
    assert j(0.0005) == "5.0E-4"
    assert j(-0.0009) == "-9.0E-4"
    assert j(1e7) == "1.0E7"
    assert j(1e16) == "1.0E16"
    assert j(9999999.5) == "9999999.5"  # decimal range unchanged
    assert j(0.001) == "0.001"
    assert j(4.138e-05) == "4.138E-5"
    assert j(1e23) == "1.0E23"
