from __future__ import annotations

import atexit
import functools
import gzip
import shutil
import tempfile
from pathlib import Path

import pytest

from rdfrules_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # 10g: the full suite shares ONE session across ~300 tests whose
    # localCheckpoints accumulate until GC; 8g has been seen to hit
    # UNABLE_TO_ACQUIRE_MEMORY under host contention, and at 12g the
    # driver JVM reached 14.1 GB RSS on the yago goldens and was killed
    # by the OOM killer of a 16 GB host
    s = get_spark(
        "rdfrules-spark-tests", master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "10g"},
    )
    yield s
    s.stop()


SF_DIR = "/root/testdata/sf0.001"


#: the reference checkout, when it sits beside this repository
REFERENCE = Path(__file__).resolve().parents[2] / "reference"
REFERENCE_YAGO = REFERENCE / "core/src/test/resources/yago.tsv"
#: the reference's NT export of its yago.tsv (46,654 triples, file order)
YAGO_EXPORT = Path(__file__).parent / "fixtures/refexec/export_yago.nt.gz"


def reference_file(path: str) -> str:
    """``path`` inside the reference checkout when it exists; otherwise
    skip the test, naming the missing file."""
    p = REFERENCE / path
    if not p.exists():
        pytest.skip(f"missing input {p}")
    return str(p)


@functools.cache
def yago_tsv() -> str:
    """The reference's yago.tsv when present; otherwise a copy rebuilt
    once per session from its committed NT export, whose ``<s> <p> <o> .``
    lines become ``<s>\t<p>\t<o>`` in the same order."""
    if REFERENCE_YAGO.exists():
        return str(REFERENCE_YAGO)
    tmp = tempfile.mkdtemp(prefix="yago-")
    atexit.register(shutil.rmtree, tmp, True)
    out = Path(tmp) / "yago.tsv"
    with gzip.open(YAGO_EXPORT, "rt", encoding="utf-8") as src, \
            open(out, "w", encoding="utf-8") as dst:
        for line in src:
            dst.write("\t".join(line.rstrip("\n")[:-2].split(" ")) + "\n")
    return str(out)
