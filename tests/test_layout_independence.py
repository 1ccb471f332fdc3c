"""Every registry query returns the same rows whatever the physical
layout: shuffle partitions, Arrow batch size and AQE change how the
work is split, never what it computes.  Each query's canonical result
(as the oracle parity test compares it) is hashed under the session
default and compared with its hash under each other configuration."""

import hashlib
import os
import sys

import pytest

import __spark_entry__ as entry_mod

sys.path.insert(0, os.path.dirname(__file__))
from test_oracle_parity import _canon  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
PARTITIONS = "spark.sql.shuffle.partitions"
BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"
AQE = "spark.sql.adaptive.enabled"
COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"
# the session default is {8, 10000, true, true} (tests/conftest.py); at
# sf0.001 AQE coalesces most shuffles to one partition, so
# ``no_coalesce`` keeps AQE's other rules and every partition
LAYOUTS = {
    "one_partition": {PARTITIONS: "1", BATCH: "10000", AQE: "true"},
    "odd_splits": {PARTITIONS: "3", BATCH: "7", AQE: "true"},
    "aqe_off": {PARTITIONS: "8", BATCH: "10000", AQE: "false"},
    "no_coalesce": {PARTITIONS: "8", BATCH: "10000", AQE: "true",
                    COALESCE: "false"},
}


def _hashes(spark) -> dict[str, str]:
    return {name: hashlib.sha256("\n".join(
                _canon(q(spark, SF_DIR).toPandas())).encode()).hexdigest()
            for name, q in entry_mod.queries().items()}


@pytest.fixture(scope="module")
def default_hashes(spark):
    return _hashes(spark)


@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_results_do_not_depend_on_layout(spark, default_hashes, layout):
    conf = LAYOUTS[layout]
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        got = _hashes(spark)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    differ = sorted(n for n in got if got[n] != default_hashes[n])
    assert not differ, f"{layout} {conf} changes the rows of {differ}"
