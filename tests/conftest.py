from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from uav_streamprocessor_spark.session import get_spark

    s = get_spark(
        app_name="tests",
        # local[16]: uniform ~8-10% suite speedup vs local[8] measured r13
        # (parity 286->258s, streaming modules 69->65s); partition-count
        # assertions all derive from framesPerPartition, not parallelism
        master="local[16]",
        shuffle_partitions=8,
        # static conf: must be set at session build (bucketed-table tests)
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark_wh_")},
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    yield con


# -- fast lane (VERDICT r11 #8) ----------------------------------------------
#
# `-m fast` is the per-commit correctness lane: ~166s of the 16-minute
# suite (measured r12, --durations=0 on the full run), chosen as the
# modules that gate STRUCTURE rather than recompute values — plan-shape
# audits (no cartesian products / unpartitioned windows / pushdown
# regressions), the driver-entry contract, determinism, pixel geometry,
# and the hypothesis properties over the pure kernels. Value-level
# correctness stays with the full suite + scripts/drive_driver.py.

_FAST_LANE_MODULES = {
    "test_plan_audit.py",       # 142s: registry-wide plan-shape gates
    "test_entry_contract.py",   # driver contract surface
    "test_determinism.py",
    "test_positive_controls.py",
    "test_codec_seam.py",
    "test_aqe.py",
    "test_pixel_ops.py",
    "test_pixel_signing.py",    # content_signature / roundtrip_contract
    "test_properties.py",       # pure-kernel hypothesis sweeps
    "test_jpeg_codec.py",       # pure-numpy baseline JPEG codec
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if Path(str(item.fspath)).name in _FAST_LANE_MODULES:
            item.add_marker(pytest.mark.fast)
