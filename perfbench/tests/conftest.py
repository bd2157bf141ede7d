from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
for p in (str(ROOT), str(BENCH)):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def data_dir(tmp_path_factory) -> str:
    import datagen

    out = tmp_path_factory.mktemp("data") / "sf0.001"
    datagen.write_tables(str(out), 0.001)
    return str(out)


@pytest.fixture(scope="session")
def spark_env():
    """Small session: two task slots, 1 GB heap."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
