"""Temp-dir fixture artifacts under state changes, pinned on sink-compact
(its fragmented layout is written once and reused across calls):

* an IN-PLACE rewrite of the corpus at the same path must rebuild the
  fixture — a key of (applicationId, sf_dir) alone served the layout
  written from the old bytes;
* a fixture directory removed under a live session (an OS tmp reaper)
  must be rebuilt, not read as a missing path.

Both runs are oracle-compared against DuckDB over the bytes on disk.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from pathlib import Path

import duckdb

from spark_file_mover_spark import registry
from tests.parity import compare

registry.load_all()

KEY = "sink-compact"


def _double_orders_in_place(sf_dir: Path) -> None:
    """Replace orders.parquet with twice its rows at the SAME path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = sf_dir / "orders.parquet"
    table = pq.read_table(path)
    pq.write_table(pa.concat_tables([table, table]), path)


def _compare_with_oracle(spark, sf_dir: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'"
    )
    try:
        return compare(
            registry.QUERIES[KEY](spark, sf_dir), con.sql(registry.ORACLES[KEY])
        )
    finally:
        con.close()


def test_sink_compact_rebuilds_fixture_after_inplace_rewrite(
    tmp_path, spark, sf_dir
):
    shutil.copy(Path(sf_dir) / "orders.parquet", tmp_path)
    ok, msg = _compare_with_oracle(spark, str(tmp_path))  # warm the fixture
    assert ok, msg
    _double_orders_in_place(tmp_path)
    ok, msg = _compare_with_oracle(spark, str(tmp_path))
    assert ok, f"{KEY} after in-place rewrite: {msg}"


def test_sink_compact_rebuilds_reaped_fixture(tmp_path, spark, sf_dir):
    shutil.copy(Path(sf_dir) / "orders.parquet", tmp_path)
    ok, msg = _compare_with_oracle(spark, str(tmp_path))  # warm the fixture
    assert ok, msg
    # the live fragmented layout is the newest sfm-b7-frag-* temp dir
    live = max(
        glob.glob(os.path.join(tempfile.gettempdir(), "sfm-b7-frag-*")),
        key=os.path.getmtime,
    )
    shutil.rmtree(live)
    ok, msg = _compare_with_oracle(spark, str(tmp_path))
    assert ok, f"{KEY} after its fixture dir was removed: {msg}"
