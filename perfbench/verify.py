"""The query keys' correctness gate.

Each key's result is compared with its DuckDB oracle by the canonical
row compare of ``tests/parity.py``; the xxhash64/bit_xor value hash of a
key that passes becomes its verified hash, which every timed op of the
run must reproduce.

The compare collects whole results (up to 150k rows at sf0.1) and costs
more than the timed loop, so verified hashes are kept under the state
directory, keyed by a digest of everything that decides them: the
engine's source files, the oracle SQL, the table files and the Spark and
DuckDB versions. Any change to one of these re-runs the compare.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path


def gate_digest(root: str, registry, keys, sf_dir: str) -> str:
    import duckdb
    import pyspark

    h = hashlib.sha256()
    for path in sorted(Path(root, "spark_file_mover_spark").rglob("*.py")):
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    h.update(Path(root, "tests", "parity.py").read_bytes())
    for key in keys:
        h.update(f"{key}\0{registry.ORACLES.get(key)}\0".encode())
    for name in sorted(os.listdir(sf_dir)):
        h.update(f"{name}:{os.path.getsize(os.path.join(sf_dir, name))}".encode())
    h.update(f"{pyspark.__version__}/{duckdb.__version__}".encode())
    return h.hexdigest()[:32]


def hash_frame(df, with_count: bool = False):
    """The one-row materializing aggregate: xxhash64 over every column,
    folded with bit_xor (``count()`` would let Catalyst drop work)."""
    from pyspark.sql import functions as F

    aggs = [F.bit_xor("h").alias("h")] + ([F.count("*")] if with_count else [])
    return df.select(
        F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).alias("h")
    ).agg(*aggs)


def value_hash(df) -> int:
    return hash_frame(df).collect()[0][0] or 0


def verified_hashes(spark, registry, sf_dir, keys, state_dir, root):
    """``({key: verified hash}, [errors])``. A key that fails its oracle
    has no verified hash, so every op of it fails."""
    digest = gate_digest(root, registry, keys, sf_dir)
    cache = os.path.join(state_dir, "verified", f"{digest}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh), []

    import duckdb

    sys.path.insert(0, os.path.join(root, "tests"))
    from parity import compare
    from spark_file_mover_spark.sources.io import TABLES

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    hashes, errors = {}, []
    for key in keys:
        try:
            df = registry.QUERIES[key](spark, sf_dir)
            ok, msg = compare(df, con.sql(registry.ORACLES[key]))
            if ok:
                hashes[key] = value_hash(df)
            else:
                errors.append(f"oracle {key}: {msg[:300]}")
        except Exception as ex:  # counted as a gate failure, not fatal
            errors.append(f"oracle {key}: {type(ex).__name__}: {str(ex)[:300]}")
    con.close()
    if not errors:
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        tmp = cache + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(hashes, fh, indent=1, sort_keys=True)
        os.replace(tmp, cache)
    return hashes, errors
