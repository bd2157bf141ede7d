"""Query registry: the declared operator contract of SURVEY.md §2.

Every implemented operator registers itself here with a ``queries()``
callable ``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a
DuckDB oracle SQL string over the pre-registered views
``region nation customer supplier part orders lineitem events documents
embeddings``. The driver hash-compares Spark vs DuckDB results at sf0.01,
so column names/aliases MUST match between the two.

Numeric-parity rules used across all registered queries:

* Money columns in the testdata are exact 2-decimal doubles (verified in
  FIXTURES.md terms); all money arithmetic is done in DECIMAL so sums are
  exact and engine-identical, then the final value is cast to DOUBLE.
* Derived floating values (averages, similarities) are rounded to a fixed
  scale in BOTH engines before output.
* Timestamps are never emitted raw: they are formatted to strings or
  decomposed to date parts identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(key: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a declared query (and optional DuckDB oracle).

    Every registered callable first applies :func:`tune_session` to the
    session it is handed: the driver calls ``queries()[k](spark, sf_dir)``
    on a PLAIN SparkSession (default ``spark.sql.shuffle.partitions=200``,
    host timezone), and without the tune each small-SF shuffle fans out to
    200 near-empty tasks and timestamp queries depend on the host TZ.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key {key!r}")

        def tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
            from spark_file_mover_spark.session import tune_session

            tune_session(spark)
            return fn(spark, sf_dir)

        tuned.__name__ = fn.__name__
        tuned.__doc__ = fn.__doc__
        tuned.__wrapped__ = fn
        QUERIES[key] = tuned
        if oracle is not None:
            ORACLES[key] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so registrations run."""
    # Imports are at call time so `import spark_file_mover_spark` stays cheap.
    from spark_file_mover_spark.operators import (  # noqa: F401
        aggregates,
        windows,
        setops,
        streaming,
        joins,
    )
    from spark_file_mover_spark.llm import (  # noqa: F401
        dedup,
        similarity,
        sampling,
        decontam,
        features,
    )
    from spark_file_mover_spark.llm import clustering  # noqa: F401
    from spark_file_mover_spark.operators import graph, relational  # noqa: F401
    from spark_file_mover_spark.functions import scalar  # noqa: F401
    from spark_file_mover_spark.llm import multimodal, text  # noqa: F401
    from spark_file_mover_spark import filemover_queries, udfs  # noqa: F401
    from spark_file_mover_spark.sources import sourcesink  # noqa: F401
