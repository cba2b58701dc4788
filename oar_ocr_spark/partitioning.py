"""Partition-spreading helpers for UDF stages.

Why this exists (measured, round 6): ``df.repartition(n, "k")`` is
silently REMOVED by EnsureRequirements when its input already arrives
hash-partitioned on the same key with the same partition count — which
is exactly what happens right after a ``groupBy("k")`` at
``spark.sql.shuffle.partitions == n``. The surviving upstream exchange
has ENSURE_REQUIREMENTS origin, so AQE partition coalescing is free to
shrink it — to ONE partition for kilobyte-scale aggregates — and every
downstream per-row codec UDF then runs serially on one task (the
pdf/tiff store stages measured at single-thread wall despite
parallelism=32).

``spread`` takes one of two forms, and both exchanges carry
REPARTITION_BY_NUM origin, so AQE never coalesces them:

- with key columns, it hash-partitions on an xxhash64 EXPRESSION of the
  keys. The exchange no longer matches the upstream partitioning, so it
  survives planning. Assignment is a deterministic function of the keys
  (no rand()), so task retries are safe (SPARK-38388).
- with no keys, it is a plain round-robin ``df.repartition(n)``: the
  exact even split that small, costly ref sets need. ``python_stage``
  takes this form when it gets no ``by`` keys (the payload stores), and
  ``simhash_df`` calls it directly. Round-robin assignment depends on
  row order, but Spark sorts each input partition before a round-robin
  repartition (``spark.sql.execution.sortBeforeRepartition``, default
  true), so a retried task sends every row to the same partition again.

Results are unchanged either way because every consumer is
partition-invariant by contract.

``python_stage`` is the one way a per-row Python operator enters a
plan: it owns the spread policy and names the MapInPandas node, so
SQL metrics attribute to the operator. Batch-vectorized kernels, which
need the whole Arrow batch at once, call ``mapInPandas`` themselves.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["spread", "python_stage"]


def spread(df: DataFrame, n: int, *cols: str) -> DataFrame:
    """Repartition into exactly ``n`` partitions that neither
    EnsureRequirements nor AQE coalescing can remove: by xxhash64 of
    ``cols``, or round-robin when no columns are given. Both are
    retry-safe (module docstring)."""
    if not cols:
        return df.repartition(n)
    return df.repartition(n, F.expr(f"xxhash64({', '.join(f'`{c}`' for c in cols)})"))


def python_stage(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: T.StructType,
    name: str,
    parallelism: int | None = None,
    by: Sequence[str] = (),
) -> DataFrame:
    """Run ``fn(*row)`` over every row of ``df`` as one Arrow-batched
    MapInPandas node named ``name``.

    ``fn`` takes the row's columns in ``df``'s column order and returns
    an iterable of ``schema`` tuples — zero, one or many output rows per
    input row. ``parallelism`` spreads the input first (``spread``):
    round-robin without ``by`` keys — the even split small, costly ref
    sets need — else xxhash64 of ``by``. None does not spread: a stage
    chained on another stage's output inherits its partitioning. A
    single-file scan arrives as ONE partition, so the source stages
    (the payload, PDF and TIFF stores) pass the session's default
    parallelism."""
    if parallelism:
        df = spread(df, parallelism, *by)
    cols = schema.fieldNames()

    def stage(batches):
        import pandas as pd

        for pdf in batches:
            rows: list[tuple] = []
            for row in zip(*(pdf[c] for c in pdf.columns)):
                rows.extend(fn(*row))
            yield pd.DataFrame(rows, columns=cols)

    # the plan node reads "MapInPandas <name>(…)"
    stage.__name__ = stage.__qualname__ = name
    return df.mapInPandas(stage, schema=schema)
