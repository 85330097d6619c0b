"""Row/column splitting + sampling operators (SURVEY.md §2.3, §2.8),
and the compute-sized exchange in front of heavy per-row kernels.

Glue equivalents: SplitFields, SplitRows, Spigot.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def split_fields(
    df: DataFrame, paths: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """Split into (selected-columns frame, remaining-columns frame)
    (Glue ``SplitFields``)."""
    rest = [c for c in df.columns if c not in set(paths)]
    return df.select(*paths), df.select(*rest)


def split_rows(
    df: DataFrame, predicate: Column | str
) -> tuple[DataFrame, DataFrame]:
    """Split into (matching, non-matching) frames (Glue ``SplitRows``).

    NULL predicate results land in the non-matching frame, so the two
    outputs always partition the input exactly.
    """
    p = F.expr(predicate) if isinstance(predicate, str) else predicate
    return df.filter(p), df.filter(~p.eqNullSafe(F.lit(True)))


def spigot(df: DataFrame, path: str, fraction: float = 0.01, seed: int = 42) -> DataFrame:
    """Write a row sample for inspection, pass the frame through
    unchanged (Glue ``Spigot``). Sampling is per-partition Bernoulli —
    no collect, no extra shuffle."""
    df.sample(fraction=fraction, seed=seed).write.mode("overwrite").json(path)
    return df


def repartition_for_compute(df: DataFrame, *cols: str | Column) -> DataFrame:
    """Hash-repartition to one partition per core, for a stage whose
    cost is per-row compute (a Python kernel, a cross-join scoring
    pass), not bytes.

    Scan splits and AQE coalescing both size partitions by BYTES, so a
    few MB of input lands on 1-3 tasks. A count-less
    ``repartition(col)`` does not help: AQE coalesces it by bytes too.
    An explicit count makes the exchange REPARTITION_BY_NUM, which AQE
    never coalesces."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *cols)
