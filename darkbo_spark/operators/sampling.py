"""Deterministic stratified sampling for training-data mixes.

Data-mix construction (sample 10% of crawl, 50% of books, ...) must be
REPRODUCIBLE: a resumed or re-run pipeline has to keep exactly the same
rows, and an auditor has to be able to re-derive membership. `rand()` /
`sampleBy` draw per-row RNG whose values depend on partition layout —
re-running after a repartition silently changes the sample. This operator
decides membership from a HASH of the row's stable id + a salt:

    keep(row)  ⇔  md5_60(id || ':' || salt) % 1_000_000  <  fraction · 1e6

* deterministic across runs, partitionings, and engines (the md5-60
  primitive is the repo's portable hash — DuckDB replays it exactly, so
  the sample is driver-oracle-verifiable);
* changing `salt` redraws an independent sample (the knob for held-out
  splits);
* per-stratum fractions compose as a CASE over the stratum column —
  one narrow codegen'd filter, zero shuffle, zero RNG state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_M = 1_000_000


def _threshold(fraction: float) -> int:
    """fraction → integer millionths, ROUNDED: int() truncation would put
    e.g. 0.29 at 289999, one millionth below the documented keep(row)
    formula (fraction · 1e6)."""
    return int(round(fraction * _M))


def _keep_hash(id_col: Column, salt: str) -> Column:
    from darkbo_spark.operators.dedup import portable_hash60

    return F.pmod(
        portable_hash60(F.concat(id_col.cast("string"), F.lit(f":{salt}"))),
        F.lit(_M),
    )


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    salt: str = "v1",
) -> DataFrame:
    """Keep a deterministic ~`fraction` of rows by doc_id hash."""
    return df.filter(_keep_hash(F.col("doc_id"), salt) < _threshold(fraction))


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    salt: str = "v1",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mix sampler. Strata
    absent from `fractions` keep `default_fraction`."""
    thr = F.lit(_threshold(default_fraction))
    for k, frac in sorted(fractions.items()):
        thr = F.when(F.col(stratum_col) == k, F.lit(_threshold(frac))).otherwise(thr)
    return df.filter(_keep_hash(F.col("doc_id"), salt) < thr)
