"""SemDeDup-style semantic deduplication (Abbas et al., 2023): partition
the embedding space with a coarse codebook, then remove near-duplicate
vectors WITHIN each cell by pairwise cosine — the embedding-space sibling
of MinHash/SimHash dedup that catches paraphrases sharing no surface
n-grams.

Scale shape (the paper's own argument): the cell partition bounds the
quadratic — pairwise cosine runs per cell over N/k vectors, as an
EQUI-join on the cell id (one shuffle, never a corpus cross product;
plan-gated). Cell count is the knob: at 100 TB you raise k so cells stay
~10⁴ vectors and the per-cell quadratic stays flat.

The codebook here is a fixed seeded spherical code (deterministic,
data-independent — inlined into the DuckDB oracle as literals). LEARNED
quantizers are covered by the IVF family (operators/similarity.py
train_ivf_centroids); what this operator pins down is the dedup
semantics: assignment tie-breaks, the keep-lowest-id retention rule, and
threshold arithmetic, all hash-verified cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from darkbo_spark.operators.similarity import (
    _dot_sql,
    _nested_lit_sql,
    cosine,
    dot,
    random_planes,
)


def fixed_codebook(dim: int, n_cells: int, seed: int = 42) -> list[list[float]]:
    """Seeded unit vectors — the reproducible coarse quantizer."""
    planes = random_planes(dim, n_cells, seed)
    out = []
    for p in planes:
        n = sum(x * x for x in p) ** 0.5 or 1.0
        out.append([x / n for x in p])
    return out


def assign_cells(emb: DataFrame, codebook: list[list[float]]) -> DataFrame:
    """(vec_id, embedding, cell): nearest codeword by dot product
    (codewords are unit vectors, so argmax dot == argmax cosine). Dots are rounded to
    9 dp BEFORE the argmax and ties take the first index — the exact rule
    the oracle replays, so cell assignment can never diverge on an
    engine's last-bit summation difference."""
    # one-expr SQL form (similarity._sign_bucket rationale): same round /
    # fold expressions, parsed JVM-side in one py4j round-trip
    dots = F.expr(
        f"transform({_nested_lit_sql(codebook)},"
        f" c -> round({_dot_sql('embedding', 'c')}, 9))"
    )
    return emb.select(
        "vec_id",
        "embedding",
        (F.array_position(dots, F.array_max(dots)) - 1).cast("int").alias("cell"),
    )


def semantic_dedup(
    emb: DataFrame,
    codebook: list[list[float]],
    min_cosine: float,
) -> DataFrame:
    """(vec_id, cell, kept) over emb (vec_id, embedding): kept=false for
    every vector with a LOWER-id neighbor in the same cell at cosine >=
    min_cosine (keep-lowest-id —
    deterministic, order-free; the transitive-cluster variant is
    operators/dedup.neardup_clusters over these pairs). Cosine is rounded
    to 6 dp before the threshold, same discipline as the ANN family.

    `cells` is persisted: it feeds both self-join sides and
    the final keep join, so the per-row codebook dot transform otherwise
    runs 3×."""
    from pyspark import StorageLevel

    cells = assign_cells(emb, codebook).persist(StorageLevel.MEMORY_AND_DISK)
    a = cells.select(
        F.col("vec_id").alias("_ida"), F.col("embedding").alias("_va"), "cell"
    )
    b = cells.select(
        F.col("vec_id").alias("_idb"), F.col("embedding").alias("_vb"), "cell"
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(F.round(cosine(F.col("_va"), F.col("_vb")), 6) >= min_cosine)
        .select(F.col("_idb").alias("vec_id"))
        .distinct()
    )
    return cells.join(
        dropped.withColumn("_dropped", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        "cell",
        F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
    )


def learned_codebook(
    emb: DataFrame,
    dim: int,
    n_cells: int,
    seed: int = 42,
    n_train: int = 2000,
    iters: int = 8,
) -> list[list[float]]:
    """IVF-TRAINED codebook for semantic_dedup — the production quantizer.
    A k-means codebook (operators/similarity.train_ivf_centroids, the
    same trainer the IVF ANN index uses) follows the data distribution,
    so cell occupancy is balanced and the per-cell quadratic stays flat
    where the data actually is; the fixed spherical code leaves dense
    regions concentrated in a few cells (measured histogram in
    BENCH/BASELINE.md). Returned centroids are unit vectors, so
    assign_cells' argmax-dot rule — and every downstream dedup semantic
    (9dp-rounded assignment, in-cell pair scan, keep-lowest-id) — applies
    unchanged; tests/test_semdedup.py pins both codebooks to one
    reference. The fixed codebook stays the ORACLE twin (literals inline
    into SQL; a trained codebook depends on the data and cannot be known
    at registration time)."""
    from darkbo_spark.operators.similarity import train_ivf_centroids

    return train_ivf_centroids(
        emb, dim, n_cells=n_cells, n_train=n_train, iters=iters, seed=seed
    )


def cell_sizes(cells: DataFrame) -> DataFrame:
    """(cell, n_vectors): occupancy histogram of a cell assignment — the
    skew diagnostic for the per-cell quadratic. max(n_vectors) bounds the
    pair-scan cost per cell; at 100 TB this is the number you watch, and
    n_cells is the knob you turn when it grows."""
    return (
        cells.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cell")
    )
