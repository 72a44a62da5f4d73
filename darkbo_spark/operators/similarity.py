"""J3 — dense retrieval / similarity search over embedding columns.

The reference's dense path is an exact inner-product top-k over L2
normalized vectors (behavior: build api/index_versioning.py:385-433, query
ai_worker.py:172-200). Spark restatement:

* brute-force exact top-k — broadcast the (few) query vectors, dot product
  via `aggregate(zip_with(...))` (JVM higher-order functions, no UDF),
  rank per query with a window. Correct baseline at any scale where
  queries are few: one narrow pass over the corpus.
* LSH-bucketed ANN (random signed projections) — the scale path when the
  query side is also huge: both sides hash to sign-pattern buckets; only
  intra-bucket pairs are scored. Recall measured against brute force in
  tests, not assumed.

Normalization and dot products run in the array element order on both
engines, so DuckDB oracle floats match bit-for-bit (rounded to 6 dp in both
for belt-and-braces).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k per query over corpus (vec_id, embedding) and
    queries (qid, qvec): crossJoin(broadcast(queries)) — zero shuffle of
    the corpus; TakeOrdered per query via window rank."""
    joined = corpus.crossJoin(F.broadcast(queries))
    scored = joined.select(
        F.col("qid").alias("qid"),
        F.col("vec_id").alias("doc_id"),
        F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _nested_lit_sql(mat: list[list[float]]) -> str:
    # a single parsed SQL literal: both F.array(F.lit(...)) and F.lit(list)
    # cost a JVM call per ELEMENT (measured ~2s for a 4×6×64 plane
    # matrix). repr() round-trips doubles exactly.
    rows = ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in row) + ")" for row in mat
    )
    return f"array({rows})"


def _dot_sql(a: str, b: str) -> str:
    """SQL text of `dot` — same fold, same 0D init, parsed in one call."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"


def _sign_bucket(vec: str, planes: list[list[float]]) -> Column:
    """Bucket id from signs of dot products with fixed random hyperplanes.

    `vec` is the COLUMN NAME (inlined into SQL text): the whole
    plane-matrix literal + transform/aggregate tree parses JVM-side in ONE
    py4j round-trip — the Column-API form of this tree cost ~400 round
    trips per call (several per lambda), ~1.4 s of driver wall across the
    8 calls a multi-table query makes. Same expressions, same floats."""
    powers = "array(" + ", ".join(f"{1 << i}L" for i in range(len(planes))) + ")"
    dots = f"transform({_nested_lit_sql(planes)}, p -> {_dot_sql(vec, 'p')})"
    return F.expr(
        f"aggregate(zip_with({dots}, {powers},"
        " (d, pw) -> CASE WHEN d >= 0 THEN pw ELSE 0L END),"
        " 0L, (acc, v) -> acc + v)"
    )


def random_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors whose sign-projection
    bucket equals the query's. One shuffle on bucket instead of a full
    cross product — the 100 TB plan when queries are many."""
    planes = random_planes(dim, n_planes)
    c = corpus.withColumn("_bucket", _sign_bucket("embedding", planes))
    q = queries.withColumn("_bucket", _sign_bucket("qvec", planes))
    joined = c.join(q, "_bucket")
    scored = joined.select(
        F.col("qid").alias("qid"),
        F.col("vec_id").alias("doc_id"),
        F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def train_ivf_centroids(
    corpus, dim: int, n_cells: int = 16, n_train: int = 2000, iters: int = 8,
    seed: int = 42
) -> list[list[float]]:
    """Coarse quantizer for IVF: Lloyd's k-means over `embedding` on a
    deterministic bounded sample (lowest `vec_id` rows), trained
    driver-side — the standard IVF pattern (the quantizer is tiny; the
    INDEX is distributed). Seeded init, fixed iteration count →
    bit-reproducible across runs and parallelism."""
    import numpy as np

    pdf = (
        corpus.select("vec_id", "embedding")
        .orderBy(F.asc("vec_id"))
        .limit(n_train)
        .toPandas()
    )
    x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    if x.shape[1] != dim:
        raise ValueError(f"embedding width {x.shape[1]} != declared dim {dim}")
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return [[float(v) for v in c] for c in cents]


def _cell_dots(vec: str, centroids: list[list[float]]) -> Column:
    # one-expr SQL form (see _sign_bucket); `vec` is the column name
    return F.expr(f"transform({_nested_lit_sql(centroids)}, c -> {_dot_sql(vec, 'c')})")


def ivf_topk(
    corpus,
    queries,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus rows are assigned to their nearest
    coarse centroid (one narrow map — the inverted file); each query probes
    its `n_probe` nearest cells and scores only those cells' vectors. One
    shuffle on cell id; corpus never fans out (unlike multi-table LSH's ×L
    index), recall tuned by n_probe. At 100 TB the cell assignment is the
    partition/bucket key of the stored index table, so probing prunes
    partitions at the scan."""
    if centroids is None:
        centroids = train_ivf_centroids(corpus, dim, n_cells=n_cells)
    c_dots = _cell_dots("embedding", centroids)
    c = corpus.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("_cvec"),
        (F.array_position(c_dots, F.array_max(c_dots)) - 1).cast("int").alias("cell"),
    )
    q_dots = _cell_dots("qvec", centroids)
    # top n_probe cells per query: sort (dot, NEGATED idx) structs and
    # reverse → dot desc, idx ASC on ties — the same lowest-index tie-break
    # as the corpus side's array_position(max); opposite tie directions
    # would send a query to the empty twin of a duplicated centroid
    idx_structs = F.transform(
        q_dots, lambda d, i: F.struct(d.alias("d"), (-i).alias("ni"))
    )
    probe_cells = F.slice(F.reverse(F.array_sort(idx_structs)), 1, n_probe)
    q = queries.select(
        F.col("qid").alias("qid"),
        F.col("qvec").alias("_qvec"),
        F.explode(probe_cells).alias("pc"),
    ).select("qid", "_qvec", (-F.col("pc.ni")).cast("int").alias("cell"))
    scored = (
        c.join(q, "cell")
        .select(
            "qid",
            "doc_id",
            F.round(cosine(F.col("_cvec"), F.col("_qvec")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def build_ivf_index(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 16,
    centroids: list[list[float]] | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """The IVF index as a publishable frame: (doc_id, embedding, cell).
    Publish it `partition_by=["cell"]` (SnapshotTable / Iceberg hidden
    partitioning) — the cell IS the partition key, so a probe-time literal
    cell filter prunes whole partitions at the scan (PartitionFilters in
    the plan, verified in docs/PLANS.md). Returns (index_df, centroids);
    the centroids travel with the index (meta) since queries must rank
    cells against the SAME quantizer the index was built with."""
    if centroids is None:
        centroids = train_ivf_centroids(corpus, dim, n_cells=n_cells)
    c_dots = _cell_dots("embedding", centroids)
    index = corpus.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("embedding"),
        (F.array_position(c_dots, F.array_max(c_dots)) - 1).cast("int").alias("cell"),
    )
    return index, centroids


def ivf_topk_stored(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF top-k served from a STORED index (build_ivf_index published by
    cell). The probe cells are resolved DRIVER-SIDE from the tiny query
    frame using the IDENTICAL in-plan expression as ivf_topk (collected,
    not re-derived — zero tie-break drift), then applied as a LITERAL
    `cell IN (...)` filter so a cell-partitioned store prunes partitions
    before any row is read. Query↔cell matching stays a join, the filter
    is the scan-level prune."""
    q_dots = _cell_dots("qvec", centroids)
    idx_structs = F.transform(
        q_dots, lambda d, i: F.struct(d.alias("d"), (-i).alias("ni"))
    )
    probe_cells = F.slice(F.reverse(F.array_sort(idx_structs)), 1, n_probe)
    q = (
        queries.select(
            F.col("qid").alias("qid"),
            F.col("qvec").alias("_qvec"),
            F.explode(probe_cells).alias("pc"),
        )
        .select("qid", "_qvec", (-F.col("pc.ni")).cast("int").alias("cell"))
        # queries are few by contract (the brute-force/broadcast regime);
        # localCheckpoint so the probe computation runs once, not once per
        # reference below
        .localCheckpoint(eager=True)
    )
    cells = sorted({r.cell for r in q.select("cell").distinct().collect()})
    pruned = index.filter(F.col("cell").isin(cells))
    scored = pruned.join(q, "cell").select(
        "qid",
        "doc_id",
        F.round(cosine(F.col("embedding"), F.col("_qvec")), 6).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk_multi(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    multiprobe: bool = True,
) -> DataFrame:
    """Multi-table, multi-probe sign-LSH top-k — the recall upgrade over
    single-probe `lsh_topk` (whose recall sags as dim grows).

    * `n_tables` independent hyperplane sets: a pair is a candidate if it
      collides in ANY table → corpus index grows ×L (the standard LSH
      space-for-recall trade), join stays one shuffle on (table, bucket).
    * `multiprobe`: the QUERY side additionally probes every bucket at
      Hamming distance 1 (each single sign flip) — ×(1+n_planes) rows on
      the tiny query side only, nothing extra on the corpus side.
    * candidates dedup on (qid, doc_id) before scoring so each pair is
      scored once regardless of how many tables it collided in.
    """
    tables = [random_planes(dim, n_planes, 42 + 7919 * t) for t in range(n_tables)]
    c_entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                _sign_bucket("embedding", planes).alias("bucket"),
            )
            for t, planes in enumerate(tables)
        ]
    )
    c = corpus.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("_cvec"),
        F.explode(c_entries).alias("tb"),
    ).select("doc_id", "_cvec", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))

    # materialize the per-table bucket FIRST, then derive Hamming-1 probes
    # by flipping bits of the materialized COLUMN — embedding the bucket
    # expression once per flip makes the analyzer re-traverse the shared
    # subtree (1+n_planes)× per table
    q_entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                _sign_bucket("qvec", planes).alias("bucket"),
            )
            for t, planes in enumerate(tables)
        ]
    )
    q_base = queries.select(
        F.col("qid").alias("qid"), F.col("qvec").alias("_qvec"),
        F.explode(q_entries).alias("tb"),
    ).select("qid", "_qvec", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("b0"))
    if multiprobe:
        flips = F.array(
            F.col("b0"),
            *[
                F.col("b0").bitwiseXOR(F.shiftleft(F.lit(1).cast("bigint"), i))
                for i in range(n_planes)
            ],
        )
    else:
        flips = F.array(F.col("b0"))
    q = (
        q_base.select("qid", "_qvec", "t", F.explode(flips).alias("bucket"))
        .distinct()
    )
    # score FIRST, dedup after: a pair colliding in several tables has the
    # same vectors — so the same cosine — in every copy; max() over equal
    # values is that value. The old dropDuplicates shuffled BOTH embedding
    # payloads per candidate row; this shuffles (qid, doc_id, score) only,
    # with map-side partial aggregation (guide §8: move proxies, not
    # payloads).
    scored = (
        c.join(q, ["t", "bucket"])
        .select(
            "qid",
            "doc_id",
            F.round(cosine(F.col("_cvec"), F.col("_qvec")), 6).alias("score"),
        )
        .groupBy("qid", "doc_id")
        .agg(F.max("score").alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
