"""Graph analytics over the constructed KG — PageRank and degree
centrality as iterative DataFrame joins (no GraphX/GraphFrames).

The KG pipeline produces an entity graph (triples = edges between linked
subj/obj entities); ranking entities by importance is the canonical next
query a KG consumer runs (which entities anchor the graph? which pages'
facts matter?). PageRank here is the fixed-iteration power method:

    r₀(v)   = 1/N
    rₖ₊₁(v) = (1-d)/N + d · Σ_{(u,v)∈E} rₖ(u)/outdeg(u)

* **Fixed iteration count** (not convergence-tested): deterministic
  output, cross-engine replayable, and at O(log N) mixing a handful of
  rounds is the production pattern anyway (each round = one join + one
  aggregate = one shuffle over the EDGE set).
* **Dangling mass is not redistributed** (nodes without out-edges simply
  absorb rank) — the simplest standard variant; both engines implement
  the identical rule, so the driver hash covers it.
* **Cross-engine float discipline**: each edge contribution is rounded
  to 12 dp and accumulated in DECIMAL(28,12) — exact and associative, so
  Spark's partial-aggregation order can't flip a bit vs DuckDB's serial
  sum; the damping update then runs in IEEE doubles in the same order in
  both engines and re-rounds to 12 dp.

Scale shape: the rank vector is node-sized, the join is edges ⋈ ranks on
src — one shuffle per iteration; outdeg is computed once. Lineage is
truncated per round (localCheckpoint) exactly like operators/components.py,
so iteration k doesn't replay rounds 0..k-1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degree_centrality(edges: DataFrame) -> DataFrame:
    """(node, out_deg, in_deg) over the distinct (src, dst) edge set — the cheap
    importance signal (and the skew probe: head entities by in-degree are
    the keys the link join salts)."""
    e = edges.select("src", "dst").distinct()
    out_d = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("out_deg"))
    in_d = e.groupBy(F.col("dst").alias("node")).agg(F.count("*").alias("in_deg"))
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 5,
    tol: float | None = None,
    checkpoint_every: int = 3,
) -> DataFrame:
    """(node, rank) after `iters` power-method rounds (see module doc).
    Edges are deduplicated; self-loops count like any other edge.

    Scale hygiene: intermediate rank vectors are persist(MEMORY_AND_DISK)
    — lazy, no driver coordination — and lineage is truncated by an eager
    localCheckpoint only every `checkpoint_every` rounds (a per-round
    eager checkpoint makes the driver a once-per-iteration barrier; at a
    billion-node graph that coordination dominates). Persisted rounds
    older than the last lineage cut are unpersisted at the cut.

    `tol`: optional L1 convergence — stop early when Σ|rₖ₊₁−rₖ| ≤ tol
    (costs one small aggregate per round over the node-sized vector).
    The oracled fixed-iteration mode (tol=None) computes values
    bit-identically to the pre-hygiene form: persist/checkpoint cadence
    never changes the 12dp-DECIMAL arithmetic, only when it materializes."""
    from pyspark import StorageLevel

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("outdeg")
    )
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    cached: list[DataFrame] = []
    for it in range(iters):
        prev = ranks
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                # 12dp round → exact DECIMAL accumulation: immune to
                # partial-aggregation order
                F.round(F.col("rank") / F.col("outdeg"), 12)
                .cast("decimal(28,12)")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("s").cast("double"), F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cached.append(ranks)
        converged = False
        if tol is not None:
            # one node-sized aggregate; also materializes this round's cache
            delta = (
                ranks.withColumnRenamed("rank", "r1")
                .join(prev.withColumnRenamed("rank", "r0"), "node")
                .agg(F.sum(F.abs(F.col("r1") - F.col("r0"))).alias("d"))
                .collect()[0]["d"]
            )
            converged = delta is not None and delta <= tol
        if converged or it == iters - 1 or (it + 1) % checkpoint_every == 0:
            # lineage cut: everything persisted before this point is now
            # unreachable from the checkpointed plan — release it
            ranks = ranks.localCheckpoint(eager=True)
            for f in cached:
                f.unpersist()
            cached = []
        if converged:
            break
    return ranks


def entity_cooccurrence(
    mentions: DataFrame,
    doc_col: str = "url",
    ent_col: str = "eid",
    min_pair_docs: int = 1,
) -> DataFrame:
    """Document-level entity co-occurrence with PMI weighting — the KG
    edge-ENRICHMENT step: triples give typed relations, co-occurrence
    gives the untyped association strength (two entities repeatedly
    mentioned in the same pages are related even when no extraction
    pattern fires). PMI = ln(c_xy * N / (c_x * c_y)) over document
    counts, N = documents with >=1 mentioned entity; positive PMI means
    the pair co-occurs more than their popularity predicts — the
    standard discriminator against hub entities that co-occur with
    everything.

    Returns (e1, e2, n_docs_together, pmi) with e1 < e2 and pmi rounded
    to 6dp (cross-engine float discipline: one ln over a ratio of exact
    BIGINT counts).

    Scale shape: the input collapses to DISTINCT (doc, entity) first —
    the per-doc entity SET, bounded by mention extraction (tens, not
    thousands), so the url-key self-join emits O(k^2) per doc with small
    k and never a cross-doc product; pair counts then aggregate with
    map-side partials absorbing the head pairs. The marginals c_x and N
    are tiny (entity-dictionary-bounded / scalar) and broadcast into
    the final PMI projection.
    """
    # the distinct (doc, entity) set is read FOUR times (the N count, the
    # pair self-join's two sides, and the marginal aggregate) — persist it
    # before the eager count so the upstream pipeline (clean→segment→
    # extract→link in the twin query) runs once, not per consumer; the
    # count materializes the cache. cx is broadcast twice — persist the
    # tiny aggregate too so the second broadcast reuses it.
    # CACHE LIFETIME IS CALLER-OWNED: the entries are keyed by canonical
    # plan (Spark's CacheManager), so repeated invocations over the same
    # mentions share ONE entry rather than accumulating; a long-lived
    # session invoking this over many DISTINCT inputs should
    # spark.catalog.clearCache() (or unpersist via the returned lineage)
    # between corpora — eagerly unpersisting here would defeat the reuse
    # the persist exists for.
    from pyspark import StorageLevel

    ents = (
        mentions.select(F.col(doc_col).alias("doc"), F.col(ent_col).alias("eid"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_docs = ents.select("doc").distinct().count()
    cx = ents.groupBy("eid").agg(F.count(F.lit(1)).alias("c")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a = ents.alias("a")
    b = ents.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc") == F.col("b.doc")) & (F.col("a.eid") < F.col("b.eid")))
        .select(F.col("a.eid").alias("e1"), F.col("b.eid").alias("e2"))
        .groupBy("e1", "e2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_pair_docs)
    )
    cx1 = F.broadcast(cx.select(F.col("eid").alias("e1"), F.col("c").alias("c_x")))
    cx2 = F.broadcast(cx.select(F.col("eid").alias("e2"), F.col("c").alias("c_y")))
    return (
        pairs.join(cx1, "e1")
        .join(cx2, "e2")
        .select(
            "e1",
            "e2",
            F.col("c_xy").cast("bigint").alias("n_docs_together"),
            F.round(
                F.log(
                    F.col("c_xy").cast("double")
                    * F.lit(float(n_docs))
                    / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
