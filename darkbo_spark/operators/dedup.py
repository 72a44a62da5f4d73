"""Deduplication family — first-class training-data-pipeline operators.

* precedence_dedup — the reference's order-sensitive dedup (dense results
  beat sparse at equal ids, ai_worker.py:240-256 behavior): NOT
  dropDuplicates — precedence must be encoded as an explicit ordering.
* exact_dedup — hash-groupBy on a content fingerprint.
* minhash_signatures / minhash_lsh_pairs — MinHash + banded LSH candidate
  pairs (shingle → k permutations → band buckets → bucket self-join).
* simhash — 64-bit SimHash from token hashes.
* token_jaccard_pairs — exact n-gram/token Jaccard for oracle-sized inputs
  (the verification twin of the LSH path).

Hashing comes in two modes (`hash_mode` on every near-dup entry point):

* "fast" (default) — xxhash64, JVM-native, the production path.
* "portable" — the low 60 bits of md5 (`conv(substr(md5(s),1,15),16,10)`),
  expressible IDENTICALLY in DuckDB (`CAST('0x'||substr(md5(s),1,15) AS
  BIGINT)`), so the whole banding pipeline can be oracled end-to-end by
  the driver's DuckDB gate. Same algorithm, same banding, same caps —
  only the hash primitive differs. 60 bits (not 64) keeps every value
  non-negative in BOTH engines, sidestepping signed-shift divergence.

Both modes stay, for a measured reason (BENCH/BASELINE.md, "Dedup hash
modes at 10× corpus": 50k docs, local[4], 5 alternating pairs): md5-60
is a string hash where xxhash64 is one native call, so portable costs
most where hashing dominates — rolling_fingerprint 2.7× slower,
duplicate_spans +10 % (slower in every pair), minhash_lsh_pairs +5 %.
simhash_neardup_pairs ran 11 % faster portable, the one exception. Fast
stays the production path; portable is the only form DuckDB replays.

MinHash permutations are (aᵢ·h + bᵢ) mod p with constants from a seeded
generator — deterministic across runs and parallelism.

Scale notes: LSH bucket self-join is the scalable near-dup plan — candidate
pairs only within equal (band, bucket) keys; exact Jaccard on candidates
only. Giant buckets (boilerplate shingles) are the skew risk → cap bucket
size before the self-join (`max_bucket` filter) exactly like production
near-dup pipelines drop degenerate buckets.
"""

from __future__ import annotations

import random
from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# 31-bit Mersenne prime: keeps (a·h + b) within int64 under ANSI arithmetic
# (a, b, h all < 2^31 → product < 2^62). Collision rate is irrelevant for
# MinHash banding at these signature sizes.
_MERSENNE_P = (1 << 31) - 1


def precedence_dedup(df: DataFrame, key: str, precedence: str, tiebreak: list[str]) -> DataFrame:
    """Keep exactly one row per key: lowest `precedence` value wins, then
    tiebreak columns ascending (fully deterministic)."""
    order = [F.asc(precedence)] + [F.asc(c) for c in tiebreak]
    w = Window.partitionBy(key).orderBy(*order)
    return df.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1).drop("_rk")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One representative (min id) per exact content fingerprint."""
    fp = F.md5(F.col(text_col))
    w = Window.partitionBy("fingerprint").orderBy(F.asc(id_col))
    return (
        df.withColumn("fingerprint", fp)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def _perm_constants(k: int, seed: int = 42) -> List[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P)) for _ in range(k)]


def portable_hash60(col: F.Column) -> F.Column:
    """60-bit non-negative hash expressible bit-identically in DuckDB:
    first 15 hex chars of md5, parsed base-16. Spark `conv` and DuckDB
    `CAST('0x'||… AS BIGINT)` agree exactly (verified value-for-value)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _token_hash(col: F.Column, hash_mode: str) -> F.Column:
    if hash_mode == "fast":
        return F.xxhash64(col)
    if hash_mode == "portable":
        return portable_hash60(col)
    raise ValueError(f"hash_mode must be 'fast' or 'portable', got {hash_mode!r}")


def shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, hash_mode: str = "fast"
) -> DataFrame:
    """Word n-gram shingles as (id, shingle_hash). Native: split → slide via
    transform over an index sequence — no UDF. Empty boundary tokens from
    leading/trailing whitespace are removed BEFORE windowing (split(' +')
    can only produce '' at the ends), matching every SQL twin's
    list_filter(x <> '') — an unfiltered side would shift shingle windows
    on whitespace-padded docs and break the cross-engine hash."""
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), " +"), "")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array_distinct(sh)).alias("shingle")
    ).withColumn("h", F.pmod(_token_hash(F.col("shingle"), hash_mode), F.lit(_MERSENNE_P)))


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 16,
    n: int = 3,
    seed: int = 42,
    hash_mode: str = "fast",
) -> DataFrame:
    """(doc_id, sig array<bigint>[k]) — min over permuted shingle hashes."""
    sh = shingles(df, text_col, id_col, n, hash_mode)
    consts = _perm_constants(k, seed)
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))).alias(f"m{i}")
        for i, (a, b) in enumerate(consts)
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select("doc_id", F.array(*[f"m{i}" for i in range(k)]).alias("sig"))


def _capped_bucket_pairs(
    banded: DataFrame,
    bucket_keys: list[str],
    carry_cols: list[str],
    max_bucket: int,
    persist: bool = True,
) -> DataFrame:
    """Shared skeleton of every banded-LSH candidate join: drop degenerate
    buckets (> max_bucket — boilerplate skew guard), self-join within equal
    bucket keys, emit (id_a, id_b [, carry_a/carry_b...]) deduped.

    `banded` (doc_id, *bucket_keys, *carry_cols) is PERSISTED by default —
    it feeds three differently-pruned branches (sizes agg, both join
    sides), which otherwise each recompute the signature pipeline (the
    ReuseExchange-defeat documented at tfidf._term_freq). Pass
    persist=False for throwaway corpora (tests, one-shot checks) so cache
    entries don't accumulate across distinct inputs."""
    from pyspark import StorageLevel

    if persist:
        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = banded.groupBy(*bucket_keys).agg(F.count("*").alias("sz"))
    capped = banded.join(
        sizes.filter(F.col("sz") <= max_bucket).drop("sz"), bucket_keys
    )
    a, b = capped.alias("a"), capped.alias("b")
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    for key in bucket_keys:
        cond = (F.col(f"a.{key}") == F.col(f"b.{key}")) & cond
    sel = [F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")]
    sel += [F.col(f"a.{c}").alias(f"{c}_a") for c in carry_cols]
    sel += [F.col(f"b.{c}").alias(f"{c}_b") for c in carry_cols]
    return a.join(b, cond).select(*sel).distinct()


def minhash_lsh_pairs(
    df: DataFrame, text_col: str, id_col: str, **lsh_kwargs
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) via banded LSH over MinHash:
    k=16 permutations in bands=4 bands over n=3-word shingles (seed=42).
    Buckets larger than max_bucket=500 are dropped (boilerplate skew
    guard); persist=True keeps the banded frame cached for the three
    branches that read it (_capped_bucket_pairs).

    hash_mode="fast" buckets each band through xxhash64 (fixed-width bigint
    keys — the production shape); "portable" uses the band's raw signature
    values joined as a string, so DuckDB replays the IDENTICAL pipeline
    (no xxhash64 there) and the driver can hash-verify the output."""
    return _minhash_lsh(df, text_col, id_col, **lsh_kwargs)[0]


def _minhash_lsh(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_bucket: int = 500,
    persist: bool = True,
    **band_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """minhash_lsh_pairs' pairs, and the banded frame they join (persisted
    when `persist`), for a caller that can release it once it has
    consumed the pairs."""
    banded = _minhash_banded(df, text_col, id_col, **band_kwargs)
    return _minhash_pairs(banded, max_bucket, persist), banded


def _minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    seed: int = 42,
    hash_mode: str = "fast",
) -> DataFrame:
    """(doc_id, band, bucket): each document's MinHash signature cut into
    `bands` band buckets."""
    assert k % bands == 0
    rows_per_band = k // bands
    sig = minhash_signatures(df, text_col, id_col, k, n, seed, hash_mode)

    def _bucket(b: int) -> F.Column:
        elems = [F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
        if hash_mode == "fast":
            return F.xxhash64(*elems)  # bigint bucket key — cheapest shuffle
        return F.concat_ws(",", *[e.cast("string") for e in elems])

    band_cols = [
        F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
        for b in range(bands)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _minhash_pairs(banded: DataFrame, max_bucket: int, persist: bool) -> DataFrame:
    """Candidate pairs of a _minhash_banded frame."""
    return _capped_bucket_pairs(banded, ["band", "bucket"], [], max_bucket, persist)


def _simhash_nbits(hash_mode: str) -> int:
    # portable md5-60 hashes only carry 60 meaningful bits; using exactly
    # those keeps the packed signature non-negative (no signed-shift
    # divergence between Spark and DuckDB)
    return 64 if hash_mode == "fast" else 60


def simhash(
    df: DataFrame, text_col: str, id_col: str, hash_mode: str = "fast"
) -> DataFrame:
    """64-bit (60-bit portable) SimHash: per token hash, each bit votes ±1
    weighted by tf; the sign vector re-packs to a bigint. Native bit math
    only."""
    nbits = _simhash_nbits(hash_mode)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), " +")).alias("token"),
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    h = tf.withColumn("h", _token_hash(F.col("token"), hash_mode))
    # per-bit vote and pack expressions built as SQL text, parsed JVM-side
    # in one call each: the Column-API form issued ~11.5k py4j round
    # trips (~2 s of driver wall PER simhash call) for the same trees
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN tf ELSE -tf END)"
        ).alias(f"b{i}")
        for i in range(nbits)
    ]
    agg = h.groupBy("doc_id").agg(*votes)
    sim = F.expr(
        " + ".join(
            f"(CASE WHEN b{i} > 0 THEN shiftleft(1L, {i}) ELSE 0L END)"
            for i in range(nbits)
        )
    )
    return agg.select("doc_id", sim.cast("bigint").alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket: int = 500,
    hash_mode: str = "fast",
) -> DataFrame:
    """SimHash near-duplicate pairs: hamming(simhash_a, simhash_b) ≤ k.

    Scale shape = pigeonhole banding: split the signature into
    (max_hamming+1) bands — any pair within hamming k agrees EXACTLY on at
    least one band — bucket-join on (band, band_bits), then verify true
    hamming with native bit_count(xor). One shuffle on the band key, exact
    verification only within buckets, degenerate buckets capped like the
    MinHash path."""
    banded = _simhash_banded(df, text_col, id_col, max_hamming, hash_mode)
    return _simhash_pairs(banded, max_hamming, max_bucket, persist=True)


def _simhash_banded(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int, hash_mode: str
) -> DataFrame:
    """(doc_id, simhash, band, bits): each document's SimHash cut into
    max_hamming+1 bands."""
    nbits = _simhash_nbits(hash_mode)
    n_bands = max_hamming + 1
    width = nbits // n_bands
    sig = simhash(df, text_col, id_col, hash_mode)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                # band i = bits [i*width, (i+1)*width); last band absorbs
                # the remainder. UNSIGNED shift — bit 63 is set for half of
                # all signatures and an arithmetic shift would sign-extend
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1 if i < n_bands - 1 else -1))
                .alias("bits"),
            )
            for i in range(n_bands)
        ]
    )
    return sig.select("doc_id", "simhash", F.explode(bands).alias("bb")).select(
        "doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bits").alias("bits")
    )


def _simhash_pairs(
    banded: DataFrame, max_hamming: int, max_bucket: int, persist: bool
) -> DataFrame:
    """Verified pairs (id_a, id_b, hamming) of a _simhash_banded frame."""
    cand = _capped_bucket_pairs(banded, ["band", "bits"], ["simhash"], max_bucket, persist)
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def cosine_neardup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold).

    Exact all-pairs form — the verification twin, oracle-sized inputs only
    (O(n²) nested-loop). The 100 TB path is LSH-bucketed: sign-project both
    sides (operators/similarity.lsh_topk_multi) and run this exact cosine
    only within colliding buckets. The threshold applies to the UNROUNDED
    cosine (a true value in [t-5e-7, t) must not pass via rounding); both
    engines compute the dot product in element order, so the unrounded
    doubles — and therefore the predicate — are identical. Only the
    REPORTED value is rounded to 6dp."""
    from darkbo_spark.operators.similarity import cosine

    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("_c"))
        .filter(F.col("_c") >= min_cosine)
        .select("id_a", "id_b", F.round(F.col("_c"), 6).alias("cosine"))
    )


def token_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, min_jaccard: float = 0.5
) -> DataFrame:
    """Exact token-set Jaccard for all pairs sharing ≥1 token. Oracle-sized
    inputs only — the LSH path is the scale plan."""
    from pyspark import StorageLevel

    # no .distinct() needed: array_distinct already dedups tokens per doc
    # and doc_ids are unique — the extra full shuffle was pure waste
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.lower(F.col(text_col)), " +"))).alias("token"),
    ).filter(F.col("token") != "")
    # persisted: toks feeds the sizes aggregate and both self-join sides
    # (and sizes itself is referenced twice), so the tokenize+explode
    # otherwise reruns per branch
    toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    t = toks
    inter = (
        t.alias("a")
        .join(t.alias("b"), "token")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("_j_raw", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        # filter on the UNROUNDED ratio (the oracle does too); round only the
        # reported value — a true jaccard in [threshold-5e-7, threshold) must
        # not pass via rounding
        .filter(F.col("_j_raw") >= min_jaccard)
        .withColumn("jaccard", F.round(F.col("_j_raw"), 6))
        .select("id_a", "id_b", "jaccard")
    )
    return out


def neardup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs: DataFrame | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """(doc_id, rep_id): every document mapped to its near-duplicate
    CLUSTER representative — candidate pairs (MinHash banding by default,
    or any (id_a, id_b) frame via `pairs`) closed transitively with
    connected components (operators/components.py star contraction),
    representative = min doc_id per cluster, singletons map to themselves.

    This is the step an actual training-data dedup pipeline runs after
    pair generation: near-duplication is transitive in intent (A≈B≈C is
    one document family even when A,C never share a bucket), so keeping
    "one per PAIR" under-dedups. Scale shape: pair generation is the
    banded one-shuffle plan; CC is O(log n) rounds over the (tiny
    relative to the corpus) pair set; the final mapping is one left join.
    """
    from darkbo_spark.operators.components import connected_components

    banded = None
    if pairs is None:
        pairs, banded = _minhash_lsh(df, text_col, id_col, **lsh_kwargs)
    comps = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    if banded is not None:
        # CC checkpointed its edges eagerly: nothing reads the banded
        # frame again, and no caller holds it to unpersist it later
        banded.unpersist()
    # component label IS the min node id (components.py contract)
    mapping = comps.select(
        F.col("node").alias(id_col), F.col("comp").alias("rep_id")
    )
    return (
        df.select(id_col)
        .join(mapping, id_col, "left")
        .select(id_col, F.coalesce("rep_id", F.col(id_col)).alias("rep_id"))
    )


def dedup_keep_best(
    scored: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """(rep_id, kept_doc_id, n_members, best_score): one kept document per
    near-dup cluster — the HIGHEST-scoring member (ties → min doc_id).
    `scored` is (doc_id, score); `clusters` is neardup_clusters' output.
    The quality-aware form of A5's first-wins dedup: a pipeline keeps the
    best page of a duplicate family, not an arbitrary one. One shuffle on
    rep_id (window + count share the partitioning)."""
    from pyspark.sql.window import Window

    j = scored.join(clusters, id_col)
    w = Window.partitionBy("rep_id")
    wr = w.orderBy(F.desc(score_col), F.asc(id_col))
    return (
        j.withColumn("_rk", F.row_number().over(wr))
        .withColumn("n_members", F.count(F.lit(1)).over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "rep_id",
            F.col(id_col).alias("kept_doc_id"),
            "n_members",
            F.col(score_col).alias("best_score"),
        )
    )


def contamination_matches(
    docs: DataFrame,
    bench: DataFrame,
    bench_id_col: str = "bench_id",
    n: int = 8,
) -> DataFrame:
    """Test-set DECONTAMINATION (the GPT-3-style n-gram filter): every
    (training doc, benchmark item) pair sharing at least one n-token
    shingle, with the count of distinct shared shingles —
    (doc_id, bench_id, n_shared), over docs (doc_id, text) and bench
    (bench_id_col, text). Training docs matched here get dropped
    (or audited) before the corpus ships.

    The join keys on the RAW shingle string, not a hash: a removal
    decision must not have hash false positives. Scale shape: the
    benchmark side is small by nature (eval sets) → broadcast; the corpus
    side is one narrow shingle explode — no shuffle of the corpus, no
    all-pairs anything. For a huge benchmark, swap the broadcast for a
    shuffle join on shingle; the operator is otherwise unchanged."""
    d = shingles(docs, "text", "doc_id", n).select("doc_id", "shingle")
    b = shingles(bench, "text", bench_id_col, n).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    return (
        d.join(F.broadcast(b), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
