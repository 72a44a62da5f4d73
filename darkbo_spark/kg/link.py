"""Stage L — entity linking: triples × canonical entity dictionary.

raw_triples(url, sent_idx, subj, pred, obj, triple_id)
  → linked(…, subj_eid, obj_eid)

Two strategies, selected by `strategy` (run_pipeline links broadcast):

* "broadcast" (default): the dictionary is bounded (canonical entity list),
  so both lookups are BROADCAST hash joins — zero shuffle of the (huge)
  triples side. This is the correct plan at 100 TB whenever the dictionary
  fits the broadcast threshold.
* "salted": explicit skew-defeating shuffle join for when the dictionary
  outgrows broadcast. Mentions are Zipf-skewed (head entities dominate), so
  a plain shuffle join would put one head key in one reducer. The big side
  gets a deterministic salt `pmod(xxhash64(triple_id), S)`; the dictionary
  side is exploded ×S; the join key becomes (alias_norm, salt) — spreading
  each head key over S = SALT_BUCKETS (16) reducers, the factor the skew
  measurement below used. AQE skew-join remains on as a backstop.
  Measured against a plain shuffle join: BENCH/BASELINE.md, "Salted link
  vs plain shuffle join".

Surface normalization for matching: lowercase, trim, strip a leading
"the " (the dictionary side is normalized identically at build time).
Reference analog: case-folded substring sniffing, prebuild_kb.py:91-99.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SALT_BUCKETS = 16
# the sign-LSH bucketing of embed_candidates; the oracle twin replays it
# as embed_candidates_oracle_sql(min_cosine, EMBED_PLANES, EMBED_SEED)
EMBED_PLANES = 6
EMBED_SEED = 42


def _norm(col: F.Column) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(col)), r"^the ", "")


def _prep_dict(entity_dict: DataFrame) -> DataFrame:
    """(alias_norm, eid); on duplicate alias_norm keep the lexicographically
    smallest eid so linking is deterministic."""
    return (
        entity_dict.select(_norm(F.col("alias")).alias("alias_norm"), "eid")
        .groupBy("alias_norm")
        .agg(F.min("eid").alias("eid"))
    )


def _link_side(
    triples: DataFrame,
    dict_norm: DataFrame,
    surface_col: str,
    out_col: str,
    strategy: str,
) -> DataFrame:
    key = _norm(F.col(surface_col))
    if strategy == "broadcast":
        d = F.broadcast(dict_norm.withColumnRenamed("eid", out_col))
        return triples.join(d, key == d["alias_norm"], "left").drop("alias_norm")
    if strategy == "salted":
        salted_big = triples.withColumn(
            "_salt", F.pmod(F.xxhash64("triple_id", F.lit(surface_col)), F.lit(SALT_BUCKETS))
        )
        salted_dict = (
            dict_norm.withColumn(
                "_salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
            )
            .withColumn("_salt", F.col("_salt").cast("bigint"))
            .withColumnRenamed("eid", out_col)
        )
        joined = salted_big.join(
            salted_dict,
            (key == salted_dict["alias_norm"]) & (salted_big["_salt"] == salted_dict["_salt"]),
            "left",
        )
        return joined.drop("alias_norm").drop("_salt")
    raise ValueError(f"unknown link strategy: {strategy}")


def link_entities(
    raw_triples: DataFrame, entity_dict: DataFrame, strategy: str = "broadcast"
) -> DataFrame:
    """Attach subj_eid / obj_eid by exact normalized-alias match. Unmatched
    surfaces keep null eids (literals: years, free-text objects)."""
    if strategy == "broadcast":
        # the dictionary is collected whole to be broadcast: prepped in one
        # partition, its aggregate needs no shuffle
        entity_dict = entity_dict.coalesce(1)
    dict_norm = _prep_dict(entity_dict)
    out = _link_side(raw_triples, dict_norm, "subj", "subj_eid", strategy)
    return _link_side(out, dict_norm, "obj", "obj_eid", strategy)


def _best_per_surface(scored: DataFrame, score_col: str) -> DataFrame:
    """(s_norm, eid, alias_norm, score_col): the one best candidate per
    surface — highest score, then smallest eid, then smallest alias."""
    w = Window.partitionBy("s_norm").orderBy(
        F.desc(score_col), F.asc("eid"), F.asc("alias_norm")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("s_norm", "eid", "alias_norm", score_col)
    )


def fuzzy_candidates(
    unmatched: DataFrame,
    entity_dict: DataFrame,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Token-Jaccard candidate generation for surfaces that miss the exact
    alias join (the TF-IDF/embedding candidate path of the north star in its
    cheapest deterministic form).

    Both sides explode to (token, key) postings; a shuffle join on token
    produces candidate pairs; Jaccard = |∩| / (|A|+|B|-|∩|); keep argmax per
    `surface` above threshold. All native ops — no UDF.
    """
    surf = (
        unmatched.select(_norm(F.col("surface")).alias("s_norm"))
        .distinct()
        .withColumn("s_tokens", F.split(F.col("s_norm"), " "))
        .withColumn("s_size", F.size("s_tokens"))
    )
    dic = (
        entity_dict.select(_norm(F.col("alias")).alias("alias_norm"), "eid")
        .distinct()
        .withColumn("d_tokens", F.split(F.col("alias_norm"), " "))
        .withColumn("d_size", F.size("d_tokens"))
    )
    s_post = surf.select("s_norm", "s_size", F.explode("s_tokens").alias("token")).distinct()
    d_post = dic.select("alias_norm", "eid", "d_size", F.explode("d_tokens").alias("token")).distinct()
    inter = (
        s_post.join(d_post, "token")
        .groupBy("s_norm", "s_size", "alias_norm", "eid", "d_size")
        .agg(F.count("*").alias("overlap"))
    )
    scored = inter.withColumn(
        "jaccard",
        F.col("overlap") / (F.col("s_size") + F.col("d_size") - F.col("overlap")),
    ).filter(F.col("jaccard") >= min_jaccard)
    return _best_per_surface(scored, "jaccard")


def embed_candidates(
    unmatched: DataFrame,
    entity_dict: DataFrame,
    min_cosine: float = 0.7,
) -> DataFrame:
    """Embedding-based candidate generation (SURVEY §7.2 M3's second leg):
    normalized surfaces and dictionary aliases are embedded with the A7
    encoder (functions/embed.py — deterministic hash encoder here, real
    sentence-transformer at the same seam in production), sign-LSH
    bucketed, and cosine-scored ONLY within colliding buckets; argmax per
    surface above `min_cosine` wins (eid, then alias as tie-breaks).

    Same output shape as `fuzzy_candidates` — (s_norm, eid, alias_norm,
    score col) — so the two generators are drop-in alternates behind
    `apply_fuzzy_fallback(method=...)`. Scale shape: one narrow Arrow
    pass per side to embed, one shuffle on the LSH bucket — never an
    all-pairs surface × alias product."""
    from darkbo_spark.functions.embed import EMBED_DIM, embed_udf
    from darkbo_spark.operators.similarity import (
        _sign_bucket,
        cosine,
        l2_norm,
        random_planes,
    )

    planes = random_planes(EMBED_DIM, EMBED_PLANES, EMBED_SEED)
    # the encoder emits unit vectors — except for empty/sign-cancelling
    # surfaces, which come back all-zero and would divide-by-zero in the
    # cosine under ANSI; a zero vector matches nothing, so drop it early
    surf = (
        unmatched.select(_norm(F.col("surface")).alias("s_norm"))
        .distinct()
        .withColumn(
            "s_vec", F.transform(embed_udf(F.col("s_norm")), lambda x: x.cast("double"))
        )
        .filter(l2_norm(F.col("s_vec")) > 0)
        .withColumn("_bucket", _sign_bucket("s_vec", planes))
    )
    dic = (
        entity_dict.select(_norm(F.col("alias")).alias("alias_norm"), "eid")
        .distinct()
        .withColumn(
            "d_vec",
            F.transform(embed_udf(F.col("alias_norm")), lambda x: x.cast("double")),
        )
        .filter(l2_norm(F.col("d_vec")) > 0)
        .withColumn("_bucket", _sign_bucket("d_vec", planes))
    )
    scored = (
        surf.join(dic, "_bucket")
        .withColumn("cosine", F.round(cosine(F.col("s_vec"), F.col("d_vec")), 6))
        .filter(F.col("cosine") >= min_cosine)
    )
    return _best_per_surface(scored, "cosine")


def apply_fuzzy_fallback(
    linked: DataFrame,
    entity_dict: DataFrame,
    method: str = "jaccard",
    **kwargs,
) -> DataFrame:
    """Second-chance linking: fill null subj_eid/obj_eid from a fuzzy
    candidate generator — "jaccard" (token-overlap postings join) or
    "embed" (LSH over alias embeddings). Candidates are computed ONCE over
    the union of both sides' unmatched surfaces; already-linked rows are
    never touched. Candidate maps are bounded by the distinct unmatched
    surfaces that clear the threshold, so the join back is left to AQE
    (broadcast when small, shuffle otherwise)."""
    gen = {"jaccard": fuzzy_candidates, "embed": embed_candidates}.get(method)
    if gen is None:
        raise ValueError(f"unknown fuzzy fallback method: {method}")
    unmatched = (
        linked.filter(F.col("subj_eid").isNull()).select(F.col("subj").alias("surface"))
        .unionByName(
            linked.filter(F.col("obj_eid").isNull()).select(F.col("obj").alias("surface"))
        )
    )
    cmap = gen(unmatched, entity_dict, **kwargs).select(
        "s_norm", F.col("eid").alias("_fb_eid")
    )
    for surface_col, eid_col in (("subj", "subj_eid"), ("obj", "obj_eid")):
        key = _norm(F.col(surface_col))
        linked = (
            linked.join(cmap, key == cmap["s_norm"], "left")
            .withColumn(eid_col, F.coalesce(F.col(eid_col), F.col("_fb_eid")))
            .drop("s_norm", "_fb_eid")
        )
    return linked


def augment_dictionary(entity_dict: DataFrame, nil: DataFrame) -> DataFrame:
    """Dictionary GROWTH — close the NIL-mining loop: one new canonical
    entity per mined surface (kg/temporal.nil_candidates output), eid
    'nil:<surface_norm>' (namespaced so grown ids never collide with
    curated ones), alias = the candidate's example surface, which
    normalizes back to surface_norm — so a relink with the grown
    dictionary picks up EVERY mention of the recurring surface. Returns
    the union under the INPUT dictionary's schema (grown rows fill
    `canonical` with the example surface and any other column with a
    typed null, so the pipeline's entity-table build consumes the grown
    dictionary unchanged); feed it back through link_entities /
    run_pipeline for the round trip. Scale shape: the nil table is
    recurring-surface-bounded (far smaller than the mention stream) and
    the union stays on the dictionary side of the broadcast join."""
    new = nil.select(
        F.concat(F.lit("nil:"), F.col("surface_norm")).alias("eid"),
        F.col("example_surface").alias("alias"),
    )
    types = dict(entity_dict.dtypes)
    for c in entity_dict.columns:
        if c in new.columns:
            continue
        new = new.withColumn(
            c,
            F.col("alias") if c == "canonical" else F.lit(None).cast(types[c]),
        )
    return entity_dict.unionByName(new.select(*entity_dict.columns))


def link_rate(linked: DataFrame) -> DataFrame:
    """One metrics row over subject mentions: (n_mentions, n_linked,
    link_rate 6dp) — the before/after evidence a dictionary-growth pass
    publishes with its run."""
    return (
        linked.agg(
            F.count("*").cast("bigint").alias("n_mentions"),
            F.sum(F.col("subj_eid").isNotNull().cast("int"))
            .cast("bigint")
            .alias("n_linked"),
        )
        .select(
            "n_mentions",
            "n_linked",
            F.round(
                F.col("n_linked").cast("double") / F.col("n_mentions").cast("double"),
                6,
            ).alias("link_rate"),
        )
    )
