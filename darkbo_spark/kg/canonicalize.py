"""Stage C — surface-form canonicalization via connected components.

Builds an undirected alias graph and merges entities whose surface forms
overlap (transitively): nodes are entity ids ("e:{eid}") and normalized
alias strings ("a:{alias}"); an edge links every entity to each of its
aliases, so two entities sharing any alias (or chained through aliases)
land in one component. Component representative = deterministic min eid;
canonical name = the dictionary canonical of that representative.

entities output: (eid, canonical, aliases array) — eid here is the MERGED
id every triple's subj_eid/obj_eid is rewritten to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from darkbo_spark.kg.link import _norm
from darkbo_spark.operators.components import connected_components


# Python-object overhead multiplier on collected string pairs: each Row
# carries two str objects (~49-byte header each) plus tuple/list slots —
# measured ~4-6x the raw character bytes; 6 is the safe side
_PY_OVERHEAD = 6


def _driver_cc_budget_bytes(spark) -> int:
    """The driver-side plans are justified ONLY while the dictionary is
    broadcast-sized — derive the byte budget from the session's own
    broadcast threshold (default 10 MB) instead of a row count: 2M rows of
    short aliases and 50k rows of fat ones are different animals."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    s = str(raw).strip().lower().removesuffix("b")
    mult = units.get(s[-1:], 1)
    num = s[:-1] if s[-1:] in units else s
    try:
        budget = int(float(num)) * mult
    except ValueError:
        budget = 10 << 20
    return budget if budget > 0 else 10 << 20  # -1 = broadcast disabled


def _alias_pairs(entity_dict: DataFrame) -> DataFrame:
    """The distinct (eid, alias_norm) pairs the union-find collects."""
    return entity_dict.select(
        "eid", _norm(F.col("alias")).alias("alias_norm")
    ).distinct()


def dictionary_fits_driver(entity_dict: DataFrame) -> bool:
    """The KG build's one dictionary-size decision: True while the
    estimated collected bytes of the distinct normalized alias pairs
    ((eid + alias_norm chars) × _PY_OVERHEAD, one aggregate job) fit the
    session's broadcast budget.

    True picks the driver side of every choice that collects the
    dictionary to the driver: union-find CC, build_entity_table_driver
    and single-file fusion tables. False picks distributed CC,
    build_entity_table and bucketed fusion tables. Both sides publish the
    same rows (asserted in tests). The link is not on this list: a JVM
    broadcast carries no Python-object overhead, so the pipeline always
    links broadcast."""
    chars = _alias_pairs(entity_dict).agg(
        F.coalesce(
            F.sum(F.length("eid") + F.length("alias_norm")), F.lit(0)
        ).alias("c")
    ).collect()[0].c
    return chars * _PY_OVERHEAD <= _driver_cc_budget_bytes(entity_dict.sparkSession)


def canonicalize_entities(entity_dict: DataFrame, mode: str = "auto") -> DataFrame:
    """→ (eid, canon_eid): mapping from dictionary eid to merged component
    representative eid (min eid in the alias-connected cluster).

    mode:
    * "distributed" — connected components via iterative DataFrame joins
      (operators/components.py, its default round cap). The plan for
      open-vocabulary dictionaries.
    * "driver"      — union-find on the collected (eid, alias) pairs. The
      canonical dictionary is by definition broadcast-bounded (it is the
      broadcast side of the link join), so when it fits, a driver-side
      union-find is strictly better than ~6 shuffle rounds over tiny data.
    * "auto"        — "driver" iff dictionary_fits_driver(entity_dict).

    Both paths produce the identical mapping (asserted in tests).
    """
    if mode == "auto":
        mode = "driver" if dictionary_fits_driver(entity_dict) else "distributed"
    if mode == "driver":
        # collected whole to the driver: prepped in one partition, the
        # distinct needs no shuffle
        return _driver_cc(_alias_pairs(entity_dict.coalesce(1)))
    edges = _alias_pairs(entity_dict).select(
        F.concat(F.lit("e:"), "eid").alias("src"),
        F.concat(F.lit("a:"), "alias_norm").alias("dst"),
    )
    comps = connected_components(edges)
    e_nodes = comps.filter(F.col("node").startswith("e:")).select(
        F.expr("substring(node, 3)").alias("eid"), "comp"
    )
    # representative = min eid within each component
    rep = e_nodes.groupBy("comp").agg(F.min("eid").alias("canon_eid"))
    return e_nodes.join(rep, "comp").select("eid", "canon_eid")


def _driver_cc(pairs: DataFrame) -> DataFrame:
    """Union-find over collected (eid, alias_norm) pairs; representative =
    min eid per alias-connected cluster (same labels as the distributed
    path)."""
    rows = [(r.eid, r.alias_norm) for r in pairs.collect()]
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for eid, alias in rows:
        union("e:" + eid, "a:" + alias)
    clusters: dict[str, str] = {}
    for eid, _ in rows:
        root = find("e:" + eid)
        cur = clusters.get(root)
        if cur is None or eid < cur:
            clusters[root] = eid
    out = [(eid, clusters[find("e:" + eid)]) for eid in {e for e, _ in rows}]
    spark = pairs.sparkSession
    # pandas → Arrow createDataFrame (the list form takes the slow
    # RDD-pickle path and spins a python task for a 400-row table)
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(sorted(out), columns=["eid", "canon_eid"])
    )


def build_entity_table_driver(entity_dict: DataFrame, eid_map: DataFrame) -> DataFrame:
    """Driver-side twin of build_entity_table for broadcast-bounded
    dictionaries (identical output, asserted in tests): the shuffles and
    codegen of three joins/groupBys on a 3k-row table are pure fixed cost."""
    import pandas as pd

    dict_pdf = entity_dict.select("eid", "canonical", "alias").toPandas()
    map_pdf = eid_map.toPandas()
    canon_of = dict(zip(map_pdf["eid"], map_pdf["canon_eid"]))
    canonical_name: dict[str, str] = {}
    aliases: dict[str, set] = {}
    for r in dict_pdf.itertuples():
        rep = canon_of[r.eid]
        aliases.setdefault(rep, set()).add(r.alias)
        if r.eid == rep:
            cur = canonical_name.get(rep)
            if cur is None or r.canonical < cur:
                canonical_name[rep] = r.canonical
    rows = [
        {"eid": rep, "canonical": canonical_name[rep], "aliases": sorted(al)}
        for rep, al in sorted(aliases.items())
    ]
    spark = entity_dict.sparkSession
    return spark.createDataFrame(pd.DataFrame(rows, columns=["eid", "canonical", "aliases"]))


def build_entity_table(entity_dict: DataFrame, eid_map: DataFrame) -> DataFrame:
    """→ entities(eid, canonical, aliases array<string>) post-merge."""
    merged = entity_dict.join(eid_map, "eid").select(
        F.col("canon_eid").alias("eid"), "canonical", "alias"
    )
    canon_names = (
        entity_dict.join(eid_map, "eid")
        .filter(F.col("eid") == F.col("canon_eid"))
        .select(F.col("canon_eid").alias("eid"), "canonical")
        .distinct()
        .groupBy("eid")
        .agg(F.min("canonical").alias("canonical"))
    )
    aliases = merged.groupBy("eid").agg(
        F.array_sort(F.collect_set("alias")).alias("aliases")
    )
    return canon_names.join(aliases, "eid")
