"""Deterministic synthetic Common-Crawl-style pages table + the canonical
entity dictionary.

Shape per BASELINE.json input_hint: (url:string, warc_ts:timestamp,
html:binary, text:string, lang:string). Generation is DISTRIBUTED
(spark.range → mapInPandas) and per-row seeded — content for row *i*
depends only on (seed, i), never on partitioning, so any two runs at any
parallelism produce identical bytes. No external data.

The entity dictionary is the broadcast side of the link stage's hash join
(reference analog: the surface-form→canonical-name sniff in the project
auto-discovery, prebuild_kb.py:84-103). Head-entity skew is built in:
entity mentions are Zipf-distributed, so a handful of canonical entities
dominate — exactly the skew the salted join in kg/link.py must handle.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from darkbo_spark.reference_impl import uuid5_id

# ---------------------------------------------------------------------------
# Fixed vocabulary (module-level constants → identical everywhere)
# ---------------------------------------------------------------------------

_ADJ = [
    "Acme", "Global", "United", "Quantum", "Stellar", "Pioneer", "Vertex",
    "Summit", "Atlas", "Nimbus", "Orion", "Zenith", "Crimson", "Silver",
    "Golden", "Northern", "Pacific", "Atlantic", "Digital", "Solar",
]
_NOUN = [
    "Systems", "Industries", "Labs", "Dynamics", "Technologies", "Group",
    "Holdings", "Networks", "Analytics", "Robotics",
]
_FIRST = [
    "Alice", "Robert", "Maria", "James", "Wei", "Fatima", "Carlos", "Nina",
    "Oleg", "Priya", "Tom", "Sara", "Kenji", "Lena", "Omar",
]
_LAST = [
    "Walker", "Chen", "Garcia", "Patel", "Novak", "Kim", "Schmidt",
    "Okafor", "Silva", "Jones",
]
_CITIES = [
    "Springfield", "New York", "San Francisco", "Berlin", "Tokyo", "Lagos",
    "Mumbai", "Toronto", "Sydney", "Oslo", "Lisbon", "Prague", "Austin",
    "Denver", "Seoul", "Nairobi",
]
_PRODUCTS = [
    "SkyDrive", "HyperCore", "NeuraLink", "CloudForge", "DataWeave",
    "PulseNet", "TerraScan", "OmniBoard",
]
_NOISE = [
    "The quarterly report shows steady growth across all segments.",
    "Visitors can subscribe to the newsletter for weekly updates.",
    "This page uses cookies to improve the browsing experience.",
    "Read more about our privacy policy and terms of service.",
    "Click here to download the latest annual summary.",
    "Market conditions remained volatile throughout the period.",
    "The committee will reconvene after the summer recess.",
    "Several minor issues were resolved during routine maintenance.",
]
_IS_A_KINDS = [
    "technology company", "logistics company", "consulting firm",
    "research organization", "media company",
]


def build_entity_dictionary() -> List[dict]:
    """Canonical entities with alias surface forms. Deterministic constant.

    Returns rows {eid, canonical, alias, kind}; one row per alias (the
    exploded broadcast shape the link join consumes).
    """
    rows: List[dict] = []

    def add(canonical: str, aliases: List[str], kind: str) -> None:
        eid = uuid5_id("entity", canonical)
        seen = set()
        for a in [canonical] + aliases:
            if a.lower() not in seen:
                seen.add(a.lower())
                rows.append(
                    {"eid": eid, "canonical": canonical, "alias": a, "kind": kind}
                )

    for adj in _ADJ:
        for noun in _NOUN:
            canonical = f"{adj} {noun}"
            add(
                canonical,
                [
                    f"{canonical} Inc",
                    f"The {canonical} Company",
                    f"{adj}{noun[:3]}",  # fused short form, e.g. AcmeSys
                ],
                "company",
            )
    for f in _FIRST:
        for l in _LAST:
            add(f"{f} {l}", [f"{f[0]} {l}"], "person")
    for c in _CITIES:
        add(c, [], "place")
    for p in _PRODUCTS:
        add(p, [f"{p} Pro"], "product")
    return rows


_COMPANIES = [f"{a} {n}" for a in _ADJ for n in _NOUN]
_PEOPLE = [f"{f} {l}" for f in _FIRST for l in _LAST]

# alias choices per company, index-aligned with dictionary forms
def _company_forms(c: str) -> List[str]:
    adj, noun = c.split(" ", 1)
    return [c, f"{c} Inc", f"The {c} Company", f"{adj}{noun[:3]}"]


def _person_forms(p: str) -> List[str]:
    f, l = p.split(" ", 1)
    return [p, f"{f[0]} {l}"]


def _zipf_pick(rng: random.Random, items: List[str]) -> str:
    """Zipf(1)-ish rank-weighted pick → heavy head skew."""
    n = len(items)
    # inverse-CDF sampling of 1/rank weights via rejection-free trick
    u = rng.random()
    # harmonic normalization approximated; exact determinism is what matters
    total = sum(1.0 / (i + 1) for i in range(n))
    acc = 0.0
    for i in range(n):
        acc += (1.0 / (i + 1)) / total
        if u <= acc:
            return items[i]
    return items[-1]


# ---------------------------------------------------------------------------
# Per-page synthesis
# ---------------------------------------------------------------------------

_SEPARATORS = [" ", "  ", "\n", " \t ", "\n\n  ", "   "]
_JUNK = ["", "", "", " • ", " ™ ", " ### ", " || "]

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _gen_page(seed: int, i: int, with_gt: bool, with_html: bool = True) -> dict:
    rng = random.Random((seed << 34) ^ (i * 0x9E3779B97F4A7C15 & 0x7FFFFFFFFFFFFFFF))
    lang = "en" if rng.random() >= 0.10 else rng.choice(["de", "es", "fr", "zh"])
    facts: List[str] = []
    gt: List[dict] = []

    def company() -> tuple[str, str]:
        c = _zipf_pick(rng, _COMPANIES)
        return rng.choice(_company_forms(c)), c

    def person() -> tuple[str, str]:
        p = _zipf_pick(rng, _PEOPLE)
        return rng.choice(_person_forms(p)), p

    if lang == "en":
        n_facts = rng.randint(2, 6)
        for _ in range(n_facts):
            kind = rng.randrange(8)
            if kind == 0:
                s, cs = company()
                o = str(rng.randint(1950, 2023))
                facts.append(f"{s} was founded in {o}.")
                gt.append({"s": s, "p": "founded_in", "o": o, "se": cs, "oe": None})
            elif kind == 1:
                s, cs = company()
                o = rng.choice(_CITIES)
                verb = rng.choice(["based", "headquartered"])
                facts.append(f"{s} is {verb} in {o}.")
                gt.append({"s": s, "p": "based_in", "o": o, "se": cs, "oe": o})
            elif kind == 2:
                s, ps = person()
                o, co = company()
                facts.append(f"{s} is the CEO of {o}.")
                gt.append({"s": s, "p": "ceo_of", "o": o, "se": ps, "oe": co})
            elif kind == 3:
                s, ps = person()
                o, co = company()
                verb = rng.choice(["at", "for"])
                facts.append(f"{s} works {verb} {o}.")
                gt.append({"s": s, "p": "works_at", "o": o, "se": ps, "oe": co})
            elif kind == 4:
                s, cs = company()
                o, co = company()
                if co != cs:
                    facts.append(f"{s} acquired {o}.")
                    gt.append({"s": s, "p": "acquired", "o": o, "se": cs, "oe": co})
            elif kind == 5:
                s, ps = person()
                o = rng.choice(_CITIES)
                facts.append(f"{s} was born in {o}.")
                gt.append({"s": s, "p": "born_in", "o": o, "se": ps, "oe": o})
            elif kind == 6:
                s, cs = company()
                o = rng.choice(_PRODUCTS)
                facts.append(f"{s} launched {o}.")
                gt.append({"s": s, "p": "launched", "o": o, "se": cs, "oe": o})
            else:
                s, cs = company()
                o = rng.choice(_IS_A_KINDS)
                facts.append(f"{s} is a {o}.")
                gt.append({"s": s, "p": "is_a", "o": o, "se": cs, "oe": None})

    noise = rng.sample(_NOISE, rng.randint(2, 5))
    sentences = facts + noise
    rng.shuffle(sentences)

    # messy raw text: random separators + junk the cleaner must strip
    parts: List[str] = []
    for s in sentences:
        parts.append(rng.choice(_JUNK))
        parts.append(s)
        parts.append(rng.choice(_SEPARATORS))
    raw_text = "".join(parts)

    if with_html:
        title = f"Page {i}"
        body = "".join(f"<p>{s}</p>\n" for s in sentences)
        html = (
            f"<html><head><title>{title}</title>"
            f"<style>p {{margin: 0}}</style><script>var t={i};</script></head>"
            f"<body>\n{body}<div class='footer'>generated</div></body></html>"
        ).encode("utf-8")
    else:
        html = None

    row = {
        "page_id": i,
        "url": f"https://site{i % 997}.example.com/page/{i}",
        "warc_ts": _EPOCH + dt.timedelta(seconds=37 * i),
        "html": html,
        "text": raw_text,
        "lang": lang,
    }
    if with_gt:
        row["gt_triples"] = json.dumps(gt, sort_keys=True)
    return row


PAGES_SCHEMA = StructType(
    [
        StructField("page_id", LongType()),
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

PAGES_GT_SCHEMA = StructType(PAGES_SCHEMA.fields + [StructField("gt_triples", StringType())])


def synth_pages(
    spark: SparkSession,
    n_pages: int,
    seed: int = 42,
    with_ground_truth: bool = False,
    columns: list[str] | None = None,
) -> DataFrame:
    """Distributed deterministic pages table. Content of row i depends only
    on (seed, i) — safe to regenerate at any parallelism.

    `columns` emulates the column pruning a real parquet/Iceberg pages scan
    gets for free: mapInPandas cannot be pruned by Catalyst, so callers that
    don't need `html` (the extract stage reads `text` only) pass the subset
    and skip shipping megabytes of binary through Arrow."""
    schema = PAGES_GT_SCHEMA if with_ground_truth else PAGES_SCHEMA
    if columns is not None:
        schema = StructType([f for f in schema.fields if f.name in columns])
    cols = [f.name for f in schema.fields]
    want_html = "html" in cols

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [
                _gen_page(seed, int(i), with_ground_truth, want_html) for i in b["id"]
            ]
            yield pd.DataFrame(rows, columns=cols)

    # 2-4 partitions per core: enough granularity to load-balance the
    # python generator without drowning small runs in task overhead
    cores = spark.sparkContext.defaultParallelism
    num_partitions = max(2 * cores, min(n_pages // 2500, 4 * cores), 8)
    base = spark.range(0, n_pages, numPartitions=num_partitions)
    return base.mapInPandas(gen, schema=schema)


def entity_dictionary_df(spark: SparkSession) -> DataFrame:
    """The canonical entity dictionary as a (small, broadcastable) DataFrame:
    (eid, canonical, alias, kind), one row per alias surface form."""
    return spark.createDataFrame(pd.DataFrame(build_entity_dictionary()))
