"""Per-domain document caps — the training-mix guard that stops a single
site from dominating a web corpus (the C4/Gopher "top-k docs per
registered domain" rule), plus the domain extraction it rides on.

Registered-domain extraction is a native column chain (split + slice +
set-membership — zero UDF) driven by a vendored public-suffix-list rule
file with FULL PSL match semantics: longest match wins, `*.X` wildcard
rules, `!Y` exception rules, and the default rule `*` (last label) for
anything not covered. The shipped file
(darkbo_spark/data/public_suffix_subset.dat) is a documented ~250-entry
subset of the well-known ccTLD registries — this sandbox has no network
egress — and `DARKBO_PSL_FILE` drops in the complete upstream
public_suffix_list.dat unchanged (same text format, same parser).
`registered_domain` compiles the rule sets into `isin` literals (Spark
InSet inside codegen, no join, no UDF); `with_registered_domain`, which
the domain queries use, probes one broadcast (suffix → rule flags) table
per label depth instead, so its per-row cost does not grow with the rule
count.

The cap itself is exact top-k per domain. A single `row_number() over
(partition by domain)` is the textbook form but sorts EVERY document of a
head domain on one reducer — the same skew the link join salts against.
`cap_per_domain` therefore runs two phases: phase 1 ranks within
(domain, salt) and keeps k per salt bucket (spreads a head domain over
`salt` reducers; top-k is a selection, so the global top-k survives some
bucket's local top-k); phase 2 ranks the ≤ salt·k survivors per domain —
a frame that is k·salt rows per domain MAX, immune to corpus skew. The
result is bit-identical to the single-window form (pytest + driver
oracle); the cost is one extra exchange over an already-k·salt-bounded
frame.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PSL_DEFAULT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "public_suffix_subset.dat",
)


@dataclass(frozen=True)
class SuffixRules:
    """Parsed PSL rules grouped by label count: exact[k] matches a host
    whose last k labels equal a rule; wildcard[k] holds the BASE of a
    `*.base` rule (k = base's label count — matches make the last k+1
    labels a public suffix); exception[k] holds `!rule` entries (k
    labels — a match caps the public suffix at k-1 labels)."""

    exact: dict[int, frozenset[str]]
    wildcard: dict[int, frozenset[str]]
    exception: dict[int, frozenset[str]]


def parse_psl(text: str) -> SuffixRules:
    """Parse upstream publicsuffix.org text format (// comments, one rule
    per line, first whitespace-separated token)."""
    exact: dict[int, set[str]] = {}
    wild: dict[int, set[str]] = {}
    exc: dict[int, set[str]] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("//"):
            continue
        rule = line.split()[0].lower()
        if rule.startswith("!"):
            body = rule[1:]
            exc.setdefault(body.count(".") + 1, set()).add(body)
        elif rule.startswith("*."):
            base = rule[2:]
            wild.setdefault(base.count(".") + 1, set()).add(base)
        elif rule == "*":
            continue  # the implicit default rule — always applied
        else:
            exact.setdefault(rule.count(".") + 1, set()).add(rule)
    # single-label exact rules are the default rule restated — drop them
    exact.pop(1, None)
    return SuffixRules(
        exact={k: frozenset(v) for k, v in exact.items()},
        wildcard={k: frozenset(v) for k, v in wild.items()},
        exception={k: frozenset(v) for k, v in exc.items()},
    )


_RULES_CACHE: dict[str, SuffixRules] = {}


def load_rules() -> SuffixRules:
    """Rules from $DARKBO_PSL_FILE or the vendored subset — cached per
    path (the rule sets compile into plan literals, so one parse per
    session is plenty)."""
    p = os.environ.get("DARKBO_PSL_FILE") or _PSL_DEFAULT
    if p not in _RULES_CACHE:
        with open(p, encoding="utf-8") as f:
            _RULES_CACHE[p] = parse_psl(f.read())
    return _RULES_CACHE[p]


def host_of(url: Column) -> Column:
    """Lowercased host (no port) of a URL column."""
    rest = F.regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^#]*)", 1)
    hostport = F.lower(F.regexp_extract(rest, "^([^/?]*)", 1))
    return F.regexp_extract(hostport, "^([^:]*)", 1)


def sql_host_of(url: str) -> str:
    """DuckDB twin of host_of over a URL expression."""
    rest = f"regexp_extract({url}, '^[A-Za-z][A-Za-z0-9+.-]*://([^#]*)', 1)"
    hostport = f"lower(regexp_extract({rest}, '^([^/?]*)', 1))"
    return f"regexp_extract({hostport}, '^([^:]*)', 1)"


def public_suffix_len(host: Column, rules: SuffixRules | None = None) -> Column:
    """Label count of the host's public suffix under PSL semantics:
    longest matching rule wins; a matching exception rule caps the
    suffix at (rule labels - 1); the default rule `*` floors it at 1."""
    rules = rules or load_rules()
    labels = F.split(host, "\\.")
    n = F.size(labels)

    def lastk(k: int) -> Column:
        return F.array_join(F.slice(labels, n - (k - 1), k), ".")

    cands = [F.lit(1)]
    for k in sorted(rules.exact):
        cands.append(
            F.when((n >= k) & lastk(k).isin(*sorted(rules.exact[k])), F.lit(k))
            .otherwise(F.lit(1))
        )
    for k in sorted(rules.wildcard):
        cands.append(
            F.when(
                (n >= k + 1) & lastk(k).isin(*sorted(rules.wildcard[k])),
                F.lit(k + 1),
            ).otherwise(F.lit(1))
        )
    ps = F.greatest(*cands) if len(cands) > 1 else cands[0]
    for k in sorted(rules.exception):
        ps = F.when(
            (n >= k) & lastk(k).isin(*sorted(rules.exception[k])), F.lit(k - 1)
        ).otherwise(ps)
    return ps


def registered_domain(host: Column, rules: SuffixRules | None = None) -> Column:
    """Registered domain of a lowercase host: public suffix + one label.
    A host that IS a public suffix (or empty) passes through unchanged —
    the cap operator then treats it as its own domain, which is the safe
    grouping for malformed rows at crawl scale."""
    rules = rules or load_rules()
    labels = F.split(host, "\\.")
    n = F.size(labels)
    ps = public_suffix_len(host, rules)
    reg = F.array_join(F.slice(labels, n - ps, ps + F.lit(1)), ".")
    return F.when(n <= ps, host).otherwise(reg)


def sql_public_suffix_len(host: str, rules: SuffixRules | None = None) -> str:
    """DuckDB twin of public_suffix_len over a lowercase-host expression."""
    rules = rules or load_rules()
    labels = f"string_split({host}, '.')"
    n = f"len({labels})"

    def lastk(k: int) -> str:
        return f"array_to_string(list_slice({labels}, {n} - {k - 1}, {n}), '.')"

    def in_list(vals: frozenset[str]) -> str:
        return ", ".join(f"'{v}'" for v in sorted(vals))

    cands = ["1"]
    for k in sorted(rules.exact):
        cands.append(
            f"(CASE WHEN {n} >= {k} AND {lastk(k)} IN ({in_list(rules.exact[k])}) "
            f"THEN {k} ELSE 1 END)"
        )
    for k in sorted(rules.wildcard):
        cands.append(
            f"(CASE WHEN {n} >= {k + 1} AND {lastk(k)} IN ({in_list(rules.wildcard[k])}) "
            f"THEN {k + 1} ELSE 1 END)"
        )
    ps = f"greatest({', '.join(cands)})" if len(cands) > 1 else cands[0]
    for k in sorted(rules.exception):
        ps = (
            f"(CASE WHEN {n} >= {k} AND {lastk(k)} IN ({in_list(rules.exception[k])}) "
            f"THEN {k - 1} ELSE {ps} END)"
        )
    return ps


def sql_registered_domain(host: str, rules: SuffixRules | None = None) -> str:
    """DuckDB twin of registered_domain over a lowercase-host expression."""
    rules = rules or load_rules()
    labels = f"string_split({host}, '.')"
    n = f"len({labels})"
    ps = sql_public_suffix_len(host, rules)
    reg = f"array_to_string(list_slice({labels}, {n} - {ps}, {n}), '.')"
    return f"(CASE WHEN {n} <= {ps} THEN {host} ELSE {reg} END)"


def cap_per_domain(
    docs: DataFrame,
    k: int,
    order_by: list[Column] | None = None,
    salt: int = 16,
) -> DataFrame:
    """Keep the top-k documents per `domain` under a TOTAL deterministic
    order (order_by then doc_id as the unique tiebreak), with the
    skew-safe two-phase ranking described in the module doc. Output rows
    carry `rk` (1-based final rank within the domain)."""
    order = list(order_by or []) + [F.col("doc_id").asc()]
    salted = docs.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt)).cast("int")
    )
    w1 = Window.partitionBy("domain", "_salt").orderBy(*order)
    phase1 = (
        salted.withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= k)
        .drop("_rk1", "_salt")
    )
    w2 = Window.partitionBy("domain").orderBy(*order)
    return (
        phase1.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
    )


def with_registered_domain(
    df: DataFrame,
    host: Column,
    out_col: str = "domain",
    rules: SuffixRules | None = None,
) -> DataFrame:
    """Attach the registered domain of `host` as `out_col` under full PSL
    semantics, bit-identical to registered_domain (pytest-pinned equal on
    wildcard/exception grids), as ONE broadcast hash join per suffix
    label-depth k: the host's last-k labels probe the (suffix → rule
    flags) table, so per-row cost is K≈3–4 hash probes REGARDLESS of rule
    count — zero shuffle, zero explode, no row multiplication (suffixes
    are unique per depth). registered_domain's inline literals cost more
    per row as rules grow: at ~430 rules the join measured 0.552 s vs
    0.609 s median (BENCH/BASELINE.md "Round 7: domains-family A/B"), and
    the vendored list has 404 rules, the full upstream PSL ~9k."""
    import pandas as pd

    rules = rules or load_rules()
    spark = df.sparkSession
    df = df.withColumn("_rd_host", host)
    labels = F.split(F.col("_rd_host"), "\\.")
    n = F.size(labels)
    ks = sorted(set(rules.exact) | set(rules.wildcard) | set(rules.exception))
    drop_cols = ["_rd_host"]
    for k in ks:
        suf = sorted(
            set(rules.exact.get(k, frozenset()))
            | set(rules.wildcard.get(k, frozenset()))
            | set(rules.exception.get(k, frozenset()))
        )
        rdf = F.broadcast(
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        f"_rd_suf_{k}": suf,
                        f"_rd_exact_{k}": [
                            s in rules.exact.get(k, frozenset()) for s in suf
                        ],
                        f"_rd_wild_{k}": [
                            s in rules.wildcard.get(k, frozenset()) for s in suf
                        ],
                        f"_rd_exc_{k}": [
                            s in rules.exception.get(k, frozenset()) for s in suf
                        ],
                    }
                )
            )
        )
        cand = F.when(n >= k, F.array_join(F.slice(labels, n - (k - 1), k), "."))
        df = df.withColumn(f"_rd_cand_{k}", cand)
        df = df.join(rdf, df[f"_rd_cand_{k}"] == rdf[f"_rd_suf_{k}"], "left")
        drop_cols += [f"_rd_cand_{k}", f"_rd_suf_{k}", f"_rd_exact_{k}",
                      f"_rd_wild_{k}", f"_rd_exc_{k}"]

    # recombine exactly like public_suffix_len: longest win via greatest,
    # exceptions override ascending (largest matching k applied last)
    cands = [F.lit(1)]
    for k in ks:
        if rules.exact.get(k):
            cands.append(
                F.when(
                    F.coalesce(F.col(f"_rd_exact_{k}"), F.lit(False)), F.lit(k)
                ).otherwise(F.lit(1))
            )
        if rules.wildcard.get(k):
            cands.append(
                F.when(
                    F.coalesce(F.col(f"_rd_wild_{k}"), F.lit(False)) & (n >= k + 1),
                    F.lit(k + 1),
                ).otherwise(F.lit(1))
            )
    ps = F.greatest(*cands) if len(cands) > 1 else cands[0]
    for k in ks:
        if rules.exception.get(k):
            ps = F.when(
                F.coalesce(F.col(f"_rd_exc_{k}"), F.lit(False)), F.lit(k - 1)
            ).otherwise(ps)
    reg = F.array_join(F.slice(labels, n - ps, ps + F.lit(1)), ".")
    out = F.when(n <= ps, F.col("_rd_host")).otherwise(reg)
    return df.withColumn(out_col, out).drop(*drop_cols)


def public_suffix_len_py(host: str, rules: SuffixRules | None = None) -> int:
    """Pure-Python twin of public_suffix_len (serving layers turn probe
    hosts into partition buckets driver-side — no Spark job). Identical
    rule application: longest match via max over exact/wildcard
    candidates, exceptions override ascending (largest matching k last),
    default rule floors at 1. Pytest pins equality to the column
    expression over the exotic-suffix grid."""
    rules = rules or load_rules()
    labels = host.split(".")
    n = len(labels)

    def lastk(k: int) -> str:
        return ".".join(labels[n - k :])

    ps = 1
    for k in sorted(rules.exact):
        if n >= k and lastk(k) in rules.exact[k]:
            ps = max(ps, k)
    for k in sorted(rules.wildcard):
        if n >= k + 1 and lastk(k) in rules.wildcard[k]:
            ps = max(ps, k + 1)
    for k in sorted(rules.exception):
        if n >= k and lastk(k) in rules.exception[k]:
            ps = k - 1
    return ps


def registered_domain_py(host: str, rules: SuffixRules | None = None) -> str:
    """Pure-Python twin of registered_domain: public suffix + one label;
    a host that IS a public suffix (or empty) passes through."""
    rules = rules or load_rules()
    labels = host.split(".")
    n = len(labels)
    ps = public_suffix_len_py(host, rules)
    if n <= ps:
        return host
    return ".".join(labels[n - (ps + 1) :])
