"""Per-domain caps + registered-domain extraction (operators/domains.py)."""

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from darkbo_spark.operators.domains import (
    cap_per_domain,
    host_of,
    registered_domain,
)


def test_registered_domain_rules(spark):
    hosts = [
        ("www.example.com", "example.com"),
        ("a.b.news.co.uk", "news.co.uk"),  # multi-part suffix → last 3
        ("shop.com.au", "shop.com.au"),  # host IS suffix+label, 3 labels
        ("example.org", "example.org"),
        ("localhost", "localhost"),  # single label → unchanged
        ("deep.sub.tree.example.com", "example.com"),
    ]
    df = spark.createDataFrame(pd.DataFrame(hosts, columns=["host", "want"]))
    rows = df.select("want", registered_domain(F.col("host")).alias("got")).collect()
    for r in rows:
        assert r.got == r.want, f"{r.got} != {r.want}"


def test_host_of_strips_port_and_case(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "url": ["HTTPS://WWW.Site.COM:8443/a/b?q=1#frag", "http://host.org/x"]
    }))
    got = [r.h for r in df.select(host_of(F.col("url")).alias("h")).collect()]
    assert got == ["www.site.com", "host.org"]


def _skewed(spark, n=500, head_frac=0.6):
    head = int(n * head_frac)
    rows = [(i, "big.com" if i < head else f"site{i % 37}.org", (i * 31) % 997)
            for i in range(n)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "domain", "score"])
    )


def test_two_phase_cap_equals_single_window(spark):
    docs = _skewed(spark)
    got = cap_per_domain(docs, k=7, order_by=[F.col("score").desc()])
    w = Window.partitionBy("domain").orderBy(F.col("score").desc(), F.col("doc_id"))
    want = (
        docs.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 7)
    )
    a = sorted((r.doc_id, r.domain, r.rk) for r in got.collect())
    b = sorted((r.doc_id, r.domain, r.rk) for r in want.collect())
    assert a == b


def test_cap_salt_invariance(spark):
    docs = _skewed(spark, n=300)
    base = sorted(r.doc_id for r in cap_per_domain(docs, k=4, salt=16).collect())
    for s in (1, 3, 64):
        got = sorted(r.doc_id for r in cap_per_domain(docs, k=4, salt=s).collect())
        assert got == base, f"salt={s} changed the selection"


def test_cap_small_domains_untouched(spark):
    docs = _skewed(spark, n=50, head_frac=0.0)  # every domain below k
    assert cap_per_domain(docs, k=10).count() == 50


# PSL official test vectors (publicsuffix.org test_psl.txt style) for the
# rule classes the vendored subset carries: exact multi-level, wildcard
# *.X, exception !Y, 4-label exact (pvt.k12.ma.us), and the default rule.
_PSL_CASES = [
    ("www.example.com", "example.com"),            # default rule
    ("deep.sub.tree.example.com", "example.com"),
    ("example.com", "example.com"),
    ("com", "com"),                                # host IS a suffix
    ("a.b.news.co.uk", "news.co.uk"),              # exact level-2
    ("co.uk", "co.uk"),
    ("deep.sub.school.sch.uk", "sub.school.sch.uk"),  # *.sch.uk → ps level 3
    ("www.foo.ck", "www.foo.ck"),                  # *.ck → foo.ck is a ps
    ("a.www.foo.ck", "www.foo.ck"),
    ("www.ck", "www.ck"),                          # !www.ck → ps = ck
    ("x.www.ck", "www.ck"),
    ("city.kobe.jp", "city.kobe.jp"),              # !city.kobe.jp → ps = kobe.jp
    ("w.city.kobe.jp", "city.kobe.jp"),
    ("shop.foo.kobe.jp", "shop.foo.kobe.jp"),      # *.kobe.jp → foo.kobe.jp is a ps
    ("school.pvt.k12.ma.us", "school.pvt.k12.ma.us"),  # 4-label exact rule
    ("w.school.pvt.k12.ma.us", "school.pvt.k12.ma.us"),
    ("district.k12.ca.us", "district.k12.ca.us"),  # 3-label exact rule
    ("w.district.k12.ca.us", "district.k12.ca.us"),
    ("site.gouv.fr", "site.gouv.fr"),
    ("x.site.gouv.fr", "site.gouv.fr"),
]


def test_psl_semantics_spark_and_sql_twins(spark):
    """Wildcards, exceptions, longest-match, default rule — Spark column
    and DuckDB twin agree with the PSL spec on every case."""
    import duckdb

    from darkbo_spark.operators.domains import sql_registered_domain

    df = spark.createDataFrame(pd.DataFrame(_PSL_CASES, columns=["host", "want"]))
    for r in df.select(
        "host", "want", registered_domain(F.col("host")).alias("got")
    ).collect():
        assert r.got == r.want, f"spark: {r.host} -> {r.got} != {r.want}"
    con = duckdb.connect()
    expr = sql_registered_domain("host")
    for host, want in _PSL_CASES:
        got = con.execute(
            f"SELECT {expr} FROM (SELECT ? AS host)", [host]
        ).fetchone()[0]
        assert got == want, f"duckdb: {host} -> {got} != {want}"


def test_psl_file_seam(tmp_path, monkeypatch):
    """DARKBO_PSL_FILE drops in an upstream-format file: rules from the
    override replace the vendored subset entirely."""
    from darkbo_spark.operators import domains

    p = tmp_path / "mini_psl.dat"
    p.write_text(
        "// upstream format\ncom\n*.custom\n!keep.custom\nspecial.test\n"
    )
    monkeypatch.setenv("DARKBO_PSL_FILE", str(p))
    rules = domains.load_rules()
    assert rules.exact == {2: frozenset({"special.test"})}
    assert rules.wildcard == {1: frozenset({"custom"})}
    assert rules.exception == {2: frozenset({"keep.custom"})}


def test_psl_parser_tolerates_upstream_noise():
    from darkbo_spark.operators.domains import parse_psl

    rules = parse_psl(
        "// comment\n\n  co.uk  \n*.ck\n!www.ck\n*\nuk\n"
    )
    assert rules.exact == {2: frozenset({"co.uk"})}  # '*' and 'uk' dropped
    assert rules.wildcard == {1: frozenset({"ck"})}
    assert rules.exception == {2: frozenset({"www.ck"})}


def test_join_impl_equals_expr_impl(spark):
    """with_registered_domain's broadcast-probe join form is bit-identical
    to the inline-literal expr form across exact/wildcard/exception/
    default branches (the two physical plans must never diverge on
    values)."""
    import pandas as pd

    from darkbo_spark.operators.domains import (
        load_rules,
        registered_domain,
        with_registered_domain,
    )

    hosts = [
        "www.example.co.uk", "example.co.uk", "co.uk",       # exact 2
        "a.b.sch.uk", "b.sch.uk", "sch.uk",                  # wildcard
        "www.foo.com", "foo.com", "com", "", "single",
        "x.y.z.com.au", "deep.sub.kobe.jp", "www.metro.tokyo.jp",
        "city.kawasaki.jp", "x.city.kawasaki.jp",            # exception
    ]
    df = spark.createDataFrame(pd.DataFrame({"host": hosts}))
    rules = load_rules()
    a = {
        r.host: r.domain
        for r in df.withColumn(
            "domain", registered_domain(F.col("host"), rules)
        ).collect()
    }
    b = {
        r.host: r.domain
        for r in with_registered_domain(
            df, F.col("host"), "domain", rules=rules
        ).collect()
    }
    assert a == b


def test_registered_domain_py_equals_column_expr(spark):
    """The driver-side Python twin (probe bucketing for stored-index
    serving) equals the column expression across exact/wildcard/
    exception/default branches."""
    import pandas as pd

    from darkbo_spark.operators.domains import (
        load_rules,
        registered_domain,
        registered_domain_py,
    )

    hosts = [
        "www.example.co.uk", "example.co.uk", "co.uk",
        "a.b.sch.uk", "b.sch.uk", "sch.uk",
        "www.foo.com", "foo.com", "com", "", "single",
        "x.y.z.com.au", "deep.sub.kobe.jp", "www.metro.tokyo.jp",
        "city.kawasaki.jp", "x.city.kawasaki.jp", "sub1.site3.com",
    ]
    rules = load_rules()
    df = spark.createDataFrame(pd.DataFrame({"host": hosts}))
    col_form = {
        r.host: r.domain
        for r in df.withColumn(
            "domain", registered_domain(F.col("host"), rules)
        ).collect()
    }
    assert col_form == {h: registered_domain_py(h, rules) for h in hosts}
