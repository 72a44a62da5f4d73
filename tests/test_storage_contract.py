"""Backend-agnostic storage contract tests: ONE shared body runs over
every available VersionedTable implementation — SnapshotTable always,
IcebergTable when pyiceberg is installed (auto-skip otherwise, same seam
pattern as the model seams in test_model_seams.py). This is the tested
form of the "swap the storage module" claim."""

import pandas as pd
import pytest

from darkbo_spark.storage.iceberg import HAVE_PYICEBERG
from darkbo_spark.storage.interface import VersionedTable
from darkbo_spark.storage.snapshots import SnapshotTable

BACKENDS = ["snapshot"] + (["iceberg"] if HAVE_PYICEBERG else [])


@pytest.fixture(params=BACKENDS)
def make(request, tmp_path):
    if request.param == "snapshot":
        return lambda name: SnapshotTable(str(tmp_path), name)
    from darkbo_spark.storage.iceberg import IcebergTable, local_catalog

    catalog = local_catalog(str(tmp_path))
    return lambda name: IcebergTable(catalog, name)


def _df(spark, n):
    return spark.createDataFrame(pd.DataFrame({"x": list(range(n))}))


def test_satisfies_protocol(make):
    assert isinstance(make("proto"), VersionedTable)


def test_publish_skip_read(spark, make):
    t = make("c1")
    assert t.current_fingerprint() is None
    with pytest.raises(FileNotFoundError):
        t.read(spark)
    v1 = t.publish(_df(spark, 5), "fp_a")
    assert t.read(spark).count() == 5
    assert t.current_fingerprint() == "fp_a"
    # fingerprint match → incremental no-op, version id unchanged
    assert t.publish(_df(spark, 99), "fp_a") == v1
    assert t.read(spark).count() == 5
    # new fingerprint → new version, pointer moves
    v2 = t.publish(_df(spark, 7), "fp_b")
    assert v2 != v1
    assert t.read(spark).count() == 7
    assert t.current_fingerprint() == "fp_b"


def test_time_travel(spark, make):
    t = make("c2")
    for i, n in enumerate((3, 5, 7)):
        t.publish(_df(spark, n), f"fp_{i}")
    metas = t.versions()
    assert [m["seq"] for m in metas] == [1, 2, 3]
    assert [m["fingerprint"] for m in metas] == ["fp_0", "fp_1", "fp_2"]
    assert t.read_version(spark, 1).count() == 3
    assert t.read_version(spark, 2).count() == 5
    with pytest.raises(FileNotFoundError):
        t.read_version(spark, 9)


def test_expire_never_breaks_current(spark, make):
    t = make("c3")
    for i in range(4):
        t.publish(_df(spark, i + 1), f"fp_{i}")
    before = len(t.versions())
    t.expire(retain_last=2)
    # retention may be backend-limited (pyiceberg maintenance API), but it
    # must never remove the current version or grow the log
    assert t.read(spark).count() == 4
    assert len(t.versions()) <= before
    assert t.current_fingerprint() == "fp_3"


def test_factory_env_seam(tmp_path, monkeypatch):
    from darkbo_spark.storage import make_table

    monkeypatch.delenv("DARKBO_STORAGE_BACKEND", raising=False)
    assert isinstance(make_table(str(tmp_path), "t"), SnapshotTable)
    monkeypatch.setenv("DARKBO_STORAGE_BACKEND", "bogus")
    with pytest.raises(ValueError):
        make_table(str(tmp_path), "t")
    if not HAVE_PYICEBERG:
        # the iceberg seam must fail LOUDLY, not fall back silently
        monkeypatch.setenv("DARKBO_STORAGE_BACKEND", "iceberg")
        with pytest.raises(ImportError):
            make_table(str(tmp_path), "t")


@pytest.mark.skipif(not HAVE_PYICEBERG, reason="pyiceberg not installed")
def test_iceberg_backend_present():
    """Marker test: visible skip when the real-Iceberg backend can't run."""
    from darkbo_spark.storage.iceberg import IcebergTable  # noqa: F401


def test_read_keeps_published_columns(spark, make):
    """read() and read_version() hand back the published columns, in
    order, with their types."""
    from pyspark.sql import functions as F

    t = make("c4")
    df = spark.range(6).select(
        F.col("id"),
        F.concat(F.lit("r"), F.col("id").cast("string")).alias("s"),
        (F.col("id") / 2).alias("h"),
    )
    t.publish(df, "fp_cols")
    want = [(f.name, f.dataType) for f in df.schema.fields]
    assert [(f.name, f.dataType) for f in t.read(spark).schema.fields] == want
    seq = t.versions()[-1]["seq"]
    got = t.read_version(spark, seq)
    assert [(f.name, f.dataType) for f in got.schema.fields] == want
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))
