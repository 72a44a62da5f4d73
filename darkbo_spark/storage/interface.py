"""The storage contract the pipeline programs against.

Every persistent artifact in this repo (KG stage outputs, stored sparse /
dense indexes, prebuild project indexes) goes through ONE surface —
versioned-table publish/read/time-travel/retention with an input
fingerprint for incremental skip. `storage/snapshots.SnapshotTable` is
the dependency-free implementation (parquet + JSON pointer, reference
semantics api/index_versioning.py:68-212); `storage/iceberg.IcebergTable`
implements the SAME contract over a real Iceberg catalog via pyiceberg
(auto-skipped where the library isn't installed). The contract is
enforced by tests/test_storage_contract.py, which runs one shared test
body over every available backend — "swap the storage module" is a
tested property, not a README sentence.

Contract semantics (what the shared tests pin):
  * `publish(df, fingerprint)` commits an immutable version ATOMICALLY —
    a reader never observes a half-written version — and is an
    incremental no-op returning the current version id when `fingerprint`
    matches the active version.
  * `read(spark)` returns the current version; raises FileNotFoundError
    when nothing is committed. It keeps the published columns, their
    order and their types. The commit records the version's schema (in
    Iceberg's table metadata; in SnapshotTable's meta.json marker), so
    SnapshotTable opens a version without a Spark job.
  * `versions()` lists committed versions oldest-first as dicts carrying
    at least {"seq": int, "fingerprint": str}; `read_version(spark, seq)`
    is time travel to one of them.
  * `expire(retain_last=N)` drops all but the newest N committed
    versions, never the current pointer's target.
"""

from __future__ import annotations

from typing import Optional, Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession


@runtime_checkable
class VersionedTable(Protocol):
    name: str

    def publish(
        self,
        df: DataFrame,
        fingerprint: str,
        partition_by: Optional[list[str]] = None,
        extra_meta: Optional[dict] = None,
    ) -> str: ...

    def read(self, spark: SparkSession) -> DataFrame: ...

    def current_fingerprint(self) -> Optional[str]: ...

    def versions(self) -> list[dict]: ...

    def read_version(self, spark: SparkSession, seq: int) -> DataFrame: ...

    def expire(self, retain_last: int = 3) -> list[str]: ...

    def data_path(self) -> str: ...
    # current version's physical data location — the pipeline feeds it to
    # per-partition lineage metrics (parquet file listing today; Iceberg
    # manifests carry the same facts natively)
