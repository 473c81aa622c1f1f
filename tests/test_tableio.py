"""Storage-seam selection: parquet TableIO, MemoryStore, Iceberg branch.

The sandbox ships no iceberg-spark-runtime jar (SURVEY §7), so the
Iceberg write path cannot execute here; these tests pin the seam's
SELECTION logic (a real cluster switches by config alone, no code
edits) and run the actual write/read/manifest round-trip whenever a
runtime IS present.
"""

from __future__ import annotations

import pytest

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.operators.report import keep_canonical_merge_sql
from app_dupfind_spark.plans.pipeline import (
    IcebergTableIO,
    MemoryStore,
    PipelineRunner,
    TableIO,
    iceberg_runtime_available,
    make_table_io,
)


def test_default_seam_is_parquet(spark, tmp_path):
    io = make_table_io(spark, tmp_path)
    assert isinstance(io, TableIO)
    assert io.resumes


def test_parquet_seam_requires_checkpoint_dir(spark):
    with pytest.raises(ValueError, match="checkpoint_dir"):
        make_table_io(spark, None, persist_mode="parquet")
    with pytest.raises(ValueError, match="checkpoint_dir"):
        PipelineRunner(spark, DedupConfig(), None)


def test_memory_seam_takes_no_dir(spark):
    io = make_table_io(spark, None, persist_mode="memory")
    assert isinstance(io, MemoryStore)
    assert not io.resumes


def test_iceberg_seam_requires_catalog(spark, tmp_path):
    with pytest.raises(ValueError, match="iceberg_catalog"):
        make_table_io(spark, tmp_path, persist_mode="iceberg")


def test_iceberg_seam_selection(spark, tmp_path):
    """With a catalog named, selection reaches the Iceberg branch: a
    clear runtime-jar error in this sandbox, a real IcebergTableIO
    when the jar is present."""
    if iceberg_runtime_available(spark):
        io = make_table_io(
            spark, tmp_path, persist_mode="iceberg",
            iceberg_catalog="local",
        )
        assert isinstance(io, IcebergTableIO)
        assert io.table("stage1") == "local.dupfind.stage1"
    else:
        with pytest.raises(RuntimeError, match="runtime jar"):
            make_table_io(
                spark, tmp_path, persist_mode="iceberg",
                iceberg_catalog="local",
            )


def test_runner_iceberg_mode_routes_through_seam(spark, tmp_path):
    """persist_mode='iceberg' on the runner selects the catalog seam
    (and therefore fails loudly without the jar — never a silent
    parquet fallback)."""
    if iceberg_runtime_available(spark):
        pytest.skip("runtime present: covered by test_iceberg_round_trip")
    with pytest.raises(RuntimeError, match="runtime jar"):
        PipelineRunner(
            spark, DedupConfig(), tmp_path,
            persist_mode="iceberg", iceberg_catalog="local",
        )


@pytest.mark.parametrize("mode", ["Iceberg", "delta", ""])
def test_unknown_persist_mode_rejected(spark, tmp_path, mode):
    """A misspelt persist_mode dies at construction instead of falling
    back to the local parquet seam."""
    with pytest.raises(ValueError, match="persist_mode"):
        PipelineRunner(spark, DedupConfig(), tmp_path, persist_mode=mode)


def test_keep_canonical_merge_statement():
    sql = keep_canonical_merge_sql("cat.ns.pages", "clusters_v", "url")
    assert sql == (
        "MERGE INTO cat.ns.pages t USING clusters_v c "
        "ON t.url = c.url "
        "WHEN MATCHED AND NOT c.is_canonical THEN DELETE"
    )


def test_manifest_blob_survives_sql_hostile_values():
    """The TBLPROPERTIES blob must round-trip meta values containing
    SQL-literal hazards — single quotes, backslashes, control chars,
    non-ASCII (ADVICE r3: raw JSON in a literal was mangled by Spark's
    backslash-escape interpretation)."""
    from app_dupfind_spark.plans.pipeline import (
        decode_manifest_blob,
        encode_manifest_blob,
    )

    manifest = {
        "stage": "o'brien\\stage",
        "fingerprint": 'quote " backslash \\ newline \n tab \t',
        "unicode": "naïve—π",
        "rows": 7,
    }
    blob = encode_manifest_blob(manifest)
    assert all(c.isalnum() or c in "+/=" for c in blob)   # literal-safe
    assert decode_manifest_blob(blob) == manifest


@pytest.mark.skipif(
    "not config.getoption('--run-iceberg', default=False)",
    reason="needs iceberg-spark-runtime jar + catalog conf",
)
def test_iceberg_round_trip(spark, tmp_path):
    """Write/read/manifest/fingerprint round-trip — runnable on any
    cluster with the runtime jar (spark.sql.catalog.local=...hadoop)."""
    io = make_table_io(
        spark, tmp_path, persist_mode="iceberg",
        iceberg_catalog="local",
    )
    df = spark.range(10).withColumnRenamed("id", "doc_id")
    hostile = "up'stream\\fp"          # SQL-literal hazards, stored real
    m = io.write(
        "t1", df, {"config_hash": "x", "upstream": hostile, "stage": "t1"}
    )
    assert m["rows"] == 10
    assert m["snapshot_id"] is not None
    assert io.manifest("t1")["snapshot_id"] == m["snapshot_id"]
    assert io.manifest("t1")["upstream"] == hostile
    assert io.read("t1").count() == 10
