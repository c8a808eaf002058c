"""Property-driven retention maintenance (M4 full: TTL + threshold
compaction through one scheduler-callable entry point)."""

import pyspark.sql.functions as F

from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable, bucket_expr


def _write(spark, table, keys, seq):
    df = spark.createDataFrame(
        [(k, seq, seq, False, seq) for k in keys],
        "doc_id string, _seq long, _epoch long, _tombstone boolean, val long",
    ).withColumn("_bucket", bucket_expr(F.col("doc_id"), table.num_buckets))
    table.commit(
        df, replace_buckets=set(), app_id="rt", epoch=seq,
        new_schema=df.drop("_bucket").schema,
    )


def test_update_properties_is_manifest_only(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=2)
    _write(spark, t, ["a", "b"], 1)
    v = t.current_version()
    t.update_properties({"retention.keep_last": 3, "owner": "cdc"})
    assert t.current_version() == v + 1
    assert t.snapshot()["properties"]["owner"] == "cdc"
    # data untouched
    assert {r.doc_id for r in t.read().collect()} == {"a", "b"}


def test_maintain_compacts_and_expires_by_ttl(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=2, compact_files=3)
    for s in range(1, 5):
        _write(spark, t, [f"k{s}", "hot"], s)
    assert max(t.file_counts().values()) >= 3
    # keep only the newest manifest: pre-compaction manifests (which
    # still reference every delta file) must age out for GC to bite
    t.update_properties(
        {"retention.snapshot_ttl_sec": 0, "retention.keep_last": 1,
         "retention.compact_files": 3}
    )
    report = t.maintain()
    assert report.get("compacted_buckets", 0) >= 1
    assert report["files_removed"] > 0
    # state preserved across compaction + expiry
    got = {r.doc_id: r.val for r in t.read().collect()}
    assert got["hot"] == 4 and set(got) == {"hot", "k1", "k2", "k3", "k4"}
    # only the retained manifests remain
    assert max(t.file_counts().values()) == 1


def test_ttl_keeps_young_snapshots(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=2)
    for s in range(1, 5):
        _write(spark, t, [f"k{s}"], s)
    # huge TTL: nothing but the floor of keep_last protects... everything young
    removed = t.expire_snapshots(keep_last=1, ttl_sec=3600)
    assert removed == 0
    # time travel to the oldest version still works
    assert t.read(version=0).count() == 1


def test_orphan_grace_protects_inflight_writes(spark, tmp_path):
    """Files NO manifest references are a crashed write — or a commit
    in flight (commit() writes data before taking the publish lock).
    They must survive GC inside the grace window and die past it;
    known-dead history (referenced only by expired manifests) is
    removed immediately regardless of grace."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=2)
    for s in (1, 2):
        _write(spark, t, [f"k{s}"], s)
    # compaction strands the delta files in pre-compaction manifests
    t.compact(sorted(t.file_counts()))
    # plant a just-written orphan, as an in-flight commit would
    orphan_dir = tmp_path / "t" / "data" / "inflight" / "_bucket=0"
    orphan_dir.mkdir(parents=True)
    orphan = orphan_dir / "part-0.parquet"
    orphan.write_bytes(b"PAR1 not a real footer")

    # default grace: expired-history files go, the fresh orphan stays
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0 and orphan.exists()
    assert t.read().count() == 2  # table content intact

    # grace 0 reaps it (the explicit remove_orphan_files escalation)
    assert t.expire_snapshots(keep_last=1, orphan_grace_sec=0) == 1
    assert not orphan.exists()

    # aged orphan falls inside a finite grace window
    orphan.parent.mkdir(parents=True, exist_ok=True)
    orphan.write_bytes(b"PAR1 stale")
    old = 10_000
    os.utime(orphan, (os.path.getmtime(orphan) - old,) * 2)
    assert t.expire_snapshots(keep_last=1, orphan_grace_sec=600) == 1
    assert not orphan.exists()


def test_expire_removes_sidecars_markers_and_empty_dirs(spark, tmp_path):
    """After compaction and expiry, every file under data/ is a
    referenced data file or the checksum sidecar of one, and no
    emptied commit directory is left behind."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    for s in (1, 2, 3):
        _write(spark, t, [f"k{s}", "hot"], s)
    t.compact()
    t.expire_snapshots(keep_last=1, orphan_grace_sec=0)
    data = os.path.join(t.root, "data")
    live = {
        os.path.join(t.root, f)
        for fs in t.snapshot()["bucket_files"].values()
        for f in fs
    }
    seen = set()
    for dirpath, dirnames, filenames in os.walk(data):
        if dirpath != data:
            assert dirnames or filenames, f"empty directory left: {dirpath}"
        for fn in filenames:
            full = os.path.join(dirpath, fn)
            sidecar_of = os.path.join(dirpath, fn[1:-4]) if fn.endswith(".crc") else None
            assert full in live or sidecar_of in live, full
            seen.add(full)
    assert live <= seen
    assert {r.doc_id: r.val for r in t.read().collect()} == {
        "k1": 1, "k2": 2, "k3": 3, "hot": 3
    }
