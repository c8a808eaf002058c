"""Multi-bucket data files: one file per write task, buckets as the
logical unit.

A commit writes one parquet file per write task; each file stores its
rows' bucket in a ``_bucket`` column and is listed in ``bucket_files``
under every bucket it holds. These tests pin the rules that layout
must keep: every live file is listed under every bucket it holds
(replacing commits widen to the closure over shared files), scans of
some buckets filter on the stored column, per-file Bloom words cover
every bucket of the file, the CDF source emits each change once, and
tables written in the older one-directory-per-bucket layout keep
working as new commits land on them.
"""

from __future__ import annotations

import contextlib
import os
import uuid
from collections import Counter

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from ethereum_etl_airflow_spark.functions.hashing import bucket_of
from ethereum_etl_airflow_spark.operators.cdc import apply_changes
from ethereum_etl_airflow_spark.operators.reorg import rewind_to_epoch
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable, bucket_expr
from ethereum_etl_airflow_spark.streaming.cdf_source import (
    _CHANGE_COL,
    SnapshotCdfStreamReader,
)

SCHEMA = "op string, doc_id string, seq long, n long"


def _changes(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


class _Feed:
    """Applies change batches and keeps the expected final state and
    the list of applied change events."""

    def __init__(self, spark, table, app="lay"):
        self.spark, self.table, self.app = spark, table, app
        self.seq = 0
        self.state: dict[str, int | None] = {}
        self.events: list[tuple[str, int]] = []

    def rows(self, ops):
        out = []
        for op, doc, n in ops:
            self.seq += 1
            out.append((op, doc, self.seq, None if op == "D" else n))
        return out

    def note(self, rows):
        for op, doc, seq, n in rows:
            self.state[doc] = None if op == "D" else n
            self.events.append((doc, seq))

    def apply(self, epoch, ops):
        rows = self.rows(ops)
        apply_changes(self.table, _changes(self.spark, rows), self.app, epoch)
        self.note(rows)

    def live(self):
        return {d: n for d, n in self.state.items() if n is not None}


def _read_state(table):
    return {r.doc_id: r.n for r in table.read().collect()}


def _assert_listed(table):
    """Every live file is listed under exactly the buckets it holds:
    from its stored ``_bucket`` column, or — for a per-bucket file
    without one — from its keys' hash."""
    snap = table.snapshot()
    nb = int(snap["num_buckets"])
    for rel, listed in SnapshotTable._file_buckets(snap).items():
        pf = pq.ParquetFile(os.path.join(table.root, rel))
        if "_bucket" in pf.schema_arrow.names:
            held = set(pf.read(columns=["_bucket"]).column(0).to_pylist())
        else:
            ids = pf.read(columns=["doc_id"]).column(0).to_pylist()
            held = {bucket_of(d, nb) for d in ids}
        assert held == {int(b) for b in listed}, rel


def _cdf_events(table):
    """(doc_id, _seq) of every row the CDF source emits from the first
    commit to the head."""
    schema = T.StructType(
        [*table.schema().fields, T.StructField(_CHANGE_COL, T.LongType(), False)]
    )
    reader = SnapshotCdfStreamReader(
        schema, {"path": table.root, "starting_version": "-1"}
    )
    parts = reader.partitions({"version": -1}, {"version": table.current_version()})
    paths = [p.path for p in parts if p.path]
    assert len(paths) == len(set(paths))  # one partition per distinct file
    out = []
    for p in parts:
        for batch in reader.read(p):
            out += [(r["doc_id"], r["_seq"]) for r in batch.to_pylist()]
    return out


@contextlib.contextmanager
def _shuffle_partitions(spark, n):
    """Run commits with ``n`` write tasks."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_commit_writes_at_most_one_file_per_write_task(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=512)
    feed = _Feed(spark, t)
    with _shuffle_partitions(spark, 4):  # the write tasks of local[4]
        feed.apply(0, [("I", f"d{i}", i) for i in range(3000)])
    snap = t.snapshot()
    files = {f for fs in snap["bucket_files"].values() for f in fs}
    assert 1 <= len(files) <= 4
    assert len(snap["bucket_files"]) > 400  # most of the 512 buckets
    # the commit's own file list names each file once
    added = [f for fs in snap["added_files"].values() for f in fs]
    assert sorted(added) == sorted(files)
    assert sum(int(n) for n in snap["bucket_rows_written"].values()) == 3000
    assert t.meta_files().count() == len(files)
    _assert_listed(t)
    assert _read_state(t) == feed.live()


def test_every_live_file_is_listed_under_every_bucket_it_holds(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "t"), num_buckets=32, compact_files=3, stats_cols=["n"]
    )
    feed = _Feed(spark, t)
    feed.apply(0, [("I", f"d{i}", i) for i in range(80)])
    feed.apply(1, [("U", f"d{i}", 100 + i) for i in range(40)])
    # third commit: threshold compaction, widened to shared files
    feed.apply(2, [("U", f"d{i}", 300 + i) for i in range(40, 60)]
               + [("D", f"d{i}", 0) for i in range(60, 66)])
    snap = t.snapshot()
    assert snap["lineage"]["compacted_buckets"]
    assert max(len(b) for b in SnapshotTable._file_buckets(snap).values()) > 1
    _assert_listed(t)
    assert _read_state(t) == feed.live()

    t.delete_where("n", lo=100, hi=109)
    for i in range(10):
        feed.state[f"d{i}"] = None
    _assert_listed(t)
    assert _read_state(t) == feed.live()

    expected = dict(feed.state)
    feed.apply(3, [("U", f"d{i}", 500 + i) for i in range(20, 30)])
    assert rewind_to_epoch(t, "lay", epoch=2) is not None
    feed.state = expected
    _assert_listed(t)
    assert _read_state(t) == feed.live()

    snap = t.snapshot()
    b = next(
        int(b) for b in snap["bucket_files"]
        if SnapshotTable.bucket_closure(snap, [int(b)]) != {int(b)}
    )
    # a commit replacing part of a shared file's buckets is refused
    out = t.read_files([b]).withColumn("_bucket", F.lit(b))
    with pytest.raises(ValueError, match="bucket_closure"):
        t.commit(out, replace_buckets={b}, app_id="x", epoch=0)
    assert t.current_version() == snap["version"]
    # compact(buckets) widens instead
    t.compact([b])
    assert set(t.snapshot()["commit_buckets"]) == SnapshotTable.bucket_closure(snap, [b])
    _assert_listed(t)
    assert _read_state(t) == feed.live()


def test_partial_bucket_scan_filters_on_stored_bucket(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=32)
    feed = _Feed(spark, t)
    feed.apply(0, [("I", f"d{i}", i) for i in range(200)])
    snap = t.snapshot()
    multi = [f for f, bs in SnapshotTable._file_buckets(snap).items() if len(bs) > 1]
    assert multi
    for b in sorted(snap["bucket_files"], key=int)[:6]:
        got = {r.doc_id for r in t.read([int(b)]).collect()}
        want = {d for d in feed.live() if bucket_of(d, 32) == int(b)}
        assert got == want
    # a full scan reads each distinct file once
    assert t.read_files().count() == 200


def test_bloom_words_cover_every_bucket_of_a_file(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=64, bloom_bits=1024)
    feed = _Feed(spark, t)
    keys = [f"k{i}" for i in range(400)]
    feed.apply(0, [("I", k, i) for i, k in enumerate(keys[:200])])
    feed.apply(1, [("I", k, i) for i, k in enumerate(keys[200:])])
    snap = t.snapshot()
    assert max(len(bs) for bs in SnapshotTable._file_buckets(snap).values()) > 4
    for k in keys:
        assert SnapshotTable.plan_lookup(snap, [k]), k
    assert {r.doc_id for r in t.lookup(keys).collect()} == set(keys)


def test_cdf_emits_each_change_once_across_multi_bucket_and_compacting_commits(
    spark, tmp_path
):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=32, compact_files=3)
    feed = _Feed(spark, t)
    feed.apply(0, [("I", f"d{i}", i) for i in range(40)])
    feed.apply(1, [("U", f"d{i}", 10 + i) for i in range(3)])
    # the compacting commit regroups buckets into 3 write tasks, so its
    # files mix compacted buckets with buckets that only take a delta
    with _shuffle_partitions(spark, 3):
        feed.apply(2, [("U", f"d{i}", 20 + i) for i in range(3)]
                   + [("I", f"d{i}", i) for i in range(40, 60)])
    snap = t.snapshot()
    compacted = {str(b) for b in snap["lineage"]["compacted_buckets"]}
    assert 0 < len(compacted) < len(snap["bucket_files"])
    holds = SnapshotTable._file_buckets(snap)
    added = [f for fs in snap["added_files"].values() for f in fs]
    assert any(holds[f] & compacted and holds[f] - compacted for f in added)
    feed.apply(3, [("I", f"d{i}", i) for i in range(60, 70)]
               + [("D", f"d{i}", 0) for i in range(5)])
    assert Counter(_cdf_events(t)) == Counter(feed.events)


def _legacy_commit(t, feed, epoch, ops):
    """A commit in the layout of earlier versions: one ``_bucket=N/``
    directory per bucket, no stored bucket column, each file listed
    under its one bucket."""
    spark = t.spark
    rows = feed.rows(ops)
    out = (
        _changes(spark, rows)
        .select(
            "doc_id",
            F.col("seq").alias("_seq"),
            F.lit(epoch).cast("long").alias("_epoch"),
            (F.col("op") == "D").alias("_tombstone"),
            "n",
        )
        .withColumn("_bucket", bucket_expr(F.col("doc_id"), t.num_buckets))
    )
    out_dir = os.path.join(t.root, "data", uuid.uuid4().hex)
    out.repartition(8, "_bucket").sortWithinPartitions("_bucket", "doc_id").write.partitionBy(
        "_bucket"
    ).parquet(out_dir)
    files: dict[str, list[str]] = {}
    for entry in os.listdir(out_dir):
        if entry.startswith("_bucket="):
            rel_dir = os.path.relpath(os.path.join(out_dir, entry), t.root)
            files[entry.split("=", 1)[1]] = [
                os.path.join(rel_dir, fn)
                for fn in os.listdir(os.path.join(out_dir, entry))
                if fn.endswith(".parquet")
            ]
    t.commit(
        None,
        replace_buckets=set(),
        app_id=feed.app,
        epoch=epoch,
        new_schema=out.drop("_bucket").schema,
        prewritten=files,
        lineage={"op": "cdc_apply", "epoch": epoch, "compacted_buckets": []},
    )
    feed.note(rows)


def test_per_bucket_layout_table_keeps_working_under_new_commits(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=8, compact_files=4)
    feed = _Feed(spark, t)
    _legacy_commit(t, feed, 0, [("I", f"d{i}", i) for i in range(60)])
    _legacy_commit(t, feed, 1, [("U", f"d{i}", 100 + i) for i in range(30)])
    feed.apply(2, [("U", f"d{i}", 200 + i) for i in range(20, 50)]
               + [("D", f"d{i}", 0) for i in range(55, 58)])
    live = SnapshotTable._file_buckets(t.snapshot())
    assert any("_bucket=" in f for f in live)
    assert any(len(bs) > 1 for bs in live.values())

    def check():
        _assert_listed(t)
        assert _read_state(t) == feed.live()
        got = {r.doc_id: r.n for r in t.lookup([f"d{i}" for i in range(60)]).collect()}
        assert got == feed.live()
        for b in range(0, 8, 3):
            want = {d for d in feed.live() if bucket_of(d, 8) == b}
            assert {r.doc_id for r in t.read([b]).collect()} == want

    check()
    feed.apply(3, [("U", f"d{i}", 300 + i) for i in range(10)])  # compacts
    assert t.snapshot()["lineage"]["compacted_buckets"]
    check()
    assert Counter(_cdf_events(t)) == Counter(feed.events)
    t.compact()
    assert not any("_bucket=" in f for f in SnapshotTable._file_buckets(t.snapshot()))
    check()
