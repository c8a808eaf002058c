"""Failures on the commit and metrics paths surface instead of being
swallowed: a failing footer pass aborts the commit before publish, and
the observation fallback covers only AQE's empty-relation case."""

from __future__ import annotations

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.errors import PySparkAssertionError
from pyspark.sql import Observation

from ethereum_etl_airflow_spark.operators.cdc import _obs_get, apply_changes
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable


def _changes(spark, rows):
    return spark.createDataFrame(rows, "op string, doc_id string, seq long, n long")


def test_footer_failure_fails_the_commit_before_publish(spark, tmp_path, monkeypatch):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    apply_changes(t, _changes(spark, [("I", f"d{i}", i, i) for i in range(20)]), "ff", 0)
    version, epoch = t.current_version(), t.last_epoch("ff")
    batch = [("U", f"d{i}", 100 + i, 100 + i) for i in range(10)]

    def broken_footer(*_a, **_k):
        raise OSError("footer read failed")

    with monkeypatch.context() as m:
        m.setattr(pq, "ParquetFile", broken_footer)
        with pytest.raises(OSError, match="footer read failed"):
            apply_changes(t, _changes(spark, batch), "ff", 1)
    assert t.current_version() == version
    assert t.last_epoch("ff") == epoch

    # the replayed batch applies cleanly
    assert apply_changes(t, _changes(spark, batch), "ff", 1) is not None
    got = {r.doc_id: r.n for r in t.read().collect()}
    assert got == {f"d{i}": (100 + i if i < 10 else i) for i in range(20)}
    snap = t.snapshot()
    live = {f for fs in snap["bucket_files"].values() for f in fs}
    assert set(snap["file_seq_ranges"]) == live


def test_obs_get_falls_back_to_defaults_on_an_aqe_empty_relation(spark, tmp_path):
    obs = Observation("aqe_empty")
    empty = (
        spark.range(100)
        .where("id > 1000")
        .repartition(4, "id")
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    empty.join(spark.range(10), "id").write.parquet(str(tmp_path / "out"))
    # AQE propagated the empty shuffle stage and dropped the metrics node
    assert obs._jo.getRow().length() == 0
    assert _obs_get(obs, {"n": 0}) == {"n": 0}


def test_obs_get_raises_any_other_failure(spark):
    with pytest.raises(PySparkAssertionError):
        _obs_get(Observation("never_observed"), {"n": 0})
