"""Partition-pruned MERGE mode of KeyedParquetSink: a merge touching one
partition must (1) keep every other partition's files byte-identical —
copied forward, never re-read/re-encoded — (2) produce exactly the same
table as the whole-table merge, and (3) stay last-write-wins + replay-
idempotent.  This retires the SCALE.md whole-table-rewrite caveat."""

from __future__ import annotations

import hashlib
import os

import pytest

from real_time_iot_data_engineering_pipeline_spark.sinks.keyed_parquet import (
    KeyedParquetSink,
)


def _rows(spark, data):
    return spark.createDataFrame(data, "day string, k long, v double")


def _partition_files(sink, day: str) -> dict[str, str]:
    """{relative parquet file path: sha256} for one live partition dir."""
    current = sink._current()
    pdir = os.path.join(current, f"day={day}")
    out = {}
    for root, _dirs, files in os.walk(pdir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                rel = os.path.relpath(p, current)
                out[rel] = hashlib.sha256(open(p, "rb").read()).hexdigest()
    return out


def test_partition_col_must_be_a_key():
    with pytest.raises(ValueError, match="must be one of key_cols"):
        KeyedParquetSink(None, "/tmp/x", ["k"], partition_col="day")


def test_untouched_partitions_are_byte_identical(spark, tmp_path):
    sink = KeyedParquetSink(
        spark, str(tmp_path / "t"), ["day", "k"], partition_col="day"
    )
    sink.upsert(
        _rows(
            spark,
            [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0), ("2024-01-02", 1, 30.0)],
        ),
        epoch_id=0,
    )
    day1_before = _partition_files(sink, "2024-01-01")
    assert day1_before, "day-1 partition must exist"

    # Merge touching ONLY day 2: update one key, insert another.
    sink.upsert(
        _rows(spark, [("2024-01-02", 1, 31.0), ("2024-01-02", 9, 90.0)]),
        epoch_id=1,
    )

    assert _partition_files(sink, "2024-01-01") == day1_before, (
        "files of an untouched partition must carry over byte-identical"
    )
    got = {(r.day, r.k): r.v for r in sink.read().collect()}
    assert got == {
        ("2024-01-01", 1): 10.0,
        ("2024-01-01", 2): 20.0,
        ("2024-01-02", 1): 31.0,
        ("2024-01-02", 9): 90.0,
    }


def test_partitioned_merge_equals_whole_table_merge(spark, tmp_path):
    batches = [
        [("2024-01-01", 1, 1.0), ("2024-01-02", 2, 2.0), ("2024-01-03", 3, 3.0)],
        [("2024-01-02", 2, 22.0), ("2024-01-02", 5, 5.0)],
        [("2024-01-01", 1, 111.0), ("2024-01-04", 7, 7.0)],
    ]
    plain = KeyedParquetSink(spark, str(tmp_path / "plain"), ["day", "k"])
    pruned = KeyedParquetSink(
        spark, str(tmp_path / "pruned"), ["day", "k"], partition_col="day"
    )
    for epoch, data in enumerate(batches):
        plain.upsert(_rows(spark, data), epoch)
        pruned.upsert(_rows(spark, data), epoch)
    key = lambda r: (r.day, r.k)  # noqa: E731
    assert sorted(
        [(r.day, r.k, r.v) for r in pruned.read().collect()]
    ) == sorted([(r.day, r.k, r.v) for r in plain.read().collect()])


def test_replay_same_epoch_is_idempotent(spark, tmp_path):
    sink = KeyedParquetSink(
        spark, str(tmp_path / "t"), ["day", "k"], partition_col="day"
    )
    sink.upsert(_rows(spark, [("2024-01-01", 1, 1.0)]), epoch_id=0)
    batch = [("2024-01-01", 1, 2.0), ("2024-01-02", 2, 9.0)]
    sink.upsert(_rows(spark, batch), epoch_id=1)
    before = sorted((r.day, r.k, r.v) for r in sink.read().collect())
    sink.upsert(_rows(spark, batch), epoch_id=1)  # streaming replay contract
    after = sorted((r.day, r.k, r.v) for r in sink.read().collect())
    assert after == before == [
        ("2024-01-01", 1, 2.0),
        ("2024-01-02", 2, 9.0),
    ]


def test_merge_scan_prunes_to_touched_partitions(spark, tmp_path):
    """The existing-table read inside a pruned merge must push the partition
    filter into the scan: with the touched-day filter applied, the planned
    scan's partition count is 1 of 3."""
    from pyspark.sql import functions as F

    sink = KeyedParquetSink(
        spark, str(tmp_path / "t"), ["day", "k"], partition_col="day"
    )
    sink.upsert(
        _rows(
            spark,
            [("2024-01-01", 1, 1.0), ("2024-01-02", 2, 2.0), ("2024-01-03", 3, 3.0)],
        ),
        epoch_id=0,
    )
    scan = sink._read_version(sink._current()).filter(
        F.col("day").isin(["2024-01-02"])
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    [scan_line] = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    pf = scan_line.split("PartitionFilters: [")[1].split("]")[0]
    assert "2024-01-02" in pf, (
        f"touched-day predicate must be a PartitionFilter, got: {pf}"
    )
    assert "DataFilters: []" in scan_line, (
        "the day predicate must prune partitions, not filter rows post-scan"
    )


def test_incremental_mart_refresh_over_partitioned_sink(spark, sf_dir):
    """End-to-end: the dbt-style incremental daily-mart refresh
    (queries/marts.py) writing through the partition-pruned sink keyed on
    (user_id, reading_date) and partitioned by reading_date.  A late batch
    for the newest day re-merges ONLY that day's partition; every earlier
    day's files carry over byte-identical."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F

    from real_time_iot_data_engineering_pipeline_spark.queries.marts import (
        mart_daily_incremental_refresh,
    )
    from real_time_iot_data_engineering_pipeline_spark.sources import load_table

    events = load_table(spark, sf_dir, "events")
    cutoff = "2024-01-20 00:00:00"
    sink = KeyedParquetSink(
        spark,
        os.path.join(tempfile.mkdtemp(), "mart"),
        ["user_id", "reading_date"],
        partition_col="reading_date",
    )
    # Initial load: everything before the cutoff.
    mart_daily_incremental_refresh(
        spark, events.filter(F.col("ts") < cutoff), sink, epoch_id=0
    )
    current = sink._current()
    before = {}
    for entry in os.listdir(current):
        if entry.startswith("reading_date=") and "2024-01-19" not in entry:
            pdir = os.path.join(current, entry)
            for f in sorted(os.listdir(pdir)):
                if f.endswith(".parquet"):
                    with open(os.path.join(pdir, f), "rb") as fh:
                        before[(entry, f)] = hashlib.sha256(fh.read()).hexdigest()
    assert before, "mart must have written pre-boundary day partitions"

    # Late data arrives; refresh reprocesses >= high-water day only.
    processed = mart_daily_incremental_refresh(spark, events, sink, epoch_id=1)
    min_day = processed.agg(F.min("reading_date")).collect()[0][0]
    assert str(min_day).startswith("2024-01-19"), (
        "refresh must reprocess from the boundary day, not the full history"
    )

    current2 = sink._current()
    after = {}
    for entry, f in before:
        with open(os.path.join(current2, entry, f), "rb") as fh:
            after[(entry, f)] = hashlib.sha256(fh.read()).hexdigest()
    assert after == before, "pre-boundary day partitions must be untouched"

    # And the refreshed table equals the from-scratch mart.
    from real_time_iot_data_engineering_pipeline_spark.queries.marts import (
        daily_mart_frame,
    )

    full = daily_mart_frame(spark, events)
    # The partition column moves to the end on read-back and exceptAll
    # compares positionally — re-project to the mart's column order.
    got = sink.read().select(*full.columns)
    assert got.count() == full.count()
    assert got.exceptAll(full).count() == 0 and full.exceptAll(got).count() == 0


@pytest.fixture
def fragmented_writes(spark):
    """Disable AQE partition coalescing so the merge write emits one file
    per shuffle partition — the fragmentation profile a real-sized stream
    produces (at test data sizes AQE would coalesce everything to 1 file
    and there would be nothing to compact)."""
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")


def _nfiles(sink, day: str) -> int:
    pdir = os.path.join(sink._current(), f"day={day}")
    return sum(1 for f in os.listdir(pdir) if f.endswith(".parquet"))


def test_compact_merges_small_files_and_preserves_data(spark, tmp_path, fragmented_writes):
    sink = KeyedParquetSink(
        spark, str(tmp_path / "t"), ["day", "k"], partition_col="day"
    )
    # Many keys spread over shuffle partitions -> several files per
    # partition dir after the merge write.
    data = [("2024-01-0%d" % (1 + i % 2), i, float(i)) for i in range(40)]
    sink.upsert(_rows(spark, data).repartition(8), epoch_id=1)
    assert _nfiles(sink, "2024-01-01") > 1
    before = sorted(sink.read().collect())

    res = sink.compact(max_files_per_partition=1)
    assert res["compacted"] == 2 and res["skipped"] == 0
    assert _nfiles(sink, "2024-01-01") == 1
    assert _nfiles(sink, "2024-01-02") == 1
    assert sorted(sink.read().collect()) == before

    # Already compact -> no-op: same version stays live, nothing rewritten.
    ptr_before = sink._current()
    res2 = sink.compact(max_files_per_partition=1)
    assert res2 == {"compacted": 0, "skipped": 2}
    assert sink._current() == ptr_before


def test_compact_leaves_tight_partitions_byte_identical(spark, tmp_path, fragmented_writes):
    sink = KeyedParquetSink(
        spark, str(tmp_path / "t"), ["day", "k"], partition_col="day"
    )
    sink.upsert(_rows(spark, [("2024-01-01", 1, 1.0)]).coalesce(1), epoch_id=1)
    # Partition 01 now has exactly one file; fragment partition 02 only.
    sink.upsert(
        _rows(
            spark, [("2024-01-02", k, float(k)) for k in range(2, 30)]
        ).repartition(8),
        epoch_id=2,
    )
    tight = _partition_files(sink, "2024-01-01")
    assert len(tight) == 1 and _nfiles(sink, "2024-01-02") > 1
    before = sorted(sink.read().collect())

    res = sink.compact(max_files_per_partition=1)
    assert res["compacted"] == 1 and res["skipped"] == 1
    # The tight partition's file carried forward byte-identical.
    assert _partition_files(sink, "2024-01-01") == tight
    assert _nfiles(sink, "2024-01-02") == 1
    assert sorted(sink.read().collect()) == before
    # Upserts keep working against the compacted version.
    sink.upsert(_rows(spark, [("2024-01-02", 2, 99.0)]).coalesce(1), epoch_id=3)
    rows = {(r["day"], r["k"]): r["v"] for r in sink.read().collect()}
    assert rows[("2024-01-02", 2)] == 99.0


def test_compact_unpartitioned_whole_table(spark, tmp_path, fragmented_writes):
    sink = KeyedParquetSink(spark, str(tmp_path / "t"), ["day", "k"])
    sink.upsert(
        _rows(spark, [("d", k, float(k)) for k in range(30)]).repartition(8),
        epoch_id=1,
    )
    current = sink._current()
    n_before = sum(1 for f in os.listdir(current) if f.endswith(".parquet"))
    assert n_before > 1
    before = sorted(sink.read().collect())
    res = sink.compact(max_files_per_partition=1)
    assert res == {"compacted": 1, "skipped": 0}
    current = sink._current()
    assert sum(1 for f in os.listdir(current) if f.endswith(".parquet")) == 1
    assert sorted(sink.read().collect()) == before


def test_merge_schema_adds_columns_additively(spark, tmp_path):
    sink = KeyedParquetSink(
        spark,
        str(tmp_path / "t"),
        ["day", "k"],
        partition_col="day",
        merge_schema=True,
    )
    sink.upsert(_rows(spark, [("2024-01-01", 1, 1.0), ("2024-01-02", 2, 2.0)]), 1)
    widened = spark.createDataFrame(
        [("2024-01-02", 3, 3.0, "fresh")], "day string, k long, v double, note string"
    )
    sink.upsert(widened, 2)
    rows = {(r["day"], r["k"]): r for r in sink.read().collect()}
    assert set(rows[("2024-01-02", 3)].asDict()) == {"day", "k", "v", "note"}
    assert rows[("2024-01-02", 3)]["note"] == "fresh"
    # Old rows — including ones in an UNTOUCHED partition read through the
    # widened stored schema — come back with NULL for the new column.
    assert rows[("2024-01-01", 1)]["note"] is None
    assert rows[("2024-01-02", 2)]["note"] is None
    # A later batch may omit the evolved column; its rows get NULL.
    sink.upsert(_rows(spark, [("2024-01-01", 9, 9.0)]), 3)
    rows = {(r["day"], r["k"]): r for r in sink.read().collect()}
    assert rows[("2024-01-01", 9)]["note"] is None
    assert rows[("2024-01-02", 3)]["note"] == "fresh"


def test_schema_drift_fails_loudly_by_default(spark, tmp_path):
    from pyspark.errors import AnalysisException

    sink = KeyedParquetSink(spark, str(tmp_path / "t"), ["day", "k"])
    sink.upsert(_rows(spark, [("2024-01-01", 1, 1.0)]), 1)
    widened = spark.createDataFrame(
        [("2024-01-01", 2, 2.0, "x")], "day string, k long, v double, note string"
    )
    with pytest.raises(AnalysisException):
        sink.upsert(widened, 2)


def test_foreach_batch_periodic_compaction(spark, tmp_path, fragmented_writes):
    sink = KeyedParquetSink(
        spark, str(tmp_path / "t"), ["day", "k"], partition_col="day"
    )
    fn = sink.foreach_batch(compact_every=2)
    fn(_rows(spark, [("2024-01-01", k, 1.0) for k in range(20)]).repartition(8), 0)
    assert _nfiles(sink, "2024-01-01") > 1  # epoch 0: no maintenance yet
    fn(_rows(spark, [("2024-01-01", k, 2.0) for k in range(20)]).repartition(8), 1)
    # epoch 1 (2nd of every pair) triggered compact()
    assert _nfiles(sink, "2024-01-01") == 1
    rows = {r["k"]: r["v"] for r in sink.read().collect()}
    assert rows == {k: 2.0 for k in range(20)}


def test_upsert_releases_its_materialized_batch(spark, tmp_path, monkeypatch):
    """upsert materializes each batch once (localCheckpoint) and must free
    that copy on every exit: the persistent-RDD registry does not grow with
    the number of upserts, nor when the merge raises (the retry path)."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    sink = KeyedParquetSink(spark, str(tmp_path / "t"), ["day", "k"])
    for epoch in range(3):
        sink.upsert(_rows(spark, [("2024-01-01", epoch, 1.0)]), epoch)
    sink.upsert(_rows(spark, []), 3)  # empty batch: the fast path
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= before

    def failing_commit(self, version, prev_version):
        raise OSError("pointer swap failed")

    monkeypatch.setattr(KeyedParquetSink, "_commit", failing_commit)
    with pytest.raises(OSError, match="pointer swap failed"):
        sink.upsert(_rows(spark, [("2024-01-01", 9, 9.0)]), 4)
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= before
    monkeypatch.undo()
    assert sorted((r.day, r.k) for r in sink.read().collect()) == [
        ("2024-01-01", 0),
        ("2024-01-01", 1),
        ("2024-01-01", 2),
    ]


def test_version_without_schema_file_reads_and_merges(spark, tmp_path):
    """Unpartitioned versions written before every version carried
    _sinkschema.json still read back (through schema inference) and merge;
    the next version written over them carries the file again."""
    from real_time_iot_data_engineering_pipeline_spark.sinks.keyed_parquet import (
        _SCHEMA_FILE,
    )

    sink = KeyedParquetSink(spark, str(tmp_path / "t"), ["day", "k"])
    sink.upsert(_rows(spark, [("2024-01-01", 1, 1.0), ("2024-01-01", 2, 2.0)]), 0)
    old = sink._current()
    os.remove(os.path.join(old, _SCHEMA_FILE))  # the older on-disk layout
    assert sorted(tuple(r) for r in sink.read().collect()) == [
        ("2024-01-01", 1, 1.0),
        ("2024-01-01", 2, 2.0),
    ]
    sink.upsert(_rows(spark, [("2024-01-01", 2, 22.0), ("2024-01-02", 3, 3.0)]), 1)
    assert sink._current() != old
    assert os.path.exists(os.path.join(sink._current(), _SCHEMA_FILE))
    assert sink.read().schema == _rows(spark, []).schema
    assert sorted(tuple(r) for r in sink.read().collect()) == [
        ("2024-01-01", 1, 1.0),
        ("2024-01-01", 2, 22.0),
        ("2024-01-02", 3, 3.0),
    ]
