"""Delta-log streaming source (VERDICT r7 task 2): tail a
``delta_log=True`` merge table one micro-batch per log version, with
exactly-once composition (at-least-once replay + version-gated sink).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_stack_spark.operators.merge import ParquetMergeTable, PartitionedMergeTable
from etl_stack_spark.streaming.delta_source import (
    DeltaStreamSource,
    signed_changes_batch_fn,
)

import pytest
# slow tier (VERDICT r10 task 1): readStream tails with real micro-batch drains;
# run via tools/run_gate.py (the gate) or `pytest -m slow`.
pytestmark = pytest.mark.slow

SCHEMA = "grp string, pk string, v long, content_hash string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _oracle(table):
    return {
        r.grp: (r.n, r.total)
        for r in table.read()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        .collect()
    }


def _agg(state):
    from etl_stack_spark.streaming.incremental_agg import read_aggregate

    return {r.grp: (r.n, r.total) for r in read_aggregate(state).collect()}


def _await_drained(start):
    """Start an availableNow stream (via the ``start`` thunk) and block
    until it drains, retrying ONCE if the query died in INITIALIZING
    because the freshly spawned Python planner worker missed Spark's
    connect-back window. Spark 4.1.2's PythonWorkerFactory gives that
    worker a HARDCODED 10 s (``ldc2_w 10000L`` in the accept loop — no
    conf raises it), which a contended box can blow on interpreter spawn
    alone; the failure precedes any offset commit, so one restart is
    semantically a no-op. Every other failure re-raises immediately."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    for attempt in (0, 1):
        q = start()
        try:
            assert q.awaitTermination(120)
            return
        except StreamingQueryException as e:
            if attempt == 0 and "Python worker failed to connect back" in str(e):
                continue
            raise


def test_changes_tail_drives_incremental_aggregate(spark, tmp_path):
    """merge commits → CDF batches → retractable aggregate: after every
    drain the maintained aggregate equals a from-scratch recompute of
    the current table; offsets advance; a lost-offset full replay is a
    provable no-op (the log version is the applied-id watermark)."""
    root = str(tmp_path / "t")
    t = ParquetMergeTable(spark, root, delta_log=True)
    t.merge(
        _df(spark, [("x", "a", 10, "h1"), ("x", "b", 5, "h2"), ("y", "c", 7, "h3")]),
        keys=["pk"],
    )

    state = ParquetMergeTable(spark, str(tmp_path / "aggstate"))
    measures = {"n": ("count", F.lit(1)), "total": ("sum", F.col("v"))}
    src = DeltaStreamSource(
        spark, root, str(tmp_path / "ckpt"), mode="changes", keys=["pk"]
    )
    fn = signed_changes_batch_fn(state, ["grp"], measures, "n")

    assert src.process_available(fn) == [0]
    assert _agg(state) == _oracle(t) == {"x": (2, 15), "y": (1, 7)}

    # update b (hash change), insert d, then delete c — two more versions
    t.merge(
        _df(spark, [("x", "b", 50, "h2x"), ("z", "d", 2, "h4")]), keys=["pk"]
    )
    t.delete_where(F.col("pk") == "c")
    assert src.process_available(fn) == [1, 2]
    assert _agg(state) == _oracle(t) == {"x": (2, 60), "z": (1, 2)}

    # nothing new: availableNow returns immediately
    assert src.process_available(fn) == []

    # lost offsets: a fresh consumer re-delivers EVERY version; the
    # version-gated sink absorbs the replay (exactly-once end to end)
    src2 = DeltaStreamSource(
        spark, root, str(tmp_path / "ckpt2"), mode="changes", keys=["pk"]
    )
    assert src2.process_available(fn) == [0, 1, 2]
    assert _agg(state) == _oracle(t)


def test_crash_window_replays_then_advances(spark, tmp_path):
    """A batch_fn failure leaves the offset UNMOVED; the retry
    re-delivers the same version (at-least-once), then advances."""
    import pytest

    root = str(tmp_path / "t")
    t = ParquetMergeTable(spark, root, delta_log=True)
    t.merge(_df(spark, [("x", "a", 1, "h1")]), keys=["pk"])
    t.merge(_df(spark, [("x", "b", 2, "h2")]), keys=["pk"])

    src = DeltaStreamSource(
        spark, root, str(tmp_path / "ckpt"), mode="changes", keys=["pk"]
    )
    seen: list[int] = []

    def boom(df, v):
        if v == 1 and 1 not in seen:
            seen.append(v)
            raise RuntimeError("crash between batch and offset commit")
        seen.append(v)

    with pytest.raises(RuntimeError):
        src.process_available(boom)
    assert src.last_processed() == 0  # v1 failed before the offset swap
    assert src.process_available(boom) == [1]
    assert seen == [0, 1, 1]


def test_adds_mode_reads_only_rewritten_files(spark, tmp_path):
    """mode='adds' on a stats-pruned partitioned table: the batch for a
    narrow clustered merge contains exactly the REWRITTEN files' rows
    (rows_rewritten), not the partition or the table — the O(delta)
    poll replacing ST3's whole-table status scan."""
    rows = (
        spark.range(0, 4000)
        .select(
            (F.col("id") % 4).cast("string").alias("bucket"),
            F.lpad(F.col("id").cast("string"), 10, "0").alias("lkey"),
            F.col("id").cast("long").alias("v"),
        )
        .withColumn("content_hash", F.sha2(F.col("v").cast("string"), 256))
    )
    root = str(tmp_path / "pt")
    pt = PartitionedMergeTable(spark, root, "bucket", delta_log=True)
    pt.merge(rows, keys=["bucket", "lkey"], cluster_by=["lkey"], cluster_files=8)

    # bootstrap batch = the whole initial snapshot
    batches: list[tuple[int, int]] = []
    src2 = DeltaStreamSource(spark, root, str(tmp_path / "ckpt2"), mode="adds")
    src2.process_available(lambda df, v: batches.append((v, df.count())))
    assert batches == [(0, 4000)]

    delta = (
        rows.filter(
            (F.col("bucket") == "3")
            & (F.col("lkey") >= "0000002000")
            & (F.col("lkey") < "0000002100")
        )
        .withColumn("v", F.col("v") * 10)
        .withColumn("content_hash", F.sha2(F.col("v").cast("string"), 256))
    )
    r = pt.merge(delta, keys=["bucket", "lkey"])
    assert r["files_pruned"] > 0
    batches.clear()
    src2.process_available(lambda df, v: batches.append((v, df.count())))
    assert batches == [(1, r["rows_rewritten"])]
    assert r["rows_rewritten"] < 1000  # sub-partition, not the 1000-row bucket

    # OPTIMIZE commits carry dataChange=false (spec): a compaction is
    # invisible to streaming consumers in both modes
    assert pt.compact(min_files=1)["compacted"]
    batches.clear()
    src2.process_available(lambda df, v: batches.append((v, df.count())))
    assert batches == [(2, 0)]


def test_delta_tail_datasource_readstream(spark, tmp_path):
    """The ``delta_tail`` Python DataSource: real readStream integration —
    Spark's checkpoint owns the offsets (exactly-once across stream
    restarts), batches contain only the files ADDED since the last
    drain (sub-partition on a stats-pruned clustered table), and
    OPTIMIZE commits are invisible."""
    from etl_stack_spark.streaming.delta_datasource import register_delta_tail

    rows = (
        spark.range(0, 4000)
        .select(
            (F.col("id") % 4).cast("string").alias("bucket"),
            F.lpad(F.col("id").cast("string"), 10, "0").alias("lkey"),
            F.col("id").cast("long").alias("v"),
        )
        .withColumn("content_hash", F.sha2(F.col("v").cast("string"), 256))
    )
    root = str(tmp_path / "pt")
    pt = PartitionedMergeTable(spark, root, "bucket", delta_log=True)
    pt.merge(rows, keys=["bucket", "lkey"], cluster_by=["lkey"], cluster_files=8)

    register_delta_tail(spark)
    ckpt = str(tmp_path / "ckpt")
    batches: list[tuple[int, int]] = []

    def drain():
        _await_drained(
            lambda: spark.readStream.format("delta_tail")
            .option("path", root)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: batches.append((bid, df.count()))
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    drain()  # bootstrap: the whole initial snapshot
    assert batches == [(0, 4000)]

    # narrow clustered delta -> the restarted stream (same checkpoint)
    # reads ONLY the rewritten files
    delta = (
        rows.filter(
            (F.col("bucket") == "3")
            & (F.col("lkey") >= "0000002000")
            & (F.col("lkey") < "0000002100")
        )
        .withColumn("v", F.col("v") * 10)
        .withColumn("content_hash", F.sha2(F.col("v").cast("string"), 256))
    )
    r = pt.merge(delta, keys=["bucket", "lkey"], cluster_by=["lkey"], cluster_files=8)
    assert r["files_pruned"] > 0
    batches.clear()
    drain()
    assert batches == [(1, r["rows_rewritten"])]
    assert r["rows_rewritten"] < 1000  # sub-partition batch

    # compaction: dataChange=false adds -> an empty planned batch
    assert pt.compact(min_files=1)["compacted"]
    batches.clear()
    drain()
    assert batches == [(2, 0)]

    # nothing new: no batch planned at all
    batches.clear()
    drain()
    assert batches == []


def test_delta_tail_schema_evolution_contract(spark, tmp_path):
    """Schema-evolution contract: a stream started AFTER an
    ``on_extra_columns='evolve'`` merge pins the EVOLVED schema from the
    log's latest metaData, and pre-evolution files (which physically
    lack the new column) read it as NULL — the Delta rule that the
    table schema, not the file schema, is the read contract."""
    from etl_stack_spark.streaming.delta_datasource import register_delta_tail

    root = str(tmp_path / "t")
    t = ParquetMergeTable(spark, root, delta_log=True)
    t.merge(
        _df(spark, [("x", "a", 1, "h1"), ("y", "b", 2, "h2")]), keys=["pk"]
    )
    # evolve: new column `extra`, touching only pk=c (a new row) — the
    # v0 files for a/b are NOT rewritten and lack the column on disk
    t.merge(
        spark.createDataFrame(
            [("z", "c", 3, "h3", "E")], SCHEMA + ", extra string"
        ),
        keys=["pk"],
        on_extra_columns="evolve",
    )

    register_delta_tail(spark)
    stream_schema = (
        spark.readStream.format("delta_tail").option("path", root).load().schema
    )
    assert "extra" in stream_schema.fieldNames()  # pinned from latest metaData

    collected: list = []

    def drain():
        _await_drained(
            lambda: spark.readStream.format("delta_tail")
            .option("path", root)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: collected.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    drain()  # bootstrap replays v0 (pre-evolution files) + v1
    got = {r.pk: r.extra for r in collected}
    assert got == {"a": None, "b": None, "c": "E"}
    # engine-side read() agrees: the stream and the table see one schema
    assert {r.pk: r.extra for r in t.read().collect()} == got


def test_delta_tail_starting_version(spark, tmp_path):
    """starting_version (Delta's startingVersion): a stream started at
    version N skips the bootstrap and tails only versions >= N;
    "latest" sees nothing until a commit made after the stream starts.
    Spark's checkpoint still owns the offsets after the first batch."""
    from etl_stack_spark.streaming.delta_datasource import register_delta_tail

    def mk(lo, hi):
        return (
            spark.range(lo, hi)
            .select(
                F.lit("a").alias("bucket"),
                F.lpad(F.col("id").cast("string"), 10, "0").alias("lkey"),
                F.col("id").cast("long").alias("v"),
            )
            .withColumn("content_hash", F.sha2(F.col("v").cast("string"), 256))
        )

    root = str(tmp_path / "pt")
    pt = PartitionedMergeTable(spark, root, "bucket", delta_log=True)
    pt.merge(mk(0, 1000), keys=["bucket", "lkey"])     # version 0
    pt.merge(mk(1000, 1200), keys=["bucket", "lkey"])  # version 1

    register_delta_tail(spark)
    rows_seen: list[int] = []

    def drain(ckpt, starting):
        reader = spark.readStream.format("delta_tail").option("path", root)
        if starting is not None:
            reader = reader.option("starting_version", starting)
        _await_drained(
            lambda: reader.load()
            .writeStream.foreachBatch(lambda df, bid: rows_seen.append(df.count()))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )

    # start at version 1: only the second merge's rewritten files
    drain("ck1", "1")
    v1_rows = sum(rows_seen)
    assert 0 < v1_rows < 1200 and v1_rows >= 200  # the delta, not the bootstrap

    # "latest": nothing yet...
    rows_seen.clear()
    drain("ck2", "latest")
    assert sum(rows_seen) == 0
    # ...until a NEW commit lands; the checkpointed offset resumes there
    pt.merge(mk(1200, 1300), keys=["bucket", "lkey"])  # version 2
    rows_seen.clear()
    drain("ck2", "latest")
    assert sum(rows_seen) >= 100  # the new files, never the history
