"""Incremental maintenance: engine.incremental equivalence with batch
materialization, and the Structured-Streaming foreachBatch driver."""

import pytest
from pyspark.sql import functions as F

from arachne_spark.engine import FixpointEngine, TRIPLE_SCHEMA
from arachne_spark.oracle import naive_fixpoint
from arachne_spark.rules import load_rules_json
from arachne_spark.streaming import IncrementalMaterializer, stream_triples
from tests.conftest import spo_set, triples_df

R = "http://ex/r"


def _rules():
    return load_rules_json(
        [{"name": "trans", "body": [["?x", R, "?y"], ["?y", R, "?z"]],
          "head": [["?x", R, "?z"]]}]
    )


def test_incremental_equals_batch(spark):
    base = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(6)]
    extra = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(6, 10)]
    eng = FixpointEngine(spark, _rules())
    res1 = eng.materialize(triples_df(spark, base))
    res2 = eng.incremental(res1, triples_df(spark, extra))
    batch = eng.materialize(triples_df(spark, base + extra))
    assert spo_set(res2.facts) == spo_set(batch.facts)
    assert spo_set(res2.facts) == naive_fixpoint(base + extra, _rules())


def test_incremental_noop_on_known_facts(spark):
    base = [("<a>", f"<{R}>", "<b>"), ("<b>", f"<{R}>", "<c>")]
    eng = FixpointEngine(spark, _rules())
    res1 = eng.materialize(triples_df(spark, base))
    res2 = eng.incremental(res1, triples_df(spark, base))  # all already known
    assert res2.facts_count == res1.facts_count
    # first-round delta was empty => one round, nothing derived
    assert res2.metrics[-1].delta_out == 0


def test_streaming_foreachbatch(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    batch1 = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(5)]
    batch2 = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(5, 9)]
    triples_df(spark, batch1).write.mode("append").parquet(src)
    eng = FixpointEngine(spark, _rules())
    mat = IncrementalMaterializer(eng)
    gdb = spark.conf.get("spark.sql.globalTempDatabase")

    def _round_views():
        # the rounds' global temp views, dropped when each run ends
        return [t.name for t in spark.catalog.listTables(gdb) if "__arachne_" in t.name]

    q = mat.run(stream_triples(spark, src), checkpoint_location=ckpt)
    q.awaitTermination(120)
    first_facts = spo_set(mat.result.facts)
    assert first_facts == naive_fixpoint(batch1, _rules())
    assert _round_views() == []

    # second micro-batch arrives; availableNow query restarts from checkpoint
    triples_df(spark, batch2).write.mode("append").parquet(src)
    q2 = mat.run(stream_triples(spark, src), checkpoint_location=ckpt)
    q2.awaitTermination(120)
    assert spo_set(mat.result.facts) == naive_fixpoint(batch1 + batch2, _rules())
    assert mat.batches_processed == 2
    assert _round_views() == []


def test_sessionize_batch(spark):
    from arachne_spark.streaming.sessions import sessionize

    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:10:00", 2.0),   # same session (10 min gap)
        (1, "2024-01-01 11:30:00", 3.0),   # new session (>30 min)
        (2, "2024-01-01 09:00:00", 5.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string, value double").select(
        "user_id", F.to_timestamp("ts").alias("ts"), "value"
    )
    got = {
        (r["user_id"], str(r["session_start"]), r["n_events"], r["sum_value"])
        for r in sessionize(ev, gap_seconds=1800).collect()
    }
    assert got == {
        (1, "2024-01-01 10:00:00", 2, 3.0),
        (1, "2024-01-01 11:30:00", 1, 3.0),
        (2, "2024-01-01 09:00:00", 1, 5.0),
    }


def test_user_running_stats_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: the final emission per
    user across micro-batches equals the batch groupBy on the same data."""
    import os

    from arachne_spark.streaming.sessions import user_running_stats_stream

    src = str(tmp_path / "events_in")
    os.makedirs(src, exist_ok=True)
    b1 = spark.createDataFrame(
        [(1, 2.0), (1, 3.0), (2, 5.0)], "user_id long, value double"
    )
    b2 = spark.createDataFrame(
        [(1, 1.0), (3, 7.0)], "user_id long, value double"
    )
    b1.write.parquet(src + "/b1")
    b2.write.parquet(src + "/b2")
    stream = spark.readStream.schema("user_id long, value double").option(
        "maxFilesPerTrigger", "2"
    ).parquet(src + "/*")
    out = user_running_stats_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select user_id, n_events, sum_value from running_stats"
    ).collect()
    # last emission per user == full-data aggregate
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_events"], r["sum_value"])
    assert final == {1: (3, 6.0), 2: (1, 5.0), 3: (1, 7.0)}


def test_windowed_counts_stream_with_watermark(spark, tmp_path):
    """Streaming watermarked window agg: append mode finalizes a window once
    the watermark passes; results equal the batch formula on the same data,
    and an event later than the watermark delay is dropped.

    Watermark advancement is driven EXPLICITLY with two availableNow query
    phases over one checkpoint: phase 1 processes the early events plus the
    watermark-advancing 15:00 event and terminates (committing watermark =
    13:00); the too-late 10:30 file is only written afterwards, and phase 2
    restarts from the checkpoint with the restored watermark, so the drop is
    deterministic regardless of file mtime ordering or suite load (the
    single-query maxFilesPerTrigger formulation raced on modification-time
    ordering and flaked under parallel load)."""
    import os

    from arachne_spark.streaming.windows import windowed_counts_stream

    src = str(tmp_path / "ev_in")
    os.makedirs(src, exist_ok=True)
    ckpt = str(tmp_path / "wm_ckpt")
    early = [
        ("2024-01-01 10:05:00", "click", 1.0),
        ("2024-01-01 10:15:00", "click", 2.0),
        ("2024-01-01 10:20:00", "view", 5.0),
    ]
    # advances watermark far past the 10:00 window (+2h delay)
    late_batch = [("2024-01-01 15:00:00", "click", 1.0)]
    # older than the committed watermark -> must be DROPPED in phase 2
    too_late = [("2024-01-01 10:30:00", "click", 99.0)]

    def write_batch(name, rows):
        spark.createDataFrame(
            rows, "ts string, event_type string, value double"
        ).select(
            F.to_timestamp("ts").alias("ts"), "event_type", "value"
        ).coalesce(1).write.parquet(f"{src}/{name}")

    out = str(tmp_path / "wm_out")

    def run_phase():
        # parquet FILE sink: the only built-in sink that RECOVERS from a
        # checkpoint (memory sink raises "does not support recovering")
        stream = spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        ).parquet(src + "/*")
        q = (
            windowed_counts_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (str(r["ws"]), r["event_type"], r["n"], r["sum_value"])
            for r in spark.read.parquet(out).collect()
        }

    write_batch("b0", early)
    write_batch("b1", late_batch)
    rows1 = run_phase()
    # phase 1 committed watermark 13:00 -> the 10:00 window is finalized
    assert ("2024-01-01 10:00:00", "click", 2, 3.0) in rows1
    assert ("2024-01-01 10:00:00", "view", 1, 5.0) in rows1

    write_batch("b2", too_late)
    rows2 = run_phase()  # cumulative: phase-2 emissions = rows2 - rows1
    # the restored watermark drops the 10:30 event: no re-emission of the
    # 10:00 window and no 99.0/102.0 anywhere
    assert not any(r[3] in (99.0, 102.0) for r in rows2)
    assert not any(r[0] == "2024-01-01 10:00:00" for r in rows2 - rows1)
