"""Event-time state eviction for the stateful sessionizer.

Without a timeout the sessionizer's state holds one row per user ever
seen; these tests prove the ``evict=True`` mode actually
bounds it: once the watermark passes ``last_event + gap``, the user's
state row is removed — without changing the emitted sessions.
"""

import time

from pyspark.sql import functions as F

from meerkat_abacus_spark.streaming.stateful import (
    latest_sessions,
    sessionize_stream,
)

T0 = "2024-01-01 00:00:00"


def _write_slices(spark, src):
    """Three micro-batch files.  User 1 stops after slice 0; user 2 keeps
    emitting, advancing the watermark past user 1's session + gap."""
    slices = [
        [(1, 1, T0), (2, 1, "2024-01-01 00:00:10"), (3, 2, T0)],
        [(4, 2, "2024-01-01 02:00:00")],
        [(5, 2, "2024-01-01 04:00:00")],
    ]
    for i, rows in enumerate(slices):
        spark.createDataFrame(
            rows, schema="event_id long, user_id long, ts string"
        ).select(
            "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/slice={i}")
        time.sleep(0.05)  # distinct mtimes -> deterministic batch order


def _run(spark, src, ckpt, evict):
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/slice=*")
    )
    q = (
        sessionize_stream(stream, gap_seconds=1800, evict=evict)
        .writeStream.format("memory")
        .queryName(f"evict_{evict}")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = [
        p["stateOperators"][0]
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    sessions = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["duration_s"])
        for r in latest_sessions(spark.table(f"evict_{evict}")).collect()
    }
    return ops, sessions

EXPECTED = {
    (1, 1): (2, 10),  # user 1: one 2-event session, 10 s
    (2, 1): (1, 0),   # user 2: three singleton sessions 2 h apart
    (2, 2): (1, 0),
    (2, 3): (1, 0),
}


def _as_start_ids(expected):
    """evict mode emits start-us timestamps as session ids (see stateful.py:
    dense numbering would need the state eviction removes)."""
    us = 1_000_000
    t0 = 1704067200 * us
    return {
        (1, t0): expected[(1, 1)],
        (2, t0): expected[(2, 1)],
        (2, t0 + 7200 * us): expected[(2, 2)],
        (2, t0 + 14400 * us): expected[(2, 3)],
    }


def test_eviction_drops_idle_user_state(spark, tmp_path):
    _write_slices(spark, str(tmp_path / "src"))
    ops, sessions = _run(
        spark, str(tmp_path / "src"), str(tmp_path / "ckpt"), evict=True
    )
    # same sessions, time-based ids: eviction never changes emitted sessions
    assert sessions == _as_start_ids(EXPECTED)
    assert sum(o.get("numRowsRemoved", 0) for o in ops) >= 1
    assert ops[-1]["numRowsTotal"] == 1  # only user 2 still holds state


def test_no_timeout_mode_keeps_all_state(spark, tmp_path):
    _write_slices(spark, str(tmp_path / "src"))
    ops, sessions = _run(
        spark, str(tmp_path / "src"), str(tmp_path / "ckpt"), evict=False
    )
    assert sessions == EXPECTED
    assert ops[-1]["numRowsTotal"] == 2  # both users retained forever


US = 1_000_000
T0_US = 1704067200 * US  # 2024-01-01 00:00:00 UTC


def test_returning_user_after_eviction_gets_unique_session_id(spark, tmp_path):
    """The reason evict mode uses start-timestamp session ids: a user whose
    state was evicted and who later returns must NOT collide with their own
    earlier session (dense 1..n numbering would restart at 1)."""
    src = str(tmp_path / "src")
    # user 1 is absent for two full batches while the watermark passes their
    # session deadline -> state evicted in batch 3; they return in batch 4
    slices = [
        [(1, 1, T0), (2, 1, "2024-01-01 00:00:10"), (3, 2, T0)],
        [(4, 2, "2024-01-01 02:00:00")],
        [(5, 2, "2024-01-01 04:00:00")],
        [(6, 1, "2024-01-01 04:00:30"), (7, 2, "2024-01-01 06:00:00")],
    ]
    for i, rows in enumerate(slices):
        spark.createDataFrame(
            rows, schema="event_id long, user_id long, ts string"
        ).select(
            "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/slice={i}")
        time.sleep(0.05)
    ops, sessions = _run(spark, src, str(tmp_path / "ckpt"), evict=True)
    assert sessions == {
        (1, T0_US): (2, 10),                    # first session, pre-eviction
        (1, T0_US + 14430 * US): (1, 0),        # post-return, distinct id
        (2, T0_US): (1, 0),
        (2, T0_US + 7200 * US): (1, 0),
        (2, T0_US + 14400 * US): (1, 0),
        (2, T0_US + 21600 * US): (1, 0),
    }
    assert sum(o.get("numRowsRemoved", 0) for o in ops) >= 1


# ---------------------------------------------------------------------------
# dropDuplicatesWithinWatermark (streaming/dedup_stream.py)
# ---------------------------------------------------------------------------


def test_streaming_dedup_drops_dups_and_late_replays(spark, tmp_path):
    """3-file replay: a within-delay duplicate is suppressed by live state;
    a beyond-delay replay is dropped by the late filter instead of
    double-emitting after its state was evicted."""
    import glob
    import os
    import shutil

    from meerkat_abacus_spark.streaming.dedup_stream import (
        run_dedup_over_files,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    from datetime import datetime

    mk = lambda eid, ts: (
        eid, datetime.fromisoformat(ts), 1, "t", 1.0, "{}",
    )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    slices = [
        # originals: e1 early, e2 near the batch-0 frontier
        [mk(1, "2024-01-01 00:00:00"), mk(2, "2024-01-01 06:00:00")],
        # later data advances the watermark to 11:00; replay of e2 (state
        # alive: 06:00 within no-eviction reach) must be suppressed
        [mk(3, "2024-01-01 12:00:00"), mk(2, "2024-01-01 06:00:00")],
        # replay of e1 (00:00 < watermark 11:00): dropped as late, NOT
        # re-emitted even though e1's state row was evicted long ago
        [mk(1, "2024-01-01 00:00:00")],
    ]
    for i, rows in enumerate(slices):
        tmp = f"{src}_tmp{i}"
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dest = f"{src}/slice{i}.parquet"
        shutil.move(part, dest)
        shutil.rmtree(tmp)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    emitted = run_dedup_over_files(
        spark, src, ckpt, watermark_delay="1 hour",
        queryName="t_sdedup_unit",
    )
    ids = sorted(r.event_id for r in emitted.select("event_id").collect())
    assert ids == [1, 2, 3], ids


# ---------------------------------------------------------------------------
# Stream-stream interval join (streaming/join_stream.py)
# ---------------------------------------------------------------------------


def test_interval_join_matches_across_batch_boundary(spark, tmp_path):
    """A left row buffered in batch 0 must still match a right row arriving
    in batch 1 (within the interval), and a right row outside the interval
    must not match."""
    import glob
    import os
    import shutil
    from datetime import datetime

    from meerkat_abacus_spark.streaming.join_stream import (
        run_interval_join_over_files,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    mk = lambda eid, ts: (
        eid, datetime.fromisoformat(ts), 7, "t", 1.0, "{}",
    )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    slices = [
        # batch 0: left (even) row only — must be buffered
        [mk(2, "2024-01-01 10:00:00")],
        # batch 1: right (odd) rows — one inside [10:00, 10:30], one outside
        [mk(3, "2024-01-01 10:20:00"), mk(5, "2024-01-01 11:30:00")],
    ]
    for i, rows in enumerate(slices):
        tmp = f"{src}_tmp{i}"
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dest = f"{src}/slice{i}.parquet"
        shutil.move(part, dest)
        shutil.rmtree(tmp)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    joined = run_interval_join_over_files(
        spark, src, ckpt, queryName="t_ijoin_unit", max_files_per_trigger=1,
    )
    pairs = sorted(
        (r.left_id, r.right_id)
        for r in joined.select("left_id", "right_id").collect()
    )
    assert pairs == [(2, 3)], pairs

    # the one-big-batch replay default (VERDICT r13 ask #5) must return
    # the identical pairs — batching changes cost, never answers
    joined_coarse = run_interval_join_over_files(
        spark, src, str(tmp_path / "ckpt_coarse"), queryName="t_ijoin_coarse",
    )
    pairs_coarse = sorted(
        (r.left_id, r.right_id)
        for r in joined_coarse.select("left_id", "right_id").collect()
    )
    assert pairs_coarse == pairs, pairs_coarse


def test_hot_key_spanning_many_arrow_chunks(spark, tmp_path):
    """A key whose micro-batch exceeds the Arrow batch size reaches the
    stateful function as MULTIPLE pandas chunks in arbitrary inter-chunk
    order; the operator must concatenate them and sort ONCE before the
    gap scan (sorting each chunk independently would fabricate or merge
    sessions).  Forces 8-row chunks over a 240-event hot key laid down in
    descending time order so chunk-local sorting cannot accidentally be
    globally sorted."""
    from meerkat_abacus_spark.streaming.stateful import (
        run_sessionize_over_files,
    )

    n, gap_s = 240, 1800
    # One user; events every 600 s, so every 4th pair (2400 s) breaks a
    # session: sessions of 4 events each (session length 3*600 < gap).
    rows = [
        (
            i,
            7,
            # 600 s within a session, +gap-busting jump every 4 events
            (i * 600 + (i // 4) * 3600) * 1_000_000,
        )
        for i in range(n)
    ]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        rows, schema="event_id long, user_id long, us long"
    ).select(
        "event_id", "user_id", F.timestamp_micros("us").alias("ts")
    )
    # descending order inside the single file = worst-case chunk order
    df.orderBy(F.desc("ts")).coalesce(1).write.parquet(src + "/slice=0")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        out = run_sessionize_over_files(
            spark,
            src + "/slice=*",
            str(tmp_path / "ck_hot"),
            gap_seconds=gap_s,
            queryName="hotkey_sessions",
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {r.session_seq: (r.n_events, r.duration_s) for r in out}
    assert len(got) == n // 4, len(got)
    assert all(v == (4, 1800) for v in got.values()), sorted(got.items())[:5]


def test_restart_restores_session_state_from_checkpoint(spark, tmp_path):
    """Failure recovery: a session OPEN when the query stops must continue
    — not restart — when a new query resumes from the same checkpoint.
    This is the property that lets a 1000-executor deployment lose its
    driver mid-stream and keep exactly-once sessionization: the state
    store rehydrates (session start, count) and the file source skips
    already-committed slices."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def drop(i, rows):
        spark.createDataFrame(
            rows, schema="event_id long, user_id long, ts string"
        ).select(
            "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/slice={i}")
        time.sleep(0.05)

    out_dir = str(tmp_path / "out")

    def run():
        # memory sink refuses checkpoint recovery; a foreachBatch parquet
        # append is the shape a real deployment restarts with
        stream = (
            spark.readStream.schema("event_id long, user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/slice=*")
        )
        q = (
            sessionize_stream(stream, gap_seconds=1800, evict=True)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["user_id"], r["session_seq"]): (r["n_events"], r["duration_s"])
            for r in latest_sessions(spark.read.parquet(out_dir)).collect()
        }

    # run 1: user 1 opens a session (2 events), query stops
    drop(0, [(1, 1, T0), (2, 1, "2024-01-01 00:00:10")])
    first = run()
    assert first == {(1, T0_US): (2, 10)}

    # run 2 (NEW query, same checkpoint): user 1 continues within the gap
    # and a new user appears.  The continued session must carry its run-1
    # start id and count 3 — only possible if state was RESTORED, not
    # re-derived from run 2's input alone.  User 8's event predates the
    # checkpointed watermark and must be dropped as late: the restart
    # restores event-time progress too, so replayed stragglers cannot
    # corrupt already-emitted sessions.
    drop(1, [
        (3, 1, "2024-01-01 00:10:00"),
        (4, 9, "2024-01-01 00:10:00"),
        (5, 8, "2023-12-31 00:00:00"),
    ])
    second = run()
    assert second[(1, T0_US)] == (3, 600)
    assert second[(9, T0_US + 600 * US)] == (1, 0)
    assert not any(u == 8 for (u, _s) in second)
