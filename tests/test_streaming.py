"""Structured Streaming surface: AvailableNow drain semantics
(exactly-once via checkpoint), republish, windowed counts, sessions."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from idr_data_pipelines_spark.streaming import (
    dedup_stream_exact,
    drain_available_now,
    republish,
    sessionize,
    sessionize_stream,
    windowed_event_counts,
)


def _write_messages(spark, path, start, n):
    (
        spark.range(start, start + n)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
            (F.col("id") % 3).alias("user_id"),
            F.lit("click").alias("event_type"),
        )
        .write.mode("append")
        .parquet(path)
    )


def test_drain_available_now_exactly_once(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    _write_messages(spark, inbox, 0, 10)
    schema = spark.read.parquet(inbox).schema

    drain_available_now(spark, inbox, schema, ckpt, "drain_t1")
    assert spark.table("drain_t1").count() == 10

    # second drain with the SAME checkpoint: no new files → nothing new
    drain_available_now(spark, inbox, schema, ckpt, "drain_t2")
    assert spark.table("drain_t2").count() == 0

    # new messages arrive → only they are drained (the ack ledger)
    _write_messages(spark, inbox, 100, 5)
    drain_available_now(spark, inbox, schema, ckpt, "drain_t3")
    assert spark.table("drain_t3").count() == 5


def test_republish_appends_to_destination(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    dest = str(tmp_path / "topic")
    _write_messages(spark, inbox, 0, 7)
    schema = spark.read.parquet(inbox).schema
    republish(spark, inbox, schema, ckpt, dest)
    assert spark.read.parquet(dest).count() == 7
    # idempotent on re-run with same checkpoint
    republish(spark, inbox, schema, ckpt, dest)
    assert spark.read.parquet(dest).count() == 7


def test_windowed_counts_streaming_with_watermark(spark, tmp_path):
    """Run the SAME aggregation definition as a real stream with a
    watermark (AvailableNow) and check it matches the batch result."""
    inbox = str(tmp_path / "inbox")
    _write_messages(spark, inbox, 0, 7200)  # 2 hours of 1-second events
    schema = spark.read.parquet(inbox).schema

    stream = spark.readStream.schema(schema).parquet(inbox)
    agg = windowed_event_counts(stream, "ts", "1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["window_start_us"] if "window_start_us" in r else r["window_start"]: r["n_events"]
        for r in spark.table("win_counts").collect()
    }
    batch = windowed_event_counts(spark.read.parquet(inbox), "ts", "1 hour")
    want = {r["window_start"]: r["n_events"] for r in batch.collect()}
    assert {str(k): v for k, v in got.items()} == {str(k): v for k, v in want.items()}
    assert sum(want.values()) == 7200


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Stateful streaming sessionization across multiple micro-batches
    (state carries the open session between them) emits exactly the
    batch sessions minus each user's open/last one, same numbering."""
    import time as _time
    import os

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    # 3 files = 3 micro-batches (maxFilesPerTrigger=1); timestamps
    # interleave users, with gaps inside and across file boundaries
    def write_file(idx, rows):
        df = spark.createDataFrame(rows, ["user_id", "ts_str"]).select(
            "user_id", F.to_timestamp("ts_str").alias("ts")
        )
        df.coalesce(1).write.mode("append").parquet(inbox)
        _time.sleep(1.1)  # distinct mtimes → deterministic file order

    write_file(0, [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00"),
        (2, "2024-01-01 09:00:00"),
    ])
    write_file(1, [
        (1, "2024-01-01 11:00:00"),          # >30min gap → closes s1
        (2, "2024-01-01 09:20:00"),          # same session for user 2
    ])
    write_file(2, [
        (1, "2024-01-01 11:10:00"),          # continues session 2
        (1, "2024-01-01 13:00:00"),          # closes session 2, opens 3
        (2, "2024-01-01 12:00:00"),          # closes user2 s1, opens 2
    ])

    schema = spark.read.parquet(inbox).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
    )
    out = sessionize_stream(stream, "user_id", "ts", gap_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_id"]): (r["start_us"], r["end_us"], r["n_events"])
        for r in spark.table("sess_stream").collect()
    }

    batch = sessionize(spark.read.parquet(inbox), "user_id", "ts", gap_minutes=30)
    rows = batch.collect()
    last_per_user = {}
    for r in rows:
        last_per_user[r["user_id"]] = max(
            last_per_user.get(r["user_id"], 0), r["session_id"]
        )
    want = {
        (r["user_id"], r["session_id"]): (
            r["session_start"], r["session_end"], r["n_events"]
        )
        for r in rows
        if r["session_id"] != last_per_user[r["user_id"]]
    }
    assert set(got) == set(want)
    for k, (s_us, e_us, n) in got.items():
        ws, we, wn = want[k]
        assert (s_us, e_us, n) == (
            int(ws.timestamp() * 1_000_000), int(we.timestamp() * 1_000_000), wn
        )
    # user 1: sessions 1 and 2 closed; user 2: session 1 closed
    assert set(got) == {(1, 1), (1, 2), (2, 1)}


def test_dedup_stream_exact_across_batches(spark, tmp_path):
    """Streaming dedup with bounded state: a redelivered message in a
    later micro-batch (within the watermark) is dropped; batch input
    falls back to plain dropDuplicates."""
    import os
    import time as _time

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)

    def write_file(rows):
        spark.createDataFrame(rows, ["event_id", "ts_str"]).select(
            "event_id", F.to_timestamp("ts_str").alias("ts")
        ).coalesce(1).write.mode("append").parquet(inbox)
        _time.sleep(1.1)

    write_file([(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:01:00")])
    # batch 2 redelivers event 1 (at-least-once source) + a new event
    write_file([(1, "2024-01-01 10:00:00"), (3, "2024-01-01 10:02:00")])

    schema = spark.read.parquet(inbox).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
    )
    out = dedup_stream_exact(stream, ["event_id"], "ts", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["event_id"] for r in spark.table("dedup_stream").collect())
    assert got == [1, 2, 3]  # the redelivery was dropped

    # batch fallback
    bdf = spark.read.parquet(inbox)
    assert dedup_stream_exact(bdf, ["event_id"]).count() == 3


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed aggregation with a watermark: a window is
    finalized once the watermark passes it, and an event arriving after
    that is dropped — the bounded-state behavior that lets the
    aggregation run forever."""
    import os
    import time as _time

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)

    def write_file(rows):
        spark.createDataFrame(rows, ["user_id", "ts_str"]).select(
            "user_id", F.to_timestamp("ts_str").alias("ts")
        ).coalesce(1).write.mode("append").parquet(inbox)
        _time.sleep(1.1)

    # hour-10 events; then two batches that advance the watermark past
    # hour 10 (13:30 → wm 12:30 at the NEXT batch, which finalizes and
    # emits the hour-10 window); then a straggler for hour 10, which
    # arrives after eviction and must be dropped, not re-emitted.
    write_file([(1, "2024-01-01 10:05:00"), (1, "2024-01-01 10:20:00")])
    write_file([(1, "2024-01-01 13:30:00")])
    write_file([(1, "2024-01-01 14:30:00")])
    write_file([(1, "2024-01-01 10:45:00")])

    schema = spark.read.parquet(inbox).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_counts")
        .outputMode("append")   # append emits only finalized windows
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("late_counts").collect()
    got = [(str(r["ws"]), r["n"]) for r in rows]
    # hour-10 emitted exactly once, with only the pre-watermark events;
    # the straggler was dropped (bounded state, no duplicate emission)
    assert got.count(("2024-01-01 10:00:00", 2)) == 1
    assert sum(1 for ws, _ in got if ws.startswith("2024-01-01 10")) == 1
    dropped = sum(
        (p["stateOperators"][0]["numRowsDroppedByWatermark"] if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    assert dropped == 1


def test_handle_event_audits_and_triggers(spark):
    """Cloud-Function analogue: base64 payload → parsed event, audit
    row appended, dependent pipeline triggered."""
    import base64

    from idr_data_pipelines_spark.plans.pipeline import Pipeline, PipelineRunner
    from idr_data_pipelines_spark.streaming import handle_event

    spark.sql("DROP TABLE IF EXISTS evt_audit")
    payload = base64.b64encode(
        b"{'bucket': 'idr-lake', 'name': 'mmd/2024-01-01.parquet'}"
    ).decode()

    ran = []
    pipe = Pipeline("on_event", source=lambda s: s.range(3))
    pipe.stage("mark", lambda df: (ran.append(1), df)[1])
    event = handle_event(
        spark, payload, "evt_audit",
        runner=PipelineRunner(retries=0), pipelines=[pipe],
        event_time="2024-01-01T04:00:00Z",
    )
    assert event == {"bucket": "idr-lake", "name": "mmd/2024-01-01.parquet"}
    assert ran  # pipeline triggered
    audit = spark.table("evt_audit").collect()
    assert len(audit) == 1
    assert "idr-lake" in audit[0]["payload"]
    assert audit[0]["event_time"] == "2024-01-01T04:00:00Z"

    # second event appends (audit is append-only) even if unparseable
    handle_event(spark, base64.b64encode(b"not a dict").decode(), "evt_audit")
    rows = spark.table("evt_audit").collect()
    assert len(rows) == 2
    spark.sql("DROP TABLE IF EXISTS evt_audit")


def test_handle_event_out_of_process_trigger_seam(spark):
    """The remote-trigger transport seam (composer2_airflow_rest_api.py
    trigger_dag analogue): a supplied callable receives one call per
    dependent pipeline with the parsed event — no in-process runner."""
    import base64

    from idr_data_pipelines_spark.plans.pipeline import Pipeline
    from idr_data_pipelines_spark.streaming import handle_event

    spark.sql("DROP TABLE IF EXISTS evt_audit_seam")
    payload = base64.b64encode(b"{'table': 'mmd'}").decode()
    calls = []
    pipes = [Pipeline("mmd_refresh", source=lambda s: s.range(1)),
             Pipeline("vls_refresh", source=lambda s: s.range(1))]
    event = handle_event(
        spark, payload, "evt_audit_seam",
        pipelines=pipes,
        trigger=lambda name, evt: calls.append((name, evt)),
        event_time="2024-01-01T00:00:00Z",
    )
    assert calls == [("mmd_refresh", event), ("vls_refresh", event)]
    # no pipelines named: transport still pinged once (broadcast-style)
    calls.clear()
    handle_event(
        spark, payload, "evt_audit_seam",
        trigger=lambda name, evt: calls.append((name, evt)),
    )
    assert calls == [(None, event)]
    spark.sql("DROP TABLE IF EXISTS evt_audit_seam")


def test_sessionize_gap_splits(spark):
    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:10:00"),   # same session (10 min)
        (1, "2024-01-01 11:00:00"),   # gap 50 min → new session
        (2, "2024-01-01 09:00:00"),   # other user
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts_str"]).withColumn(
        "ts", F.to_timestamp("ts_str")
    )
    out = {(r["user_id"], r["session_id"]): r for r in sessionize(df).collect()}
    assert (1, 1) in out and (1, 2) in out and (2, 1) in out
    assert out[(1, 1)]["n_events"] == 2
    assert out[(1, 2)]["n_events"] == 1
    # exactly-30-min gap does NOT split (strictly greater)
    rows2 = [(9, "2024-01-01 10:00:00"), (9, "2024-01-01 10:30:00")]
    df2 = spark.createDataFrame(rows2, ["user_id", "ts_str"]).withColumn(
        "ts", F.to_timestamp("ts_str")
    )
    assert sessionize(df2).count() == 1


def test_funnel_depth_order_sensitivity(spark):
    """Steps must occur in order, each strictly after the previous:
    purchase-before-click doesn't advance; equal timestamps don't
    advance; repeated steps are idempotent."""
    from datetime import datetime as ts

    from idr_data_pipelines_spark.streaming.events import funnel_depth

    rows = [
        # u1: perfect funnel
        (1, ts(2024, 1, 1, 10), "view"), (1, ts(2024, 1, 1, 11), "click"),
        (1, ts(2024, 1, 1, 12), "purchase"),
        # u2: purchase BEFORE click → depth 1 only... then later click → 2
        (2, ts(2024, 1, 1, 10), "view"), (2, ts(2024, 1, 1, 11), "purchase"),
        (2, ts(2024, 1, 1, 12), "click"),
        # u3: click at the SAME instant as view → not strictly after
        (3, ts(2024, 1, 1, 10), "view"), (3, ts(2024, 1, 1, 10), "click"),
        # u4: no view at all → depth 0
        (4, ts(2024, 1, 1, 10), "click"), (4, ts(2024, 1, 1, 11), "purchase"),
        # u5: duplicate views then full funnel
        (5, ts(2024, 1, 1, 9), "view"), (5, ts(2024, 1, 1, 10), "view"),
        (5, ts(2024, 1, 1, 11), "click"), (5, ts(2024, 1, 1, 12), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    depth = {r["user_id"]: r["depth"] for r in funnel_depth(
        df, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).collect()}
    assert depth == {1: 3, 2: 2, 3: 1, 4: 0, 5: 3}


def test_cdc_upsert_drain_old_updates_never_clobber(spark, tmp_path):
    """Two drains (separate streams, shared dim): the second delivers
    an OLDER update for k1 and a new key k2 — k1 must keep its newer
    state (associative latest-per-key merge, not blind replace)."""
    import datetime as dt

    from idr_data_pipelines_spark.streaming.events import cdc_upsert_drain

    schema = "k string, v string, ts date"
    dim = str(tmp_path / "dim")

    def drain(tag, rows):
        inbox = str(tmp_path / f"in_{tag}")
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(inbox)
        import os
        for f in os.listdir(inbox):
            if not f.endswith(".parquet"):
                os.remove(os.path.join(inbox, f))
        return cdc_upsert_drain(
            spark, inbox, df.schema, str(tmp_path / f"ck_{tag}"), dim,
            key_cols=["k"], order_cols=["ts", "v"],
        )

    drain("a", [("k1", "new", dt.date(2024, 6, 1))])
    out = drain("b", [("k1", "old", dt.date(2024, 1, 1)),
                      ("k2", "x", dt.date(2024, 2, 1))])
    got = {r["k"]: (r["v"], str(r["ts"])) for r in out.collect()}
    assert got == {"k1": ("new", "2024-06-01"), "k2": ("x", "2024-02-01")}


def test_distinct_stream_matches_batch_sketch_exactly(spark, sf_dir, tmp_path):
    """The multi-batch streamed HLL estimate must EQUAL the one-shot
    batch hll_sketch_agg estimate (register-max merge is associative
    and idempotent), and sit within ±5% of the exact distinct count."""
    import os

    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.queries import _events
    from idr_data_pipelines_spark.streaming.events import distinct_stream_drain

    ev = _events(spark, sf_dir).select("user_id", "event_type")
    inbox = str(tmp_path / "in")
    ev.repartition(4).write.mode("overwrite").parquet(inbox)
    for f in os.listdir(inbox):
        if not f.endswith(".parquet"):
            os.remove(os.path.join(inbox, f))

    streamed = distinct_stream_drain(
        spark, inbox, ev.schema, str(tmp_path / "ck"), str(tmp_path / "st"),
        key_col="user_id", group_col="event_type", max_files_per_trigger=2,
    )
    got = {r["event_type"]: r["approx_distinct"] for r in streamed.collect()}

    batch = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")
    )
    want = {r["event_type"]: r["e"] for r in batch.collect()}
    assert got == want  # byte-identical registers → identical estimate

    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for et, est in got.items():
        assert abs(est - exact[et]) <= 0.05 * exact[et], (et, est, exact[et])


def test_topk_merge_replay_is_fenced(spark, tmp_path):
    """At-least-once replay safety: re-applying the SAME batch_id must
    be a no-op (the SUM merge is not idempotent, so the batch-id fence
    is what prevents double-counting on crash-and-resume)."""
    from idr_data_pipelines_spark.streaming.events import (
        _state_read,
        _topk_merge_batch,
        _topk_state_schema,
    )

    ev = spark.createDataFrame(
        [("a",), ("a",), ("b",)], "event_type string"
    )
    state_dir = str(tmp_path / "state")
    st_schema = _topk_state_schema(ev.schema, ["event_type"])

    def counts():
        return {
            r["event_type"]: r["cnt"]
            for r in _state_read(spark, state_dir, st_schema).collect()
        }

    _topk_merge_batch(ev, 0, state_dir, st_schema, ["event_type"])
    assert counts() == {"a": 2, "b": 1}

    # replayed batch (crash between state overwrite and checkpoint
    # commit): same batch_id, same data → must not double-count
    _topk_merge_batch(ev, 0, state_dir, st_schema, ["event_type"])
    assert counts() == {"a": 2, "b": 1}

    # genuinely new batch still merges
    _topk_merge_batch(ev, 1, state_dir, st_schema, ["event_type"])
    assert counts() == {"a": 4, "b": 2}

    # stale batch id (< last applied) is also fenced
    _topk_merge_batch(ev, 0, state_dir, st_schema, ["event_type"])
    assert counts() == {"a": 4, "b": 2}


def test_state_commit_survives_crash_before_pointer_flip(spark, tmp_path):
    """A crash BETWEEN the version-dir write and the pointer flip must
    leave the previous committed state readable (the old overwrite
    layout lost all state at this point), and the replayed batch must
    overwrite the orphan and commit cleanly."""
    import os
    import shutil

    from idr_data_pipelines_spark.streaming.events import (
        _state_read,
        _topk_merge_batch,
        _topk_state_schema,
    )

    ev = spark.createDataFrame([("a",), ("a",), ("b",)], "event_type string")
    state_dir = str(tmp_path / "state")
    st_schema = _topk_state_schema(ev.schema, ["event_type"])

    _topk_merge_batch(ev, 0, state_dir, st_schema, ["event_type"])

    # simulate the torn commit: batch 1's version dir fully written
    # (copy v0's parquet as a stand-in) but the pointer never flipped
    shutil.copytree(os.path.join(state_dir, "v0"), os.path.join(state_dir, "v1"))
    got = {
        r["event_type"]: r["cnt"]
        for r in _state_read(spark, state_dir, st_schema).collect()
    }
    assert got == {"a": 2, "b": 1}  # old state intact, orphan invisible

    # resume: batch 1 replays, overwrites the orphan, flips the pointer
    _topk_merge_batch(ev, 1, state_dir, st_schema, ["event_type"])
    got = {
        r["event_type"]: r["cnt"]
        for r in _state_read(spark, state_dir, st_schema).collect()
    }
    assert got == {"a": 4, "b": 2}
    # GC removed the superseded version; only v1 + pointer remain
    # (".CURRENT.crc" is the Hadoop checksummed-LocalFileSystem
    # sidecar of the pointer — hidden by Hadoop's own "_"/"." naming
    # convention, kept consistent by the same rename that flips the
    # pointer, and not part of the state layout)
    assert sorted(
        n
        for n in os.listdir(state_dir)
        if not n.startswith("_") and not n.startswith(".")
    ) == ["CURRENT", "v1"]


def test_state_commit_never_overwrites_the_version_it_reads(spark, tmp_path):
    """A replayed batch merges the lazily-read current version and
    re-commits; if the commit reused the batch id as the version
    number, that would overwrite the directory the merge plan reads —
    Spark refuses, wedging the stream on every restart. The commit
    instead always writes current+1, so the merge-of-own-state commit
    SUCCEEDS into a fresh version; idempotent merges thereby make
    replays naturally safe (cdc/hll drains), and the non-idempotent
    topk merge keeps its data-level batch-id fence."""
    from idr_data_pipelines_spark.streaming.events import (
        _state_commit,
        _state_read,
        _state_version,
    )

    sd = str(tmp_path / "st")
    df = spark.createDataFrame([(1,)], "a int")
    _state_commit(df, sd)
    assert _state_version(spark, sd) == 0

    existing = _state_read(spark, sd, df.schema)
    _state_commit(existing.unionByName(df), sd)  # reads v0, writes v1
    assert _state_version(spark, sd) == 1
    assert _state_read(spark, sd, df.schema).count() == 2


def test_topk_stream_drain_matches_batch(spark, tmp_path):
    """End-to-end drain with multi-batch trickle equals the one-shot
    batch GROUP BY answer, with fencing active."""
    import os

    from idr_data_pipelines_spark.streaming.events import topk_stream_drain

    inbox = str(tmp_path / "in")
    _write_messages(spark, inbox, 0, 30)
    _write_messages(spark, inbox, 30, 30)
    ev = spark.read.parquet(inbox)

    got = topk_stream_drain(
        spark, inbox, ev.schema, str(tmp_path / "ck"), str(tmp_path / "st"),
        key_cols=["user_id"], k=3, max_files_per_trigger=1,
    ).collect()
    want = (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("user_id")).limit(3).collect()
    )
    assert [(r["user_id"], r["cnt"]) for r in got] == [
        (r["user_id"], r["cnt"]) for r in want
    ]


def test_missing_path_detection_covers_old_and_new_sparks():
    """First-batch detection must recognize BOTH the Spark >= 3.4
    PATH_NOT_FOUND error class and the pre-3.4 'Path does not exist'
    message (r4/r5 ADVICE), and nothing else."""
    from pyspark.errors import AnalysisException

    from idr_data_pipelines_spark.streaming.events import _is_missing_path_error

    assert _is_missing_path_error(
        AnalysisException("[PATH_NOT_FOUND] Path does not exist: file:/x")
    )
    assert _is_missing_path_error(
        AnalysisException("Path does not exist: hdfs://nn/x;")
    )
    assert not _is_missing_path_error(
        AnalysisException("[UNRESOLVED_COLUMN] cannot resolve `x`")
    )


def test_funnel_depth_max_events_cap(spark):
    """max_events bounds the folded prefix: a user whose completing
    chain sits inside the prefix is unaffected; one whose chain only
    completes later reports the prefix's depth (documented truncation
    semantics); max_events < 1 is rejected."""
    from datetime import datetime as ts

    import pytest as _pytest

    from idr_data_pipelines_spark.streaming.events import funnel_depth, funnel_fold

    rows = [
        # u1: chain completes within the first 3 events
        (1, ts(2024, 1, 1, 10), "view"), (1, ts(2024, 1, 1, 11), "click"),
        (1, ts(2024, 1, 1, 12), "purchase"), (1, ts(2024, 1, 1, 13), "view"),
        # u2: 3 noise views first; full chain only from event 4 on
        (2, ts(2024, 1, 1, 1), "view"), (2, ts(2024, 1, 1, 2), "view"),
        (2, ts(2024, 1, 1, 3), "view"), (2, ts(2024, 1, 1, 4), "click"),
        (2, ts(2024, 1, 1, 5), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    steps = ["view", "click", "purchase"]
    uncapped = {r["user_id"]: r["depth"] for r in funnel_depth(
        df, "user_id", "ts", "event_type", steps
    ).collect()}
    assert uncapped == {1: 3, 2: 3}
    capped = {r["user_id"]: r["depth"] for r in funnel_depth(
        df, "user_id", "ts", "event_type", steps, max_events=3
    ).collect()}
    # u1's chain fits in the prefix; u2's prefix is views only → depth 1
    assert capped == {1: 3, 2: 1}
    with _pytest.raises(ValueError, match="max_events"):
        funnel_fold(F.col("x"), steps, max_events=0)


def test_distinct_stream_md5_matches_batch_registers_exactly(spark, sf_dir, tmp_path):
    """The multi-batch streamed md5-HLL register state must EQUAL the
    one-shot batch register table row-for-row (register-max merge is
    associative and idempotent), and its derived estimate must land in
    the 1.04/sqrt(m) error regime vs the exact distinct count."""
    import os

    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.llmdata.sketches import (
        hll_estimate_from_registers,
        hll_md5_registers,
    )
    from idr_data_pipelines_spark.queries import _events
    from idr_data_pipelines_spark.streaming.events import distinct_stream_drain_md5

    ev = _events(spark, sf_dir).select("user_id", "event_type")
    inbox = str(tmp_path / "in")
    ev.repartition(4).write.mode("overwrite").parquet(inbox)
    for f in os.listdir(inbox):
        if not f.endswith(".parquet"):
            os.remove(os.path.join(inbox, f))

    streamed = distinct_stream_drain_md5(
        spark, inbox, ev.schema, str(tmp_path / "ck"), str(tmp_path / "st"),
        key_col="user_id", group_col="event_type", b=6, max_files_per_trigger=2,
    )
    got = {(r["grp"], r["bucket"]): r["register"] for r in streamed.collect()}
    batch = hll_md5_registers(
        ev, "user_id", "event_type", b=6, with_union=False
    )
    want = {(r["grp"], r["bucket"]): r["register"] for r in batch.collect()}
    assert got == want  # identical register tables, not just estimates

    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    regs: dict = {}
    for (grp, bkt), reg in got.items():
        regs.setdefault(grp, {})[bkt] = reg
    for et, n in exact.items():
        est = hll_estimate_from_registers(regs[et], b=6)
        assert abs(est - n) / n < 0.45, (et, est, n)  # m=64 → ~13% sigma


def test_dedup_stream_index_first_wins_across_batches(spark, tmp_path):
    """A fingerprint seen in an early batch must block later-batch
    duplicates, and the survivor must be the global min id — identical
    to the one-shot batch dedup regardless of batching."""
    import os

    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.llmdata.text import fingerprint
    from idr_data_pipelines_spark.streaming.events import dedup_stream_index_drain

    rows = [
        (1, "alpha beta gamma"),
        (2, "ALPHA   beta gamma"),   # same normalized fp as 1
        (3, "something else"),
        (4, "alpha beta gamma"),     # dup of 1 again
        (5, "yet another text"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).select(
        "doc_id", F.expr(fingerprint("text")).alias("fp")
    )
    inbox = str(tmp_path / "in")
    docs.repartition(4).write.mode("overwrite").parquet(inbox)
    for f in os.listdir(inbox):
        if not f.endswith(".parquet"):
            os.remove(os.path.join(inbox, f))
    out = dedup_stream_index_drain(
        spark,
        inbox,
        docs.schema,
        str(tmp_path / "ckpt"),
        str(tmp_path / "state"),
        max_files_per_trigger=1,  # one file per micro-batch: 4 batches
    )
    got = {r["doc_id"] for r in out.collect()}
    assert got == {1, 3, 5}


def test_event_transitions_counts_and_probs(spark):
    from datetime import datetime

    from idr_data_pipelines_spark.streaming.events import event_transitions

    t = datetime(2024, 1, 1)
    rows = [
        # user 1: a -> b -> a -> b   user 2: b -> b
        (1, 1, "a", t), (2, 1, "b", t.replace(minute=1)),
        (3, 1, "a", t.replace(minute=2)), (4, 1, "b", t.replace(minute=3)),
        (5, 2, "b", t), (6, 2, "b", t.replace(minute=1)),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "ts"])
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["prob"])
        for r in event_transitions(ev).collect()
    }
    assert got[("a", "b")] == (2, 1.0)
    assert got[("b", "a")] == (1, 0.5)
    assert got[("b", "b")] == (1, 0.5)
    assert ("b", None) not in got and len(got) == 3


def test_sessionize_stream_idle_timeout_flushes_and_evicts(spark, tmp_path):
    """EventTimeTimeout mode (review r09): a user idle past
    gap+idle_timeout of EVENT time gets their open session emitted
    (it is genuinely closed — the watermark passed the gap) and their
    state evicted, making state O(users active within the horizon)
    instead of O(users ever seen). Default mode must NOT emit it."""
    import os
    import time as _time

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)

    def write_file(rows):
        df = spark.createDataFrame(rows, ["user_id", "ts_str"]).select(
            "user_id", F.to_timestamp("ts_str").alias("ts")
        )
        df.coalesce(1).write.mode("append").parquet(inbox)
        _time.sleep(1.1)  # distinct mtimes → deterministic file order

    # user 1: two events, then idle past gap+idle (evicted), then
    # RETURNS for a second session — the post-eviction key-collision
    # case ADVICE r09 flagged. user 9: keeps the stream (and the
    # watermark) moving, hours past user 1's gap+idle.
    write_file([(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:05:00"),
                (9, "2024-01-01 10:00:00")])
    write_file([(9, "2024-01-01 20:00:00")])   # watermark -> ~19:59
    write_file([(9, "2024-01-01 20:01:00")])   # user 1 timeout fires
    write_file([(1, "2024-01-01 22:00:00"),    # user 1 returns...
                (1, "2024-01-01 23:30:00")])   # ...gap closes 22:00
    write_file([(9, "2024-01-02 10:00:00")])   # advance watermark

    schema = spark.read.parquet(inbox).schema

    def drain(name, **kw):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inbox)
        )
        out = sessionize_stream(stream, "user_id", "ts", gap_minutes=30, **kw)
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name).collect()

    flushed = drain(
        "sess_idle", idle_timeout_minutes=30, watermark_delay="1 minutes"
    )
    us = lambda s: int(  # noqa: E731
        spark.sql(f"SELECT unix_micros(TIMESTAMP '{s}')").collect()[0][0]
    )
    # timeout mode keys sessions by start_us (ADVICE r09): eviction
    # erases the seq counter, so seq-keyed output would collide when
    # the user returns — start_us is unique per user and stable.
    by_key = {(r["user_id"], r["session_id"]): r for r in flushed}
    assert len(by_key) == len(flushed), "duplicate (user, session_id)"
    # user 1's first (open) session was flushed by the timeout with
    # the exact fold numbers, keyed by its start
    r = by_key[(1, us("2024-01-01 10:00:00"))]
    assert r["start_us"] == us("2024-01-01 10:00:00")
    assert r["end_us"] == us("2024-01-01 10:05:00")
    assert r["n_events"] == 2
    # user 1 returned after eviction: the post-return session closed
    # by the 23:30 event is emitted under its OWN start key — no
    # collision with the pre-eviction session
    r2 = by_key[(1, us("2024-01-01 22:00:00"))]
    assert r2["end_us"] == us("2024-01-01 22:00:00")
    assert r2["n_events"] == 1
    # user 9's final session (2024-01-02 10:00) is still open and its
    # timeout deadline (last+gap+idle) is beyond the final watermark:
    # not emitted — eviction only fires when the session is provably
    # closed. Earlier closed sessions were emitted under start keys.
    u9 = {r["session_id"] for r in flushed if r["user_id"] == 9}
    assert us("2024-01-01 10:00:00") in u9
    assert us("2024-01-02 10:00:00") not in u9

    # default (drain-parity) mode: seq numbering, no eviction — only
    # sessions closed by a later event are emitted, so each user's
    # open (last) session is absent: user 1's 23:30- (seq 3), user
    # 9's 01-02 10:00- (seq 3)
    plain = {(r["user_id"], r["session_id"]) for r in drain("sess_plain")}
    assert plain == {(1, 1), (1, 2), (9, 1), (9, 2)}


def test_handle_event_transport_layer_never_crashes(spark):
    """r09 review: the never-crash contract starts at the TRANSPORT
    layer — malformed base64 and valid-base64-but-not-UTF-8 payloads
    must degrade to an audit row, not raise out of the handler."""
    import base64

    from idr_data_pipelines_spark.streaming import handle_event

    spark.sql("DROP TABLE IF EXISTS evt_audit_t")
    # invalid base64 (odd length, non-alphabet chars)
    ev1 = handle_event(spark, "a!!!@", "evt_audit_t")
    assert ev1 == {"raw": "a!!!@"}
    # valid base64 of bytes that are not UTF-8
    bad_utf8 = base64.b64encode(b"\xff\xfe\xfd").decode()
    ev2 = handle_event(spark, bad_utf8, "evt_audit_t")
    assert ev2 == {"raw": bad_utf8}
    assert len(spark.table("evt_audit_t").collect()) == 2
    spark.sql("DROP TABLE IF EXISTS evt_audit_t")


def test_null_timestamp_contracts_r10(spark, tmp_path):
    """r10 review: null timestamps have ONE contract across the
    session/funnel family — an event with no position on the time
    axis joins nothing. assign_sessions/sessionize drop them (they
    previously padded session 1's count, diverging from the stream
    fold, which always skipped them), and funnel_depth excludes them
    (a null-ts step-1 event anchored the greedy chain at t0=null,
    freezing depth at 1 where the recursive oracle ignores it)."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from idr_data_pipelines_spark.streaming.events import (
        funnel_depth,
        sessionize,
    )

    ts = datetime
    ev = spark.createDataFrame(
        [
            (1, None, "view"),
            (1, ts(2024, 1, 1, 10, 0), "view"),
            (1, ts(2024, 1, 1, 10, 5), "cart"),
            (1, ts(2024, 1, 1, 10, 6), "buy"),
        ],
        ["user_id", "ts", "event_type"],
    )
    s = sessionize(ev, gap_minutes=30).collect()
    assert len(s) == 1 and s[0]["n_events"] == 3  # null row dropped

    d = funnel_depth(ev, "user_id", "ts", "event_type",
                     ["view", "cart", "buy"]).collect()
    assert d[0]["depth"] == 3  # null-ts view no longer anchors t0=null


def test_state_layer_resolves_file_uri(spark, tmp_path):
    """The _state_* pointer ops resolve through the Hadoop FileSystem
    (r12, the Catalog-probe pattern): a ``file:``-prefixed state_dir —
    the URI shape a DFS deployment passes — must commit versions, flip
    the pointer atomically, replay-fence and GC exactly like a bare
    local path. Before the fix the os.* pointer ops saw no pointer on
    every run for any URI-form state_dir."""
    from idr_data_pipelines_spark.streaming.events import (
        _state_commit,
        _state_read,
        _state_version,
    )

    sd = "file://" + str(tmp_path / "st")
    df = spark.createDataFrame([(1,)], "a int")
    assert _state_version(spark, sd) is None
    _state_commit(df, sd)
    assert _state_version(spark, sd) == 0
    existing = _state_read(spark, sd, df.schema)
    _state_commit(existing.unionByName(df), sd)
    assert _state_version(spark, sd) == 1
    assert _state_read(spark, sd, df.schema).count() == 2
    # the URI really resolved to this filesystem: pointer content and
    # version GC are observable at the local mirror of the URI
    local = tmp_path / "st"
    assert (local / "CURRENT").read_text() == "v1"
    assert not (local / "v0").exists()
    assert (local / "v1").exists()


def test_hll_sidecar_resolves_file_uri(spark, tmp_path):
    """The _HLL_B geometry sidecar follows the same fsio convention:
    a pre-existing sidecar behind a ``file:`` URI still engages the
    bucket-width refusal (before r12 the guard silently never fired
    for URI-form state dirs — exactly the dangerous case, since the
    registers would max-merge across geometries)."""
    import pytest

    from idr_data_pipelines_spark.streaming.events import (
        distinct_stream_drain_md5,
    )

    state = tmp_path / "hll_state"
    state.mkdir()
    (state / "_HLL_B").write_text("6")
    with pytest.raises(ValueError, match="b=6"):
        distinct_stream_drain_md5(
            spark,
            str(tmp_path / "inbox"),
            None,
            str(tmp_path / "ckpt"),
            "file://" + str(state),
            key_col="k",
            group_col="g",
            b=8,
        )


def test_hll_stream_state_refuses_bucket_width_change(spark, tmp_path):
    """r10 review: the register table's bucket width is state
    geometry — re-draining a state_dir built with one b under another
    must refuse instead of max-merging incompatible registers."""
    import pytest

    from idr_data_pipelines_spark.streaming.events import (
        distinct_stream_drain_md5,
    )

    state = tmp_path / "hll_state"
    state.mkdir()
    (state / "_HLL_B").write_text("6")
    with pytest.raises(ValueError, match="b=6"):
        distinct_stream_drain_md5(
            spark,
            str(tmp_path / "inbox"),
            None,  # the guard fires before the schema is used
            str(tmp_path / "ckpt"),
            str(state),
            key_col="k",
            group_col="g",
            b=8,
        )
