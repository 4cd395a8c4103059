"""Streaming surface tests: CDC micro-batch exports, watermarked windows,
the stateful profile operator, and the query listener contract."""

from __future__ import annotations

import csv
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from cdc_export_system_spark.datagen import generate_users
from cdc_export_system_spark.state.watermark import WatermarkStore
from cdc_export_system_spark.streaming.cdc_stream import (
    attach_job_listener,
    run_delta_export_stream,
    run_incremental_export_stream,
)
from cdc_export_system_spark.streaming.event_windows import windowed_counts_stream
from cdc_export_system_spark.streaming.queries import stream_tumbling_window
from cdc_export_system_spark.streaming.stateful import user_profile_stream
from tests.conftest import SF_DIR


@pytest.fixture()
def changes_dir(spark, tmp_path):
    """Two change batches written as separate parquet files."""
    d = str(tmp_path / "changes")
    users = generate_users(spark, n_rows=200, seed=1)
    users.filter(F.col("id") <= 100).coalesce(1).write.mode("append").parquet(d)
    return d, users


def test_incremental_stream_drains_batches(spark, tmp_path, changes_dir):
    d, users = changes_dir
    store = WatermarkStore(spark, str(tmp_path / "state"))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    res = run_incremental_export_stream(spark, d, store, "sc", out, ckpt)
    assert sum(r["rowsExported"] for r in res) == users.filter(
        (F.col("id") <= 100) & ~F.col("is_deleted")
    ).count()
    assert store.get("sc") is not None
    # second batch of changes arrives; only the new files are processed
    users.filter(F.col("id") > 100).coalesce(1).write.mode("append").parquet(d)
    res2 = run_incremental_export_stream(spark, d, store, "sc", out, ckpt)
    assert sum(r["rowsExported"] for r in res2) == users.filter(
        (F.col("id") > 100) & ~F.col("is_deleted")
    ).count()
    # re-draining with nothing new exports nothing (checkpoint = offset log)
    res3 = run_incremental_export_stream(spark, d, store, "sc", out, ckpt)
    assert sum(r["rowsExported"] for r in res3) == 0


def test_incremental_stream_watermark_never_moves_back(spark, tmp_path):
    """A late change file of older rows is exported, but the stored
    watermark stays at the newer batch's max: it is a high-water mark,
    so a later batch incremental export cannot ship those rows again."""
    d = str(tmp_path / "changes")
    newer, older = datetime(2026, 3, 1, 12, 0, 0), datetime(2026, 2, 15, 8, 57, 26)
    users = generate_users(spark, n_rows=50, seed=3).filter(~F.col("is_deleted"))
    users.withColumn("updated_at", F.lit(newer)).coalesce(1).write.parquet(d)
    store = WatermarkStore(spark, str(tmp_path / "state"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_incremental_export_stream(spark, d, store, "hw", out, ckpt)
    assert store.get("hw") == newer

    late = users.withColumn("id", F.col("id") + 1000).withColumn("updated_at", F.lit(older))
    late.coalesce(1).write.mode("append").parquet(d)
    res = run_incremental_export_stream(spark, d, store, "hw", out, ckpt)
    assert sum(r["rowsExported"] for r in res) == users.count()
    assert store.get("hw") == newer


def test_delta_stream_classifies_operations(spark, tmp_path, changes_dir):
    d, users = changes_dir
    store = WatermarkStore(spark, str(tmp_path / "state"))
    out = str(tmp_path / "out")
    res = run_delta_export_stream(spark, d, store, "dc", out, str(tmp_path / "ckpt"))
    files = [r["file"] for r in res if r["rowsExported"]]
    assert files
    with open(files[0]) as f:
        rows = list(csv.reader(f))
    assert rows[0][0] == "operation"
    assert {r[0] for r in rows[1:]} <= {"INSERT", "UPDATE", "DELETE"}
    # deleted rows ARE included in delta (exports.py:156-160)
    deleted_in_batch = users.filter((F.col("id") <= 100) & F.col("is_deleted")).count()
    assert sum(1 for r in rows[1:] if r[0] == "DELETE") == deleted_in_batch


def test_windowed_counts_stream_matches_batch(spark):
    stream_df = windowed_counts_stream(spark, SF_DIR, watermark="10000 days")
    q = (
        stream_df.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in stream_tumbling_window(spark, SF_DIR).drop("sum_value").collect()
    }
    assert got == want


def test_stateful_profile_accumulates_across_batches(spark, tmp_path):
    from cdc_export_system_spark.io.sources import load_table

    d = str(tmp_path / "ev")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts", "user_id", "value")
    ev.filter(F.col("event_id") < 500).coalesce(1).write.mode("append").parquet(d)
    ev.filter(F.col("event_id") >= 500).coalesce(1).write.mode("append").parquet(d)

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(d)
    q = (
        user_profile_stream(stream)
        .writeStream.format("memory")
        .queryName("profiles")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last emitted state per user == batch aggregate over all events
    final = spark.sql(
        """SELECT user_id, max_by(n_events, n_events) AS n_events,
                  max_by(sum_value, n_events) AS sum_value
           FROM profiles GROUP BY user_id"""
    ).collect()
    want = {
        r["user_id"]: (r["n"], r["s"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert len(final) == len(want)
    for r in final:
        n, s = want[r["user_id"]]
        assert r["n_events"] == n
        assert abs(r["sum_value"] - s) < 1e-6


def test_listener_emits_lifecycle_events(spark, tmp_path, changes_dir):
    d, _ = changes_dir
    events: list[tuple[str, dict]] = []
    listener = attach_job_listener(spark, lambda name, payload: events.append((name, payload)))
    try:
        store = WatermarkStore(spark, str(tmp_path / "state"))
        run_incremental_export_stream(
            spark, d, store, "lc", str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
        spark.streams.resetTerminated()
        import time

        deadline = time.time() + 10
        while time.time() < deadline and not any(n == "export_completed" for n, _ in events):
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    names = {n for n, _ in events}
    assert "export_started" in names
    assert "export_completed" in names


def test_stream_stream_join_matches_batch(spark, tmp_path):
    from cdc_export_system_spark.io.sources import load_table
    from cdc_export_system_spark.streaming.joins import (
        click_purchase_attribution,
        stream_join_attribution,
    )

    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts", "user_id", "event_type")
    cd, pd_ = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    ev.filter(F.col("event_type") == "click").write.parquet(cd)
    ev.filter(F.col("event_type") == "purchase").write.parquet(pd_)
    clicks = spark.readStream.schema(ev.schema).parquet(cd)
    purchases = spark.readStream.schema(ev.schema).parquet(pd_)
    q = (
        click_purchase_attribution(clicks, purchases)
        .writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("SELECT click_id, purchase_id FROM attrib").collect()}
    want = {
        (r["click_id"], r["purchase_id"])
        for r in stream_join_attribution(spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_dedup_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark: redelivered events are emitted once
    even when the duplicate arrives in a later micro-batch."""
    from cdc_export_system_spark.io.sources import load_table

    d = str(tmp_path / "dup")
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "ts", "user_id")
        .filter(F.col("event_id") < 1000)
    )
    # batch 1: all rows; batch 2: the same first 500 redelivered
    ev.coalesce(1).write.mode("append").parquet(d)
    ev.filter(F.col("event_id") < 500).coalesce(1).write.mode("append").parquet(d)

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(d)
    deduped = stream.withWatermark("ts", "10000 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = spark.sql("SELECT count(*) AS n FROM dedup_out").collect()[0]["n"]
    assert n == ev.count()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Pins the append-mode late-data contract: once the event-time
    watermark has passed a window's end, a late row for that window is
    dropped — the principled, *bounded* version of the reference's
    'strict >' loss semantics (reference exports.py:119, README:335)."""
    import datetime as dt

    from pyspark.sql import types as T

    d = str(tmp_path / "stream")
    out = str(tmp_path / "wout")
    ckpt = str(tmp_path / "wckpt")
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("k", T.StringType())]
    )

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(d)

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(d)
            .withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    write_batch([(t0 + dt.timedelta(minutes=m), "a") for m in (0, 10, 20)])
    drain()
    # advance the watermark past the 10:00 window's end -> it finalizes
    write_batch([(dt.datetime(2024, 1, 1, 13, 0, 0), "a")])
    drain()
    # NOW a 10:15 straggler arrives: watermark (12:30) > window end -> dropped
    write_batch(
        [(t0 + dt.timedelta(minutes=15), "a"), (dt.datetime(2024, 1, 1, 15, 0, 0), "a")]
    )
    drain()
    write_batch([(dt.datetime(2024, 1, 1, 17, 0, 0), "a")])
    drain()

    rows = spark.read.parquet(out).collect()
    per_window = {}
    for r in rows:
        per_window.setdefault(r.ws, []).append(r.n)
    assert per_window[t0] == [3]  # one finalized emission, late row excluded


def test_incremental_stream_crash_mid_batch_resumes_exactly_once(
    spark, tmp_path, changes_dir, monkeypatch
):
    """Chaos pin for the checkpointed CDC stream, matching the reference's
    rollback semantics (app/services/jobs.py:51-58 — a failed export
    advances nothing): the micro-batch dies AFTER the CSV write but
    BEFORE the watermark upsert / checkpoint commit; on restart the same
    epoch replays onto the same path (atomic os.replace overwrite) and
    every change row is exported exactly once — no loss, no dupes."""
    from pyspark.errors import StreamingQueryException

    from cdc_export_system_spark.cdc import exports as cdc_exports

    d, users = changes_dir
    store = WatermarkStore(spark, str(tmp_path / "state"))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # epoch 0 drains the first change file cleanly
    run_incremental_export_stream(spark, d, store, "cc", out, ckpt)
    wm_after_first = store.get("cc")

    # second change file arrives; its batch dies mid-write on first attempt
    users.filter(F.col("id") > 100).coalesce(1).write.mode("append").parquet(d)
    real_write = cdc_exports.write_users_csv
    crashed = {"n": 0}

    def crash_after_sink(df, filepath, columns, **kw):
        n = real_write(df, filepath, columns, **kw)
        crashed["n"] += 1
        raise RuntimeError("simulated executor loss after sink write")

    monkeypatch.setattr(cdc_exports, "write_users_csv", crash_after_sink)
    with pytest.raises(StreamingQueryException):
        run_incremental_export_stream(spark, d, store, "cc", out, ckpt)
    assert crashed["n"] == 1
    # rollback semantics: the failed batch advanced nothing
    assert store.get("cc") == wm_after_first

    # restart without the fault: the uncommitted epoch replays
    monkeypatch.setattr(cdc_exports, "write_users_csv", real_write)
    res = run_incremental_export_stream(spark, d, store, "cc", out, ckpt)
    live = users.filter(~F.col("is_deleted"))
    assert sum(r["rowsExported"] for r in res) == live.filter(F.col("id") > 100).count()

    # exactly-once across ALL exported CSVs: every live id once, no dupes
    seen: list[str] = []
    for fname in os.listdir(out):
        with open(os.path.join(out, fname)) as f:
            seen += [row["id"] for row in csv.DictReader(f)]
    assert len(seen) == len(set(seen)) == live.count()
    # and the watermark lands on the true max change timestamp
    assert store.get("cc") == live.agg(F.max("updated_at")).first()[0]

    # idempotent tail: nothing new -> nothing exported, watermark unmoved
    res2 = run_incremental_export_stream(spark, d, store, "cc", out, ckpt)
    assert sum(r["rowsExported"] for r in res2) == 0


def test_scd2_stream_multi_batch_equals_batch_recompute(spark, tmp_path):
    """The incremental SCD2 merge must converge to the batch window
    recomputation regardless of how the change feed splits into
    micro-batches — including keys whose history spans batches and
    late rows for already-seen keys."""
    from cdc_export_system_spark.io.sources import load_table
    from cdc_export_system_spark.cdc.scd import scd2_intervals
    from cdc_export_system_spark.streaming.scd_stream import (
        run_scd2_stream,
        scd2_apply_batch,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    # three change files with interleaved event ids => every batch revisits
    # most keys, and batch 3 carries ts older than batch 2's for many keys
    feed = str(tmp_path / "feed")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(feed)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .select("user_id", "event_id", "event_type", "value", "ts")
    )
    state = str(tmp_path / "state")
    run_scd2_stream(spark, stream, state, str(tmp_path / "ckpt"))

    got = spark.read.parquet(state)
    want = scd2_intervals(ev)
    assert got.count() == want.count() == ev.count()
    # exact row equivalence (order-insensitive)
    got = got.select(*want.columns)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # replay idempotence: re-applying the last batch changes nothing
    last = ev.filter(F.col("event_id") % 3 == 2)
    replayed = scd2_apply_batch(got, last)
    assert replayed.exceptAll(want).count() == 0 and want.exceptAll(replayed).count() == 0


def test_scd2_apply_batch_converges_for_any_split(spark):
    """Property: however the change feed is partitioned into micro-batches
    — including out-of-order arrival and redelivered (duplicate) rows —
    folding scd2_apply_batch over the batches converges to the batch
    interval recomputation."""
    from datetime import datetime, timedelta

    from hypothesis import HealthCheck, given, settings, strategies as st

    from cdc_export_system_spark.cdc.scd import scd2_intervals
    from cdc_export_system_spark.streaming.scd_stream import scd2_apply_batch

    BASE = datetime(2024, 1, 1)
    SCHEMA = "user_id long, event_id long, event_type string, value double, ts timestamp"

    # up to 10 changes over 3 keys; each row assigned to one of 3 batches,
    # plus an optional redelivery of the row in a second batch
    change_st = st.tuples(
        st.integers(0, 2),        # user_id
        st.integers(0, 600),      # ts offset seconds (ties likely)
        st.integers(0, 2),        # batch assignment
        st.booleans(),            # also redelivered (same or another batch)
        st.booleans(),            # redelivery lands in the SAME batch
    )

    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(changes=st.lists(change_st, min_size=0, max_size=10),
           order=st.permutations([0, 1, 2]))
    def run(changes, order):
        rows = [
            (uid, eid, f"t{uid}", float(eid), BASE + timedelta(seconds=off))
            for eid, (uid, off, _, _, _) in enumerate(changes)
        ]
        batches = {b: [] for b in range(3)}
        for eid, (uid, off, b, redeliver, same) in enumerate(changes):
            batches[b].append(rows[eid])
            if redeliver:
                batches[b if same else (b + 1) % 3].append(rows[eid])
        state = None
        for b in order:
            if batches[b]:
                state = scd2_apply_batch(
                    state, spark.createDataFrame(batches[b], SCHEMA)
                )
        want = scd2_intervals(spark.createDataFrame(rows, SCHEMA)) if rows else None
        if state is None:
            assert want is None or want.count() == 0
            return
        # driver-side sorted-row compare (exceptAll trips a Catalyst
        # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on these chained window plans)
        got_rows = sorted(map(tuple, state.select(*want.columns).collect()))
        want_rows = sorted(map(tuple, want.collect()))
        assert got_rows == want_rows

    run()


def test_scd2_state_swap_survives_crash_between_renames(spark, tmp_path):
    """The state commit is two renames with deterministic stage/old
    paths; a crash in EITHER window (stage written but state not yet
    moved aside; state moved aside but stage not yet promoted) must not
    lose the prior state — _recover_state + stale-stage pruning restore
    the exact pre-crash table before the epoch replays."""
    from cdc_export_system_spark.cdc.scd import scd2_intervals
    from cdc_export_system_spark.io.sources import load_table
    from cdc_export_system_spark.streaming.scd_stream import _recover_state

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    state_dir = str(tmp_path / "state")
    scd2_intervals(ev).write.parquet(state_dir)
    want = spark.read.parquet(state_dir).collect()

    # window 1: staged written, crash before any rename of state_dir
    staged, old = f"{state_dir}.__stage__", f"{state_dir}.__old__"
    os.makedirs(staged)
    _recover_state(state_dir)
    import shutil

    shutil.rmtree(staged, ignore_errors=True)  # what _process does on entry
    assert sorted(map(str, spark.read.parquet(state_dir).collect())) == sorted(
        map(str, want)
    )

    # window 2: state_dir renamed aside, crash before promoting staged
    os.replace(state_dir, old)
    assert not os.path.isdir(state_dir)
    _recover_state(state_dir)
    assert os.path.isdir(state_dir) and not os.path.isdir(old)
    assert sorted(map(str, spark.read.parquet(state_dir).collect())) == sorted(
        map(str, want)
    )


def test_stream_cdc_scd2_hostile_timezone(spark, duck):
    """stream_cdc_scd2 reads via readStream directly (no load_table), so
    it must re-assert the UTC/nanos engine confs itself — under a driver
    session switched to a non-UTC zone the parquet timestamps would
    otherwise shift by the zone offset and every interval bound would
    miss the oracle."""
    import sys

    sys.path.insert(0, "tests")
    from parity import compare, duck_register

    from cdc_export_system_spark.registry import load_all

    reg = load_all()
    duck_register(duck, SF_DIR)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        spec = reg["stream_cdc_scd2"]
        r = compare(spec.fn(spark, SF_DIR), duck, spec.oracle)
        assert r["match"], f"stream_cdc_scd2 under hostile TZ: {r['detail']}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_stream_dedup_watermark_drops_cross_batch_redelivery(spark, tmp_path):
    """dropDuplicatesWithinWatermark must drop a redelivered event that
    arrives in a LATER micro-batch run, as long as it lands inside the
    watermark delay — the delivery contract stream_dedup_watermark's
    docstring claims. Two availableNow drains share one checkpoint: the
    second delivers a dup of event 2 plus a fresh event 3; only the
    fresh row may append."""
    import glob

    src_dir, out_dir = str(tmp_path / "src"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts timestamp, event_type string"

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(src_dir)
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    write_batch([(1, t0, "a"), (2, t0, "b")])
    drain()
    # redelivery of 2 lands 10 min later — inside the 1 h delay
    write_batch([(2, t0 + dt.timedelta(minutes=10), "b"), (3, t0, "c")])
    drain()
    got = {
        (r["event_id"], r["event_type"])
        for r in spark.read.schema(schema).parquet(out_dir).collect()
    }
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    assert len(glob.glob(f"{src_dir}/*.parquet")) >= 2  # really two batches


def test_stream_export_csv_bytes_match_batch_export(spark, monkeypatch):
    """The continuous CSV export must ship exactly the batch-export row
    set under the byte contract: the union of all per-batch CSVs equals
    the one-shot strictly-after-seed query (ISO timestamps, no
    pre-watermark leak, no empty files), and each CSV is internally
    ordered by event time."""
    import csv as _csv
    import glob as _glob

    from cdc_export_system_spark.io.sources import load_table
    from cdc_export_system_spark.streaming import export_stream
    from cdc_export_system_spark.streaming.export_stream import (
        EXPORT_SEED_WM, stream_export_csv,
    )
    from tests.conftest import SF_DIR

    made: list[str] = []  # the export's scratch dir, recorded as it is made

    def recording_scratch_dir(prefix):
        made.append(real_scratch_dir(prefix))
        return made[-1]

    real_scratch_dir = export_stream.scratch_dir
    monkeypatch.setattr(export_stream, "scratch_dir", recording_scratch_dir)
    summary = stream_export_csv(spark, SF_DIR).first()
    (base,) = made
    out_dir = os.path.join(base, "exports")
    files = sorted(_glob.glob(os.path.join(out_dir, "export_*.csv")))
    assert len(files) == summary["n_csv_files"]

    got = []
    for path in files:
        with open(path, newline="") as f:
            rows = list(_csv.DictReader(f))
        assert rows, f"empty CSV written: {path}"  # empty batch => no file
        assert rows == sorted(rows, key=lambda r: (r["ts"], int(r["event_id"])))
        got.extend(rows)
    assert len(got) == summary["rows_exported"]

    from cdc_export_system_spark.functions.scalars import iso_utc

    expect = {
        (str(r["event_id"]), r["iso"])
        for r in load_table(spark, SF_DIR, "events")
        .filter(F.col("ts") > F.lit(EXPORT_SEED_WM).cast("timestamp"))
        .select("event_id", iso_utc(F.col("ts")).alias("iso"))
        .collect()
    }
    assert {(r["event_id"], r["ts"]) for r in got} == expect


def test_topk_trending_stream_matches_batch(spark):
    """Complete-mode windowed counts + rank over the sink output equals
    the batch stream_topk_trending rows exactly."""
    from pyspark.sql import Window as W
    from cdc_export_system_spark.streaming.queries import (
        TRENDING_K,
        stream_topk_trending,
    )

    stream_df = windowed_counts_stream(spark, SF_DIR, watermark="10000 days")
    q = (
        stream_df.writeStream.format("memory")
        .queryName("trend_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rk = F.row_number().over(
        W.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    )
    got = {
        (r["window_start"], r["event_type"], r["n"], r["rnk"])
        for r in spark.table("trend_out")
        .withColumn("rnk", rk)
        .filter(F.col("rnk") <= TRENDING_K)
        .collect()
    }
    want = {
        (r["window_start"], r["event_type"], r["n"], r["rnk"])
        for r in stream_topk_trending(spark, SF_DIR).collect()
    }
    assert got == want and got
