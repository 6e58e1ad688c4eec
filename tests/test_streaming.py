"""Streaming jobs vs their batch twins (SURVEY.md §5.4)."""

import math
from collections import Counter

from pyspark.sql import functions as F

from proceso_de_etl_spark.sources.catalog import load_table
from proceso_de_etl_spark.streaming import jobs, stateful
from tests.conftest import SF_SMOKE


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_tumbling_equals_batch(spark):
    from proceso_de_etl_spark.operators.events import events_tumbling_window

    got = jobs.stream_tumbling_window(spark, SF_SMOKE)
    want = events_tumbling_window(spark, SF_SMOKE)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_stream_session_equals_batch_sessionize(spark):
    from proceso_de_etl_spark.operators.events import events_sessionize

    got = jobs.stream_session_window(spark, SF_SMOKE)
    want = events_sessionize(spark, SF_SMOKE).select(
        "user_id", "n_events", "session_value"
    )
    assert _sorted_rows(got) == _sorted_rows(want)


def test_stream_incremental_two_batches(spark, tmp_path):
    """Incremental source tracking — the property the reference's
    re-run loop lacks: when a second file lands, the engine processes
    ONLY the new rows (exactly one non-empty micro-batch per arrival,
    sized to the arrival), never reprocessing the first batch."""
    import os

    from pyspark.sql import functions as F

    from pyspark.sql import types as T

    # this test stages its own landing files with ts as epoch-nanos
    # long (independent of the on-disk testdata's ts encoding)
    nanos_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )

    ev = load_table(spark, SF_SMOKE, "events").limit(40)
    raw = ev.select(
        "event_id",
        (F.unix_micros("ts") * 1000).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    first = raw.filter(F.col("event_id") % 2 == 0)
    second = raw.filter(F.col("event_id") % 2 == 1)
    n1, n2 = first.count(), second.count()

    src = str(tmp_path / "landing")
    os.makedirs(src)
    first.coalesce(1).write.mode("append").parquet(src)

    seen: list[tuple[int, int]] = []

    def record(batch_df, epoch_id):
        n = batch_df.count()
        if n:
            seen.append((epoch_id, n))

    stream = (
        spark.readStream.schema(nanos_schema)
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    q = stream.writeStream.outputMode("append").foreachBatch(record).start()
    try:
        q.processAllAvailable()
        second.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    counts = [n for _, n in seen]
    assert counts == [n1, n2], (seen, n1, n2)


def test_stream_dedup_keeps_distinct_ids(spark):
    out = jobs.stream_dedup(spark, SF_SMOKE)
    ids = [r.event_id for r in out.select("event_id").collect()]
    assert len(ids) == len(set(ids))
    total = load_table(spark, SF_SMOKE, "events").select("event_id").distinct().count()
    assert len(ids) == total


def test_stateful_running_totals_match_batch(spark):
    stream = jobs.stream_events(spark, SF_SMOKE)
    out = jobs.run_to_memory(stateful.running_user_totals(stream), "update")
    # final state per user (last emitted row wins; single batch here)
    got = {r.user_id: (r.n_events, r.value_sum) for r in out.collect()}
    want_df = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.floor(F.col("value") * 1e6 + 0.5).cast("bigint")).cast("double")
                / 1e6
            ).alias("v"),
        )
    )
    want = {r.user_id: (r.n, r.v) for r in want_df.collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        # exact integer-unit accumulation: bit-identical, no isclose
        assert got[u][1] == want[u][1], (u, got[u][1], want[u][1])


def test_foreach_batch_sink_idempotent(spark, tmp_path):
    target = str(tmp_path / "sink")
    n1 = jobs.foreach_batch_idempotent_sink(spark, SF_SMOKE, target)
    assert n1 >= 1
    rows = spark.read.parquet(f"{target}/epoch=*").count()
    total = load_table(spark, SF_SMOKE, "events").count()
    assert rows == total
    # replaying the same stream (fresh query, epoch ids restart at 0)
    # must not duplicate: the ledger skips committed epochs.
    n2 = jobs.foreach_batch_idempotent_sink(spark, SF_SMOKE, target)
    assert n2 == 0
    assert spark.read.parquet(f"{target}/epoch=*").count() == total

def test_stream_cdc_apply_matches_batch_twin(spark):
    """The micro-batched CDC merge must converge to the one-pass batch
    apply: same keys, values, and row_source, regardless of how the
    feed was split into batches (the seq guard's whole job)."""
    from proceso_de_etl_spark.operators.etl import etl_cdc_apply
    from proceso_de_etl_spark.streaming import cdc

    got = cdc.stream_cdc_apply(spark, SF_SMOKE)
    want = etl_cdc_apply(spark, SF_SMOKE)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_cdc_merge_is_idempotent_and_order_safe(spark):
    """Replayed and out-of-order batches: applying (deletes, updates,
    updates-again) after the full feed must not change the state —
    lower/equal seq never wins, tombstones stay."""
    from proceso_de_etl_spark.streaming.cdc import _change_feed, merge_cdc_batch

    base, (ins, upd, dele) = _change_feed(spark, SF_SMOKE)
    snap = base.select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit("base").alias("row_source"), F.lit(0).alias("seq"),
        F.lit(False).alias("deleted"),
    )
    forward = merge_cdc_batch(merge_cdc_batch(merge_cdc_batch(snap, ins), upd), dele)
    replayed = merge_cdc_batch(merge_cdc_batch(forward, dele), upd)
    assert _sorted_rows(replayed) == _sorted_rows(forward)


def test_vault_ingest_batch_boundary_independent_and_replay_idempotent(spark):
    """ST28's two load invariants, pinned on the real sf feed:
    (a) batch-boundary independence — merging the three waves
    one-per-batch vs ALL coalesced into one batch converges to the
    same store (load_epoch comes from the feed's wave VALUE with
    min-wave-within-batch, never from epoch_id); (b) replay
    idempotency — re-merging an already-applied wave changes nothing
    (least(load_epoch, wave) is idempotent under foreachBatch's
    at-least-once delivery); (c) DELIVERY-ORDER independence — the
    r11 advisor's mtime-tie scenario: FileStreamSource may deliver
    wave_3 before wave_1, and the min-aware merge must still
    converge to the global MIN(wave) per key, not freeze the
    first-arriving wave."""
    from proceso_de_etl_spark.streaming.cdc import merge_vault_batch, vault_waves

    w1, w2, w3 = vault_waves(spark, SF_SMOKE)
    empty = spark.createDataFrame(
        [], "vault_table string, hk bigint, hd bigint, load_epoch int"
    )
    per_wave = merge_vault_batch(
        merge_vault_batch(merge_vault_batch(empty, w1), w2), w3
    )
    one_batch = merge_vault_batch(empty, w1.unionByName(w2).unionByName(w3))
    assert _sorted_rows(per_wave) == _sorted_rows(one_batch)
    replayed = merge_vault_batch(merge_vault_batch(per_wave, w2), w1)
    assert _sorted_rows(replayed) == _sorted_rows(per_wave)
    reversed_order = merge_vault_batch(
        merge_vault_batch(merge_vault_batch(empty, w3), w2), w1
    )
    assert _sorted_rows(reversed_order) == _sorted_rows(per_wave)


def _drained_log(spark, frames, log_dir):
    """Replay ``frames`` as micro-batches through ``drain_to_log`` and
    read the change log back."""
    stream = jobs.replay(spark, frames, "log_test")
    assert jobs.drain_to_log(stream, log_dir)
    return spark.read.schema(stream.schema).parquet(log_dir)


def test_log_compaction_counts_a_redelivered_batch_once(spark, tmp_path):
    """At-least-once delivery into the change log: a micro-batch that
    is appended twice (here redelivered after a later one) leaves its
    rows twice in the log, and compacting that log gives the same state
    as compacting the log that holds them once — for the CDC merge and
    for the vault merge."""
    from proceso_de_etl_spark.operators.etl import _change_feed, cdc_snapshot
    from proceso_de_etl_spark.sources.local import local_frame
    from proceso_de_etl_spark.streaming.cdc import (
        merge_cdc_batch,
        merge_vault_batch,
        vault_waves,
    )

    base, (ins, upd, dele) = _change_feed(spark, SF_SMOKE)
    once = _drained_log(spark, [ins, upd, dele], str(tmp_path / "cdc_once"))
    twice = _drained_log(spark, [ins, upd, dele, upd], str(tmp_path / "cdc_twice"))
    assert twice.count() == once.count() + upd.count()
    snap = cdc_snapshot(base)
    assert _sorted_rows(merge_cdc_batch(snap, twice)) == _sorted_rows(
        merge_cdc_batch(snap, once)
    )

    w1, w2, w3 = vault_waves(spark, SF_SMOKE)
    once = _drained_log(spark, [w1, w2, w3], str(tmp_path / "dv_once"))
    twice = _drained_log(spark, [w1, w2, w3, w2], str(tmp_path / "dv_twice"))
    assert twice.count() == once.count() + w2.count()
    empty = local_frame(
        spark, [], "vault_table string, hk bigint, hd bigint, load_epoch int"
    )
    assert _sorted_rows(merge_vault_batch(empty, twice)) == _sorted_rows(
        merge_vault_batch(empty, once)
    )


def test_stream_cdc_apply_writes_one_version_over_the_raw_log(spark, tmp_path, monkeypatch):
    """Merge on read: the micro-batches only append to the change log,
    which ends holding exactly the rows of the three change sets, and
    the one compaction after the drain writes the only snapshot
    version (the seq-0 snapshot is never written)."""
    import tempfile

    from proceso_de_etl_spark.operators.etl import _change_feed
    from proceso_de_etl_spark.streaming import cdc

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    got = cdc.stream_cdc_apply(spark, SF_SMOKE).collect()
    assert got
    (workdir,) = [d for d in tmp_path.iterdir() if (d / "log").is_dir()]
    assert sorted(p.name for p in workdir.iterdir() if p.name.startswith("snapshot_v")) == [
        "snapshot_v1"
    ]
    _, change_sets = _change_feed(spark, SF_SMOKE)
    want = change_sets[0].unionByName(change_sets[1]).unionByName(change_sets[2])
    log = spark.read.schema(want.schema).parquet(str(workdir / "log"))
    # deletes carry NULL status and price: compare as multisets
    assert Counter(map(tuple, log.collect())) == Counter(map(tuple, want.collect()))


def test_cdc_keys_on_empty_orders(spark, tmp_path):
    """With ``orders`` empty every change set and wave is empty: both
    streaming keys return no row, with the columns they return on real
    data."""
    from proceso_de_etl_spark.streaming import cdc
    from tests.conftest import empty_table_sf

    sf = empty_table_sf(tmp_path, "orders")
    for key in ("stream_cdc_apply", "stream_data_vault_ingest"):
        df = getattr(cdc, key)(spark, sf)
        assert df.collect() == [], key
        assert df.columns == getattr(cdc, key)(spark, SF_SMOKE).columns, key


def test_stream_approx_distinct_matches_batch_twin(spark):
    """ST9: the streaming HLL++ estimate must equal the batch
    approx_count_distinct on the same data bit-for-bit (register
    merges are order-independent), and land within 5% of the exact
    per-window distinct."""
    from pyspark.sql import functions as F

    from proceso_de_etl_spark.sources.catalog import load_table
    from proceso_de_etl_spark.streaming.jobs import stream_approx_distinct
    from tests.conftest import SF_CORRECT

    got = {
        r.window_start_us: r.approx_users
        for r in stream_approx_distinct(spark, SF_CORRECT).collect()
    }
    events = load_table(spark, SF_CORRECT, "events")
    batch = {
        r.window_start_us: (r.approx_users, r.exact_users)
        for r in events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "approx_users",
            "exact_users",
        )
        .collect()
    }
    assert got.keys() == batch.keys()
    for k, approx in got.items():
        b_approx, exact = batch[k]
        assert approx == b_approx, (k, approx, b_approx)
        # rsd ~5%, but tiny windows (n≈10) quantize to ±1-2 absolute
        assert abs(approx - exact) <= max(2, 0.05 * exact), (k, approx, exact)


def test_checkpoint_restart_resumes_offsets(spark, tmp_path):
    """Operational recovery: a restarted stream pointed at the SAME
    checkpointLocation must resume from the committed source offsets
    — files consumed before the stop are never reprocessed, files
    landed while down are picked up. Together with ST5's idempotent
    sink this is the end-to-end exactly-once story a production
    pipeline restarts on."""
    src = tmp_path / "landing"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def land(ids):
        spark.createDataFrame([(i,) for i in ids], "id long").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def run_once():
        seen = []
        q = (
            spark.readStream.schema("id long")
            .parquet(str(src))
            .writeStream.foreachBatch(
                lambda df, _eid: seen.extend(r.id for r in df.collect())
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return seen

    land([1, 2, 3])
    assert sorted(run_once()) == [1, 2, 3]
    land([4, 5])  # arrives while the stream is down
    assert sorted(run_once()) == [4, 5]  # resumed, not reprocessed


def test_transform_with_state_gated_with_actionable_error(spark):
    """The new-API stateful twin is environment-gated (python
    protobuf absent in this image); the gate must say exactly what
    to install and what the fallback is."""
    import pytest as _pytest

    from proceso_de_etl_spark.streaming.stateful import (
        running_user_totals_tws,
        transform_with_state_available,
    )

    assert not transform_with_state_available()
    with _pytest.raises(RuntimeError, match="protobuf"):
        running_user_totals_tws(jobs.stream_events(spark, SF_SMOKE))


def test_late_data_accounting_reconciles_exactly(spark):
    """ST12: drops must actually happen, batch splits must conserve
    the input, and the dropped-GROUP count must equal the watermark
    rule computed independently: distinct (1h window, event_type)
    groups among batch-3 rows whose window closed at or before
    max(batch1.ts) - delay (the late-events watermark in effect for
    batch 3 lags one batch, so it derives from batch 1)."""
    row = jobs.stream_late_data_accounting(spark, SF_SMOKE).collect()[0]
    assert row.n_dropped_groups > 0
    assert row.n_input == row.n_batch1 + row.n_batch2 + row.n_batch3_late

    # the value-oracled companion (ST12e) computes the same ledger as
    # one declarative batch plan; the engine metric must reconcile
    # against IT — this is the contract that lets the rows-only key
    # and the oracle-paired key vouch for each other
    ledger = jobs.stream_late_data_exact(spark, SF_SMOKE).collect()[0]
    assert (row.n_batch1, row.n_batch2, row.n_batch3_late) == (
        ledger.n_batch1,
        ledger.n_batch2,
        ledger.n_batch3_late,
    )
    assert row.n_dropped_groups == ledger.n_expected_dropped_groups, (
        row.n_dropped_groups,
        ledger.n_expected_dropped_groups,
    )


def test_stream_distinct_exact_matches_batch_rule(spark):
    """ST9e: the streamed exact distinct must equal the batch exact
    distinct for every EMITTED window, and the emitted set must be
    exactly the append-mode closure rule — window_end <= max(ts) - 2h
    (ms-floored, as Spark tracks watermarks)."""
    got = {
        r.window_start_us: r.n_users
        for r in jobs.stream_distinct_exact(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    max_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    wm_us = (max_us // 1000 - 7_200_000) * 1000
    want = {
        r.ws: r.n
        for r in (
            ev.select(
                F.unix_micros(F.date_trunc("hour", "ts")).alias("ws"), "user_id"
            )
            .groupBy("ws")
            .agg(F.countDistinct("user_id").alias("n"))
            .filter(F.col("ws") + 3_600_000_000 <= wm_us)
            .collect()
        )
    }
    assert got == want
    # the rule must genuinely trim something, or the contract is vacuous
    n_all_windows = ev.select(F.date_trunc("hour", "ts")).distinct().count()
    assert len(got) < n_all_windows


def test_stream_cusum_state_carries_across_triggers(spark, tmp_path):
    """ST21's state contract: the CUSUM statistic must CONTINUE
    across micro-batches — re-running the recursion per batch would
    reset C at the boundary and underestimate a drift that spans it.
    Literal two-batch replay with a planted cross-batch drift; the
    expected values are the hand recursion over the CONCATENATED
    series."""
    import pandas as pd

    from proceso_de_etl_spark.streaming.stateful import cusum_monitor_state

    # hourly singleton events: x = value exactly; mu=10, k=0, h=25
    hours1 = [(1, 10.0), (2, 30.0), (3, 30.0)]  # C: 0, 20, 40 (alarm)
    hours2 = [(4, 30.0), (5, 10.0)]  # C: 60 (alarm), 60 — only if carried
    src = str(tmp_path / "src")
    cols = "event_type string, hr_us long, value double, mu6 long, k6 long, h6 long"

    def frame(rows):
        return spark.createDataFrame(
            [("a", h * 3_600_000_000, v, 10_000_000, 0, 25_000_000) for h, v in rows],
            cols,
        )

    frame(hours1).coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(frame(hours1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = "cusum_state_test"
    q = (
        cusum_monitor_state(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        frame(hours2).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(name).collect()
    final = max(rows, key=lambda r: r.n_hours)
    # hand recursion over ALL 5 hours: C = 0,20,40,60,60 ; alarms at
    # C>25: hours 3,4,5 ; first alarm at hour 3
    assert final.n_hours == 5
    assert final.c6 == 60_000_000
    assert final.max6 == 60_000_000
    assert final.n_alarm_hours == 3
    assert final.first_alarm_us == 3 * 3_600_000_000
    # a per-batch reset would have produced max C = 40e6 in batch 1
    # and 20e6 in batch 2 — the 60e6 above is the carried state
    batch1 = min(rows, key=lambda r: r.n_hours)
    assert batch1.n_hours == 3 and batch1.max6 == 40_000_000


def test_stream_attribution_boundary_coverage(spark):
    """ST22's oracle equality is only meaningful if the replay
    actually exercises cross-trigger state: there must exist a
    batch-2 purchase (ts > corpus midpoint) whose attribution window
    reaches a batch-1 touch (ts <= midpoint) — ideally one whose
    FIRST touch is in batch 1, which a store-less per-batch recompute
    would mis-credit. Measure that on the gate data so a testdata
    regeneration that silently stops spanning the boundary fails
    HERE, not as a vacuously-green oracle row."""
    from pyspark.sql import functions as F

    from proceso_de_etl_spark.operators.events import ATTR_WINDOW_US
    from proceso_de_etl_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    mm = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).collect()[0]
    mid = (mm["lo"] + mm["hi"]) // 2
    p = ev.filter(
        (F.col("event_type") == "purchase") & (F.unix_micros("ts") > mid)
    ).select("user_id", F.unix_micros("ts").alias("pt"))
    t = ev.filter(
        (F.col("event_type") != "purchase") & (F.unix_micros("ts") <= mid)
    ).select(F.col("user_id").alias("tuid"), F.unix_micros("ts").alias("tt"))
    spanning = (
        p.join(t, p.user_id == t.tuid)
        .filter((F.col("tt") < F.col("pt")) & (F.col("tt") >= F.col("pt") - ATTR_WINDOW_US))
        .count()
    )
    assert spanning > 0, "no purchase's lookback spans the replay boundary"


def test_stream_attribution_epoch_replay_is_idempotent(spark, tmp_path):
    """ST22's idempotency contract under foreachBatch's at-least-once
    delivery: RE-executing an epoch (same batch, same epoch_id —
    exactly what Spark does after a mid-epoch failure) must leave the
    credit ledger byte-identical. The failure mode this pins: epoch
    N's first attempt already wrote N's touches to the store, so a
    replay that reads store ∪ batch would see every current-batch
    touch TWICE — duplicated join rows inflate k and the first/last
    flags, and the wrong credit then overwrites the correct
    partition. The store read's epoch_id < N filter is the fix."""
    from pyspark.sql import functions as F

    from proceso_de_etl_spark.sources.catalog import load_table
    from proceso_de_etl_spark.streaming.jobs import _attribution_epoch_fn
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    mm = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).collect()[0]
    mid = (mm["lo"] + mm["hi"]) // 2
    b0 = ev.filter(F.unix_micros("ts") <= mid)
    b1 = ev.filter(F.unix_micros("ts") > mid)
    touch_dir = str(tmp_path / "touches")
    credit_dir = str(tmp_path / "credits")
    fn = _attribution_epoch_fn(touch_dir, credit_dir)
    fn(b0, 0)
    fn(b1, 1)
    first = sorted(map(tuple, spark.read.parquet(credit_dir).collect()))
    fn(b1, 1)  # the at-least-once replay: epoch 1 re-executes in full
    replayed = sorted(map(tuple, spark.read.parquet(credit_dir).collect()))
    assert replayed == first


def test_stream_cohort_ltv_boundary_coverage(spark):
    """ST23's cross-trigger claim: some user first seen in batch 1
    (ts <= midpoint) must purchase in batch 2 — the user a per-batch
    firsts recompute would re-cohort at the purchase week. Pinned on
    the gate data for the same reason as the ST22 pin."""
    from pyspark.sql import functions as F

    from proceso_de_etl_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    mm = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).collect()[0]
    mid = (mm["lo"] + mm["hi"]) // 2
    firsts = ev.groupBy("user_id").agg(F.min(F.unix_micros("ts")).alias("first_us"))
    late_purch = ev.filter(
        (F.col("event_type") == "purchase")
        & (F.unix_micros("ts") > mid)
        & F.col("value").isNotNull()
    ).select("user_id")
    n = (
        late_purch.join(firsts, "user_id")
        .filter(F.col("first_us") <= mid)
        .count()
    )
    assert n > 0, "no batch-1 user purchases in batch 2"


def test_stream_ses_state_carries_across_triggers(spark, tmp_path):
    """ST24's state contract: the smoothing recursion must CONTINUE
    across micro-batches — a per-batch reset would restart s at the
    first hour of batch 2 (s = x·SCALE) instead of folding it into
    the carried state. Literal two-batch replay over planted hourly
    counts; expected values are the hand recursion over the
    CONCATENATED series, and the batch-2 final is checked against
    BOTH the carried and the reset recursion to prove they differ."""
    from proceso_de_etl_spark.operators.events import ESM_SCALE
    from proceso_de_etl_spark.streaming.stateful import ses_monitor_state

    HOUR = 3_600_000_000
    # hour -> count via repeated rows; batch1 hours 1,2 ; batch2 hours 3,4
    batch1 = [(1, 10), (2, 20)]
    batch2 = [(3, 40), (4, 10)]
    src = str(tmp_path / "src")
    cols = "event_type string, hr_us long"

    def frame(rows):
        data = [("a", h * HOUR) for h, n in rows for _ in range(n)]
        return spark.createDataFrame(data, cols)

    frame(batch1).coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(frame(batch1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = "ses_state_test"
    q = (
        ses_monitor_state(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        frame(batch2).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    def ses(xs):
        s, sae = xs[0] * ESM_SCALE, 0
        for x in xs[1:]:
            sae += abs(x * ESM_SCALE - s) // ESM_SCALE
            s = (2 * x * ESM_SCALE + 8 * s) // 10
        return s, sae

    rows = {r.n_hours: r for r in spark.table(name).collect()}
    assert set(rows) == {2, 4}
    s2, sae2 = ses([10, 20])
    assert (rows[2].s_scaled, rows[2].sae_units) == (s2, sae2)
    s4, sae4 = ses([10, 20, 40, 10])
    assert (rows[4].s_scaled, rows[4].sae_units) == (s4, sae4)
    # per-batch reset would restart at hour 3: provably different
    assert ses([40, 10]) != (s4, sae4)


def test_stream_holt_state_carries_across_triggers(spark, tmp_path):
    """ST25's state contract: the two-state Holt recursion must
    CONTINUE across micro-batches, including the trend — planted
    counts rise in batch 1 and fall in batch 2, so the carried trend
    flips sign mid-stream and a per-batch reset (which restarts at
    b = 0) provably diverges."""
    from proceso_de_etl_spark.operators.events import ESM_SCALE
    from proceso_de_etl_spark.streaming.stateful import holt_monitor_state

    HOUR = 3_600_000_000
    batch1 = [(1, 10), (2, 30), (3, 50)]
    batch2 = [(4, 20), (5, 5)]
    src = str(tmp_path / "src")
    cols = "event_type string, hr_us long"

    def frame(rows):
        data = [("a", h * HOUR) for h, n in rows for _ in range(n)]
        return spark.createDataFrame(data, cols)

    frame(batch1).coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(frame(batch1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = "holt_state_test"
    q = (
        holt_monitor_state(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        frame(batch2).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    def holt(xs):
        s, b, sae = xs[0] * ESM_SCALE, 0, 0
        for x in xs[1:]:
            fc = s + b
            sae += abs(x * ESM_SCALE - fc) // ESM_SCALE
            s2 = (2 * x * ESM_SCALE + 8 * fc) // 10
            b = (3 * (s2 - s) + 7 * b) // 10
            s = s2
        return s, b, sae

    rows = {r.n_hours: r for r in spark.table(name).collect()}
    assert set(rows) == {3, 5}
    assert (rows[3].s_scaled, rows[3].b_scaled, rows[3].sae_units) == holt([10, 30, 50])
    full = holt([10, 30, 50, 20, 5])
    assert (rows[5].s_scaled, rows[5].b_scaled, rows[5].sae_units) == full
    # trend carried across the boundary: a reset restarts at b=0
    assert holt([20, 5]) != full
    # the planted reversal bends the carried trend downward (β=0.3
    # damping keeps it positive after only two declining hours)
    assert rows[3].b_scaled > 0 and rows[5].b_scaled < rows[3].b_scaled


def test_stream_holt_winters_warmup_carries_across_triggers(spark, tmp_path):
    """ST29's state contract: the seasonal 24-vector AND the warmup
    buffer must continue across micro-batches — the epoch boundary is
    planted MID-WARMUP (10 of 24 init hours in batch 1), so a
    per-batch reset would re-initialize the seasonal vector on batch
    2's first 24 hours and provably diverge from the single-series
    replay."""
    from tests.test_operators import _hw_replay

    from proceso_de_etl_spark.operators.events import (
        ESM_ALPHA_DEN,
        ESM_ALPHA_NUM,
        ESM_SCALE,
        HOLT_BETA_DEN,
        HOLT_BETA_NUM,
        HW_GAMMA_DEN,
        HW_GAMMA_NUM,
        HW_PERIOD,
    )
    from proceso_de_etl_spark.streaming.stateful import hw_monitor_state

    HOUR = 3_600_000_000
    xs1 = [10, 20, 5, 40, 8, 30, 12, 22, 7, 41]  # 10 warmup hours
    xs2 = [9, 31, 11, 23, 6, 39, 10, 20, 5, 40, 8, 30, 12, 22,
           25, 14, 33, 9, 18, 27, 6, 35, 16, 28, 11, 21, 30, 7,
           19, 24, 13, 32, 8, 29, 15, 26, 10, 17]  # crosses init
    src = str(tmp_path / "src")
    cols = "event_type string, hr_us long"

    def frame(vals, start):
        data = [
            ("a", (start + i) * HOUR) for i, n in enumerate(vals) for _ in range(n)
        ]
        return spark.createDataFrame(data, cols)

    frame(xs1, 1).coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(frame(xs1, 1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = "hw_state_test"
    q = (
        hw_monitor_state(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        frame(xs2, 1 + len(xs1)).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.n_hours: r for r in spark.table(name).collect()}
    assert set(rows) == {len(xs1), len(xs1) + len(xs2)}
    # mid-warmup epoch reports zeros (state not yet defined)
    r1 = rows[len(xs1)]
    assert (r1.s_scaled, r1.b_scaled, r1.c_head, r1.c_sum, r1.sae_units) == (
        0, 0, 0, 0, 0,
    )
    # final state == single-series replay across the boundary
    s, b, c, sae = _hw_replay(
        xs1 + xs2, HW_PERIOD, ESM_SCALE,
        ESM_ALPHA_NUM, ESM_ALPHA_DEN,
        HOLT_BETA_NUM, HOLT_BETA_DEN,
        HW_GAMMA_NUM, HW_GAMMA_DEN,
    )
    rf = rows[len(xs1) + len(xs2)]
    assert (rf.s_scaled, rf.b_scaled, rf.c_head, rf.c_sum, rf.sae_units) == (
        s, b, c[0], sum(c), sae,
    )
    # a per-batch reset re-inits on xs2's first 24 hours: diverges
    s2, b2, c2, sae2 = _hw_replay(
        xs2, HW_PERIOD, ESM_SCALE,
        ESM_ALPHA_NUM, ESM_ALPHA_DEN,
        HOLT_BETA_NUM, HOLT_BETA_DEN,
        HW_GAMMA_NUM, HW_GAMMA_DEN,
    )
    assert (s2, b2, sae2) != (s, b, sae)


def test_replay_delivers_frames_in_order_and_leaves_only_landing(spark, tmp_path, monkeypatch):
    """replay's contract: epoch i receives exactly frame i, ordered by
    explicit mtimes at least 1 s apart (so the order holds on
    second-granularity filesystems) rather than by a wall-clock wait,
    and the staging dirs are gone — only the landing files remain."""
    import os
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    frames = [
        spark.createDataFrame([(i, j) for j in range(i + 2)], "batch int, j int")
        for i in range(3)
    ]
    seen = {}

    def record(batch_df, epoch_id):
        seen[epoch_id] = _sorted_rows(batch_df)

    jobs.drain(jobs.replay(spark, frames, "replay_test").writeStream.foreachBatch(record))
    assert seen == {i: _sorted_rows(f) for i, f in enumerate(frames)}

    (root,) = [d for d in os.listdir(tmp_path) if d.startswith("replay_test_")]
    assert os.listdir(tmp_path / root) == ["landing"]
    landing = tmp_path / root / "landing"
    mtimes = sorted(os.stat(landing / f).st_mtime for f in os.listdir(landing))
    assert len(mtimes) == 3
    assert all(b - a >= 1 for a, b in zip(mtimes, mtimes[1:])), mtimes


def test_drain_reraises_and_stops_the_query(spark):
    """drain's contract: a micro-batch that raises propagates out of
    drain, and the query is stopped anyway (stop in finally)."""
    import pytest

    def boom(batch_df, epoch_id):
        raise ValueError("planted batch failure")

    src = jobs.replay(spark, [spark.range(3)], "drain_test")
    with pytest.raises(Exception, match="planted batch failure"):
        jobs.drain(src.writeStream.foreachBatch(boom))
    assert spark.streams.active == []


def test_run_to_memory_drops_its_temp_view(spark):
    """run_to_memory must not leave its memory sink registered: the
    view would pin the sink's rows for the whole session. The
    returned frames stay valid after the view is dropped."""
    first = jobs.stream_tumbling_window(spark, SF_SMOKE)
    second = jobs.stream_tumbling_window(spark, SF_SMOKE)
    assert [t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")] == []
    assert _sorted_rows(first) == _sorted_rows(second)
    assert first.count() > 0


def test_streaming_package_has_no_sleeps_and_one_drain():
    """Ordered replays come from explicit mtimes (jobs.replay), never
    from wall-clock waits, and every query runs through jobs.drain:
    no ``sleep(`` anywhere in the package, and
    ``processAllAvailable`` only inside drain."""
    import inspect
    import pathlib

    import proceso_de_etl_spark

    pkg = pathlib.Path(proceso_de_etl_spark.__file__).parent
    drain_lines, start = inspect.getsourcelines(jobs.drain)
    drain_span = range(start, start + len(drain_lines))
    sleeps, stray = [], []
    for path in sorted(pkg.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if "sleep(" in line:
                sleeps.append(f"{path.relative_to(pkg)}:{no}")
            if "processAllAvailable" in line and not (
                path == pathlib.Path(inspect.getsourcefile(jobs)) and no in drain_span
            ):
                stray.append(f"{path.relative_to(pkg)}:{no}")
    assert sleeps == []
    assert stray == []


def test_package_makes_temp_dirs_only_through_scratch_dir():
    """Every temporary directory the package makes comes from
    ``cachereg.scratch_dir``, the one place that records it for
    ``release_all()``: no ``mkdtemp(`` anywhere else."""
    import inspect
    import pathlib

    import proceso_de_etl_spark
    from proceso_de_etl_spark import cachereg

    pkg = pathlib.Path(proceso_de_etl_spark.__file__).parent
    helper_lines, start = inspect.getsourcelines(cachereg.scratch_dir)
    helper_span = range(start, start + len(helper_lines))
    stray = [
        f"{path.relative_to(pkg)}:{no}"
        for path in sorted(pkg.rglob("*.py"))
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if "mkdtemp(" in line
        and not (path == pathlib.Path(inspect.getsourcefile(cachereg)) and no in helper_span)
    ]
    assert stray == []


def test_release_all_removes_stream_cdc_apply_dirs(spark, tmp_path, monkeypatch):
    """``stream_cdc_apply`` leaves its workdir (change log, snapshot
    version) and its replay landing root under the temp dir while the
    returned frame may still read them; ``release_all()`` removes both."""
    import tempfile

    from proceso_de_etl_spark import cachereg
    from proceso_de_etl_spark.streaming import cdc

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert cdc.stream_cdc_apply(spark, SF_SMOKE).collect()
    made = sorted(p.name for p in tmp_path.iterdir())
    assert any((tmp_path / d / "log").is_dir() for d in made), made
    assert any((tmp_path / d / "landing").is_dir() for d in made), made
    cachereg.release_all()
    assert list(tmp_path.iterdir()) == []
