"""Structured Streaming jobs (SURVEY.md §2.5 ST1-ST5).

The reference pipeline is a batch re-run loop ("ejecutar de nuevo" —
its idempotent conditional load exists exactly because it re-processes
the same files); Structured Streaming is that loop done properly:
incremental source tracking, watermark-bounded state, exactly-once
sinks. Each job here has a batch twin in operators/events.py whose
DuckDB oracle pins the semantics; tests assert stream == batch.

For local verification the file source drives a static parquet file
through the engine (one batch) into a memory sink; jobs whose state
must carry across triggers replay their input as ordered
micro-batches (``replay``), and every query runs to completion through
``drain``. On a cluster the same plans run on kafka/file-arrival
sources unchanged — that is the point of declaring them as streaming
DataFrames.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from proceso_de_etl_spark import cachereg
from proceso_de_etl_spark.functions.columns import dsum
from proceso_de_etl_spark.sources.local import local_frame

ORACLES: dict[str, str] = {}

def _events_raw_schema(sf_dir: str) -> tuple[T.StructType, bool]:
    """events.parquet's ts encoding varies by testdata generation:
    TIMESTAMP(NANOS) (streamed as long + div-1000 conversion, the
    only way the reader accepts nanos) or naive TIMESTAMP(MICROS)
    (streamed directly as a timestamp; with the session timezone
    pinned to UTC the naive micros read as the intended instant).
    Sniff the footer once driver-side; returns (schema, ts_is_long).
    """
    import glob
    import os

    import pyarrow.parquet as pq

    import pyarrow.types as pat

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):  # multi-file table (production layout):
        # every part carries the same footer schema — sniff the first
        path = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    pf = pq.ParquetFile(path)
    phys = {
        pf.schema.column(i).name: pf.schema.column(i).physical_type
        for i in range(len(pf.schema))
    }.get("ts")
    if phys == "INT96":
        # legacy INT96 timestamps (old writers / pre-r9 derived data):
        # arrow reports timestamp[ns] but the nanosAsLong long-path is
        # INT64-only — Spark reads INT96 directly as TimestampType
        ts_is_long = False
    else:
        arrow_ts = pq.read_schema(path).field("ts").type
        # fail fast on unrecognized encodings instead of silently
        # reading a wrong schema (e.g. a regeneration storing ts int64)
        if not pat.is_timestamp(arrow_ts):
            raise ValueError(
                f"events.parquet ts column has unsupported arrow type {arrow_ts!r}; "
                "expected timestamp(ns|us|ms|s) — regenerate testdata or extend "
                "_events_raw_schema for this encoding"
            )
        ts_is_long = arrow_ts.unit == "ns"
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType() if ts_is_long else T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return schema, ts_is_long


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table (file source).

    The file stream source only accepts directories; the testdata
    table is a single file inside a shared dir, so stream a temp dir
    holding a symlink to it (zero copy; in production the source is a
    landing directory or kafka and this shim disappears)."""
    import os

    from proceso_de_etl_spark.sources.catalog import _ensure_session_confs

    _ensure_session_confs(spark)  # host-built sessions lack nanosAsLong/UTC
    stage = cachereg.scratch_dir("stream_events_")
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):  # multi-file table: link each part flat
        # into the stage (the file source lists one level, so a
        # nested directory symlink would be skipped)
        import glob

        for p in sorted(glob.glob(os.path.join(src, "*.parquet"))):
            os.symlink(p, os.path.join(stage, os.path.basename(p)))
    else:
        os.symlink(src, os.path.join(stage, "events.parquet"))
    schema, ts_is_long = _events_raw_schema(sf_dir)
    raw = spark.readStream.schema(schema).parquet(stage)
    if ts_is_long:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def replay(spark: SparkSession, frames: list[DataFrame], prefix: str) -> DataFrame:
    """Stream ``frames`` back as ordered micro-batches: frame i lands
    as one parquet file with modification time base + i s, and the
    file source, read one file per trigger, delivers the oldest
    first, so epoch i is exactly frame i with no wall-clock wait.
    Each frame is written to a staging dir, its part file moved into
    the one landing dir, and the staging dir removed, so arrival is
    atomic and nothing but the landing files is left behind.
    coalesce(1) is GATE-FIXTURE generation only (one file per batch
    simulates an upstream feed dropping one file per arrival); in
    production the arrival order comes from the source itself (kafka
    offsets / file drops), nothing is restaged, and this shim
    disappears."""
    import os
    import shutil
    import time

    root = cachereg.scratch_dir(f"{prefix}_")
    landing = os.path.join(root, "landing")
    os.makedirs(landing)
    base = int(time.time())
    for i, frame in enumerate(frames):
        stage = os.path.join(root, f"_stage_{i}")
        frame.coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(landing, f"b{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        shutil.rmtree(stage)
        os.utime(dst, (base + i, base + i))
    return (
        spark.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )


def drain(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer``'s query, process every available input, and
    stop it even when a micro-batch raises (the error re-raises);
    returns the stopped query, whose ``recentProgress`` stays
    readable."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def drain_to_log(stream: DataFrame, log_dir: str) -> bool:
    """Drain ``stream`` into the parquet change log ``log_dir``: each
    micro-batch is appended to it unchanged, so a micro-batch is one
    write job, with no read of any state, no window, no join and no
    shuffle. The caller compacts the log once, after the drain (merge
    on read). A redelivered micro-batch lands in the log twice, so the
    compaction must be idempotent. Returns whether any micro-batch ran;
    if none did, ``log_dir`` was never written."""
    ran = []

    def append(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(log_dir)
        ran.append(epoch_id)

    drain(stream.writeStream.foreachBatch(append))
    return bool(ran)


def run_to_memory(stream_df: DataFrame, mode: str) -> DataFrame:
    """Drive a streaming plan over the (static) source to completion
    through a memory sink; return the materialized result. The sink's
    temp view is dropped before returning: the returned frame holds
    the sink itself, while the view would pin its rows for the rest
    of the session."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    drain(stream_df.writeStream.outputMode(mode).format("memory").queryName(name))
    spark = stream_df.sparkSession
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def windowed_counts(events: DataFrame) -> DataFrame:
    """ST1 — tumbling 1h window counts per event type, watermarked.
    The watermark bounds state: at scale the engine retains only
    windows newer than max(event time) - 2h, no matter how long the
    stream runs."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value"), 6).alias("value_sum"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "value_sum",
        )
    )


def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-mode over a static source ≡ the batch aggregation, so
    this streaming job shares the batch twin's DuckDB oracle."""
    return run_to_memory(windowed_counts(stream_events(spark, sf_dir)), "complete")


ORACLES["stream_tumbling_window"] = """
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
"""


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """ST2 — native session windows: per-user sessions close after
    ``gap`` of inactivity (the streaming form of the batch
    lag+cumsum sessionizer)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), 6).alias("session_value"))
        .select("user_id", "n_events", "session_value")
    )


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-mode session windows over the static source. Oracle:
    the batch gap-sessionizer aggregated to the same shape (session
    identity differs — (user, start) vs (user, ordinal) — but the
    multiset of per-session rollups must be identical)."""
    return run_to_memory(session_windows(stream_events(spark, sf_dir)), "complete")


ORACLES["stream_session_window"] = """
WITH seq AS (
  SELECT user_id, event_id, value,
         lag(epoch_us(ts)) OVER w AS prev_us, epoch_us(ts) AS ts_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
flagged AS (
  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 30*60*1000000
                 THEN 1 ELSE 0 END AS is_new
  FROM seq
),
sess AS (
  SELECT user_id, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
FROM sess GROUP BY user_id, session_id
"""


def streaming_dedup(events: DataFrame) -> DataFrame:
    """ST3 — drop duplicate event_ids within the watermark horizon —
    the streaming form of the reference's idempotent conditional load
    (reference main.py:45-59): replayed input must not double-count."""
    return events.withWatermark("ts", "2 hours").dropDuplicates(["event_id"])


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode dedup over a replayed source (the file fed twice
    via union would dedup to one copy; over the single static file
    output simply equals the distinct set)."""
    out = run_to_memory(
        streaming_dedup(stream_events(spark, sf_dir)).select(
            "event_id", "user_id", "event_type", "value"
        ),
        "append",
    )
    return out


ORACLES["stream_dedup"] = """
SELECT event_id, user_id, event_type, value
FROM (SELECT event_id, user_id, event_type, value,
             row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
      FROM events)
WHERE rn = 1
"""


def foreach_batch_idempotent_sink(spark: SparkSession, sf_dir: str, target_dir: str) -> int:
    """ST5 — exactly-once file sink via foreachBatch: each epoch
    writes to a staging path then atomically promotes (rename), and
    an epoch ledger skips already-committed epochs on replay — the
    reference's transactional load (main.py:173-195), streaming form.
    Returns number of committed epochs."""
    import os
    import shutil

    committed: list[int] = []
    ledger = os.path.join(target_dir, "_epochs")
    os.makedirs(ledger, exist_ok=True)

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        marker = os.path.join(ledger, str(epoch_id))
        if os.path.exists(marker):  # replayed epoch: already committed
            return
        staging = os.path.join(target_dir, f"_staging_{epoch_id}")
        final = os.path.join(target_dir, f"epoch={epoch_id}")
        batch_df.write.mode("overwrite").parquet(staging)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(staging, final)
        open(marker, "w").close()
        committed.append(epoch_id)

    drain(
        stream_events(spark, sf_dir).writeStream.outputMode("append").foreachBatch(write_epoch)
    )
    return len(committed)


def interval_join_purchases_clicks(events: DataFrame, events2: DataFrame) -> DataFrame:
    """ST6 — stream-stream interval join: each purchase pairs with the
    same user's clicks from the preceding hour. Watermarks on both
    sides bound the join state — the engine can discard click state
    older than purchase-watermark − 1h, which is what makes a
    stream-stream join runnable forever."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("pts", "2 hours")
    )
    clicks = (
        events2.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("cts"),
        )
        .withWatermark("cts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("cts") < F.col("pts")),
    ).select(
        "user_id",
        "purchase_id",
        "click_id",
        F.unix_micros("pts").alias("purchase_ts_us"),
        F.unix_micros("cts").alias("click_ts_us"),
    )


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev1 = stream_events(spark, sf_dir)
    ev2 = stream_events(spark, sf_dir)
    return run_to_memory(interval_join_purchases_clicks(ev1, ev2), "append")


ORACLES["stream_interval_join"] = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       epoch_us(p.ts) AS purchase_ts_us, epoch_us(c.ts) AS click_ts_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""

def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 as a contract query — applyInPandasWithState running
    per-user totals driven over the static source. Update mode emits
    one row per user per batch; the single-batch file source makes
    the output the final totals, so the job shares a VALUE oracle
    with the batch groupBy: the state accumulates exact integer
    micro-units (see streaming/stateful.py), making the emitted sum
    order-independent and engine-reproducible."""
    from proceso_de_etl_spark.streaming.stateful import running_user_totals

    return run_to_memory(running_user_totals(stream_events(spark, sf_dir)), "update")


ORACLES["stream_stateful_totals"] = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000.0 AS value_sum
FROM events
GROUP BY user_id
"""


def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7 — stream-static join: each streaming event enriched with a
    STATIC dimension (per-type totals from the batch table — in
    production a reference table the stream looks up). Stream-static
    inner joins are stateless: no watermark, no join state — the
    static side is simply available to every micro-batch, which is
    why this is the cheapest enrichment pattern on a stream and the
    first thing to reach for before a stream-stream join."""
    from proceso_de_etl_spark.sources.catalog import load_table

    ev = stream_events(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("type_total"))
    )
    joined = ev.join(dim, "event_type").select(
        "event_id", "user_id", "event_type", "value", "type_total"
    )
    return run_to_memory(joined, "append")


ORACLES["stream_static_enrichment"] = """
WITH dim AS (SELECT event_type, COUNT(*) AS type_total FROM events GROUP BY event_type)
SELECT event_id, user_id, event_type, value, type_total
FROM events JOIN dim USING (event_type)
"""


def windowed_distinct_users(events: DataFrame) -> DataFrame:
    """ST9 — streaming approximate distinct: per-hour unique users
    via approx_count_distinct. Exact COUNT(DISTINCT) is NOT legal in
    a streaming aggregation (state would be unbounded per group);
    the HLL++ sketch is the standing answer — algebraic
    (register-max merge, constant state per window) and mergeable
    across micro-batches, the same property that makes it the right
    call for a 100 TB batch rollup. Deterministic for a given input
    multiset: register updates are order-independent, so the
    streaming result equals the batch twin's bit-for-bit
    (test-pinned, plus a 5%-of-exact bound)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"))
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"), "approx_users")
    )


def stream_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-mode over the static source; rows-only (the estimate
    is engine-specific — DuckDB's approx sketch differs — so the
    cross-engine oracle is the exact-distinct 5% bound in tests, not
    a value hash)."""
    return run_to_memory(windowed_distinct_users(stream_events(spark, sf_dir)), "complete")


LATE_WM_DELAY = "2 hours"


def stream_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST12 — watermark late-data accounting: how many GROUPS did the
    watermark actually drop, and does the ledger reconcile? The
    events table is replayed (``replay``) as three ordered
    micro-batches (recent 25% → middle 25% → oldest 50% as the late
    arrivals); the engine's own `numRowsDroppedByWatermark` metric is
    the ground truth for what the windowed agg refused.

    Two engine facts this operator documents (empirically pinned,
    Spark 4.1) that anyone building late-data SLAs must know:
    1. the LATE-EVENTS watermark lags the global watermark by one
       batch (SPARK-40925 split it from the eviction watermark), so
       rows late relative to batch N's data are only FILTERED from
       batch N+2 on — hence three batches, not two;
    2. the metric counts rows AT THE STATEFUL OPERATOR — i.e. after
       partial aggregation, one row per (window, event_type) group
       per batch — so it tallies dropped GROUPS, not input rows.
    The test pins the exact expected group count from the watermark
    rule (window_end ≤ max(batch1.ts) − delay). Rows-only: the
    metric is engine-internal by design."""
    from proceso_de_etl_spark.sources.catalog import _ensure_session_confs, load_table

    _ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    cuts = ev.agg(
        F.percentile(F.unix_micros("ts"), F.lit(0.50)).alias("c50"),
        F.percentile(F.unix_micros("ts"), F.lit(0.75)).alias("c75"),
    ).collect()[0]
    recent = ev.filter(F.unix_micros("ts") >= cuts.c75)
    middle = ev.filter(
        (F.unix_micros("ts") >= cuts.c50) & (F.unix_micros("ts") < cuts.c75)
    )
    late = ev.filter(F.unix_micros("ts") < cuts.c50)
    counts = (
        replay(spark, [recent, middle, late], "stream_late")
        .withWatermark("ts", LATE_WM_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    # the metric is read off the stateful operator, so the rows need
    # no sink: noop discards them instead of collecting them
    q = drain(counts.writeStream.outputMode("update").format("noop"))
    dropped_groups = sum(
        so["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    n_recent, n_middle, n_late = recent.count(), middle.count(), late.count()
    return local_frame(
        spark,
        [(n_recent + n_middle + n_late, n_recent, n_middle, n_late, dropped_groups)],
        "n_input long, n_batch1 long, n_batch2 long, n_batch3_late long,"
        " n_dropped_groups long",
    )


TOPK_K = 3


def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST11 — streaming per-window top-k: the top-3 event types by
    count in each 1h window. Rank windows are illegal on a streaming
    DataFrame, so the standing pattern is: aggregate IN the stream
    (watermarked windowed counts — bounded state), rank in
    ``foreachBatch`` where the epoch's aggregate is a plain batch
    DataFrame (keyed row_number per window — never global), and land
    the ranked rows through an overwrite parquet stage the caller
    reads back. Complete mode makes each epoch carry the full
    aggregate, so the last epoch's write IS the answer; on an
    unbounded source the same job continuously refreshes a
    "trending now" table. No driver-side collect anywhere. State
    note: complete mode retains every (window, type) count — fine
    here (state is one tiny row per hour × type, ~9k rows/year/type),
    but a high-cardinality group key would switch to update mode +
    a foreachBatch upsert so the watermark can evict closed
    windows."""
    import os

    from pyspark.sql import Window as W

    counts = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"), "event_type", "n")
    )
    out_dir = os.path.join(cachereg.scratch_dir("stream_topk_"), "out")

    def rank_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        w = W.partitionBy("window_start_us").orderBy(F.desc("n"), F.asc("event_type"))
        (
            batch_df.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rk") <= TOPK_K)
            .select("window_start_us", "rk", "event_type", "n")
            .write.mode("overwrite")
            .parquet(out_dir)
        )

    drain(counts.writeStream.outputMode("complete").foreachBatch(rank_epoch))
    return spark.read.parquet(out_dir)


ORACLES["stream_topk"] = f"""
WITH counts AS (
  SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT window_start_us,
       CAST(row_number() OVER (PARTITION BY window_start_us
            ORDER BY n DESC, event_type ASC) AS BIGINT) AS rk,
       event_type, n
FROM counts
QUALIFY rk <= {TOPK_K}
"""


def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST13 — stream-stream LEFT OUTER interval join: ST6's
    purchase⋈click pairing, but purchases with NO click in the
    preceding hour must still emit — with NULL click columns. On a
    stream that null can only be produced when the watermark proves
    no matching click can still arrive, so unmatched rows emit from
    STATE EVICTION, batches after the purchase itself — the part of
    outer-join semantics a batch engine never has to think about.

    Replay shape (``replay``, two ordered batches): batch 1 is
    the real event history; batch 2 is a pair of far-future sentinel
    rows (one per side — each side's watermark only advances on rows
    that SURVIVE its own filter) that push both watermarks ~30 days
    past every real event, forcing the engine to evict and emit every
    real unmatched purchase. Sentinels are filtered from the output,
    which then equals the batch LEFT JOIN exactly — a full value
    oracle for outer-join eviction semantics.

    State note for 100 TB streams: both sides' state is bounded by
    the 2h watermark delay + 1h join window regardless of stream
    length; the sentinel trick is the test-time stand-in for the
    continuously-arriving data that advances watermarks in
    production."""
    from proceso_de_etl_spark.sources.catalog import _ensure_session_confs, load_table

    _ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    mx = ev.agg(F.max(F.unix_micros("ts")).alias("m")).collect()[0].m
    day_us = 24 * 3600 * 1_000_000
    sentinels = local_frame(
        spark,
        [(-1, mx + 30 * day_us, -1, "purchase", 0.0), (-2, mx + 31 * day_us, -2, "click", 0.0)],
        "event_id long, ts_us long, user_id long, event_type string, value double",
    ).select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    # both join sides read the one replayed frame: a single file
    # source, so the two sides advance through the batches together
    src = replay(spark, [ev, sentinels], "stream_loj")
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", "2 hours")
    )
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("cts"),
        )
        .withWatermark("cts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("cts") < F.col("pts")),
        "leftOuter",
    ).select(
        "user_id",
        "purchase_id",
        "click_id",
        F.unix_micros("pts").alias("purchase_ts_us"),
        F.unix_micros("cts").alias("click_ts_us"),
    )
    return run_to_memory(joined, "append").filter(F.col("user_id") >= 0)


ORACLES["stream_left_outer_join"] = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       epoch_us(p.ts) AS purchase_ts_us, epoch_us(c.ts) AS click_ts_us
FROM events p LEFT JOIN events c
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
WHERE p.event_type = 'purchase'
"""


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST14 — ``dropDuplicatesWithinWatermark``: ST3's dedup with the
    Spark 3.5+ state-eviction contract — dedup state for a key is
    held only WITHIN the watermark delay and then dropped, which is
    what makes infinite-stream dedup runnable (plain dropDuplicates
    state grows forever unless every dedup column is covered by the
    watermark). Exercised with a genuinely duplicated source: the
    same file replayed as TWO ordered micro-batches, so every batch-2
    row is a cross-batch duplicate the state must catch; the output
    equals the batch distinct set (value oracle, shared shape with
    ST3)."""
    import glob
    import os
    import shutil

    from proceso_de_etl_spark.sources.catalog import _ensure_session_confs

    _ensure_session_confs(spark)
    stage = cachereg.scratch_dir("stream_dedup_wm_")
    src = os.path.join(sf_dir, "events.parquet")
    # single-file table OR multi-file directory (production layout):
    # pass 1 symlinks every part (original mtimes), pass 2 re-copies
    # them stamped 2 s past the newest part, so every replayed row is
    # a CROSS-BATCH duplicate arriving at a strictly later
    # modification time (no wall-clock wait)
    parts = (
        sorted(glob.glob(os.path.join(src, "*.parquet")))
        if os.path.isdir(src)
        else [src]
    )
    for j, p in enumerate(parts):
        os.symlink(p, os.path.join(stage, f"b1_{j:05d}_events.parquet"))
    t = max(os.stat(p).st_mtime for p in parts) + 2
    for j, p in enumerate(parts):
        dst = os.path.join(stage, f"b2_{j:05d}_replay.parquet")
        shutil.copyfile(p, dst)
        os.utime(dst, (t, t))
    schema, ts_is_long = _events_raw_schema(sf_dir)
    # one trigger per PASS, not per file: the source batches the
    # len(parts) oldest files (all of b1 — earlier mtimes) into
    # trigger 1 and the replay into trigger 2, so the cross-batch
    # contract is file-count-independent and the wall doesn't scale
    # with how many parts the table happens to have (measured: 32-part
    # sf1.0 at maxFilesPerTrigger=1 paid 64 trigger rounds — 27 s of
    # pure trigger overhead on 1.6 s of state work)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", len(parts))
        .parquet(stage)
    )
    if ts_is_long:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    deduped = (
        raw.withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return run_to_memory(deduped, "append")


ORACLES["stream_dedup_within_watermark"] = """
SELECT event_id, user_id, event_type, value
FROM (SELECT event_id, user_id, event_type, value,
             row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
      FROM events)
WHERE rn = 1
"""


QUOTA_CAP = 15  # admitted docs per source across the whole stream


def stream_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST15 — streaming per-source quota enforcement: admit at most
    QUOTA_CAP documents per source across the LIFETIME of the stream
    (the ingestion-side twin of T16's batch per-source cap — what a
    live crawl pipeline runs so no source floods the corpus). Rank
    windows are illegal on streaming frames and the cap must span
    micro-batches, so the pattern is foreachBatch + a driver-held
    per-source admitted-count map: each epoch ranks its batch WITHIN
    sources (keyed window — bounded by the batch), offsets by the
    running count, admits the remainder of the quota, and lands
    admitted rows through an append parquet stage. The state is
    n_sources integers on the driver — at 100 TB that map either
    stays driver-held (sources are enumerable) or moves to
    transformWithState keyed state (ST10's gated path); the plan
    around it is unchanged.

    Source = documents replayed as two ordered micro-batches (even
    doc_ids, then odd), so the second batch MUST see the first's
    consumption to stop at the cap — admitting naively per-batch
    would emit 2× the quota. Arrival order (doc_id % 2, doc_id) is
    deterministic, so the whole admission set is value-oracled."""
    import os

    from pyspark.sql import Window as W

    from proceso_de_etl_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    raw = replay(
        spark, [docs.filter(F.col("doc_id") % 2 == p) for p in (0, 1)], "stream_quota"
    )
    out_dir = os.path.join(cachereg.scratch_dir("stream_quota_"), "admitted")
    admitted_so_far: dict[str, int] = {}

    def admit_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        off = local_frame(
            sess,
            list(admitted_so_far.items()) or [("__none__", 0)],
            "source string, _prior long",
        )
        w = W.partitionBy("source").orderBy("doc_id")
        admitted = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .join(F.broadcast(off), "source", "left")
            .filter(F.col("_rn") + F.coalesce("_prior", F.lit(0)) <= QUOTA_CAP)
            .select("doc_id", "source", "n_chars")
        )
        admitted.write.mode("append").parquet(out_dir)
        # bounded driver round-trip: one row per source in this batch
        for r in admitted.groupBy("source").agg(F.count("*").alias("n")).collect():
            admitted_so_far[r["source"]] = admitted_so_far.get(r["source"], 0) + r["n"]

    drain(raw.writeStream.outputMode("append").foreachBatch(admit_epoch))
    return (
        spark.read.parquet(out_dir)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_admitted"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("n_chars").alias("chars_sum"),
        )
        .orderBy("source")
    )


ORACLES["stream_quota_per_source"] = f"""
SELECT source, COUNT(*) AS n_admitted,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum
FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY doc_id % 2, doc_id) AS rn
  FROM documents
)
WHERE rn <= {QUOTA_CAP}
GROUP BY source
ORDER BY source
"""


def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST16 — streaming funnel: A25's signup → click → purchase
    ordered funnel maintained continuously over the event stream.
    The in-stream aggregation keeps one row of state per user (three
    conditional MIN timestamps — MIN is monotone, so state never
    grows per user and never needs retraction); the ORDER predicate
    (t1 < t2 < t3) is applied in ``foreachBatch``, where the epoch's
    aggregate is a plain batch frame. Complete mode makes the last
    epoch's write the full answer (state = n_users rows — bounded by
    the user population, not the stream length; a watermarked
    variant would age out idle users). Value-oracled against the
    batch funnel's SQL — the stream and batch forms are the same
    declarative aggregation."""
    import os

    counts = (
        stream_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.unix_micros("ts"))).alias("t_signup"),
            F.min(F.when(F.col("event_type") == "click", F.unix_micros("ts"))).alias("t_click"),
            F.min(F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))).alias("t_purchase"),
        )
    )
    out_dir = os.path.join(cachereg.scratch_dir("stream_funnel_"), "out")

    def finish_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.filter(
                F.col("t_signup").isNotNull()
                & F.col("t_click").isNotNull()
                & F.col("t_purchase").isNotNull()
                & (F.col("t_signup") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase"))
            )
            .write.mode("overwrite")
            .parquet(out_dir)
        )

    drain(counts.writeStream.outputMode("complete").foreachBatch(finish_epoch))
    return spark.read.parquet(out_dir)


ORACLES["stream_funnel"] = """
SELECT user_id,
       MIN(CASE WHEN event_type = 'signup'   THEN epoch_us(ts) END) AS t_signup,
       MIN(CASE WHEN event_type = 'click'    THEN epoch_us(ts) END) AS t_click,
       MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
FROM events
GROUP BY user_id
HAVING t_signup IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
   AND t_signup < t_click AND t_click < t_purchase
"""


def stream_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST17 — streaming Markov transition matrix: the A70 batch
    report (operators/insights.py) maintained over the live event
    stream. lag() windows are illegal on unbounded streams, so the
    per-user "previous event" is keyed state
    (stateful.markov_transition_edges); the emitted edge stream is
    then counted per (prev, next) with row-normalized probabilities.

    Source = events replayed as two time-ordered micro-batches split
    at the corpus midpoint timestamp, so every user active in both
    halves has a boundary transition that EXISTS ONLY IF the state
    carries across triggers — emitting per-batch lags would drop it,
    double-processing would duplicate it. The full matrix is
    value-oracled against the batch lag() form: stream and batch
    must agree edge-for-edge."""
    from pyspark.sql import Window as W

    from proceso_de_etl_spark.sources.catalog import load_table
    from proceso_de_etl_spark.streaming.stateful import markov_transition_edges

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    raw = replay(spark, _time_halves(ev), "stream_markov")
    edges = run_to_memory(markov_transition_edges(raw), "append")
    cnt = edges.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    wp = W.partitionBy("prev_type")
    return cnt.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wp), 6).alias("p"),
    )


ORACLES["stream_markov_transitions"] = """
WITH edges AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type,
         event_type AS next_type
  FROM events
),
cnt AS (
  SELECT prev_type, next_type, COUNT(*) AS n
  FROM edges WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       ROUND(n / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
FROM cnt
"""


def stream_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST18 — streaming marginal-novelty monitor: per micro-batch,
    the fraction of the batch's distinct 3-gram shingles never seen
    in ANY earlier batch — T64's diminishing-returns curve computed
    LIVE, the signal a crawl scheduler watches to throttle a source
    that has gone redundant. The seen-shingle store is DATA-SIZED, so
    unlike ST15's driver-held counters it lives distributed: an
    append-only parquet set the epoch anti-joins against (at scale:
    a compacted bloom/state table; the join shape is identical).
    foreachBatch = anti-join (novel detection) + append of the
    epoch's novel shingles + one metrics row.

    Source = documents replayed as two ordered micro-batches (even
    doc_ids then odd, ``replay`` — as in ST15), so batch 2's
    rate MUST discount batch 1's vocabulary: recomputing per-batch
    novelty naively (no store) would report rate 1.0 twice. Both
    batch rows are value-oracled: DuckDB recomputes each batch's
    novel count from the same parity rule."""
    import os

    from proceso_de_etl_spark.functions.text import shingles, tokens
    from proceso_de_etl_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = replay(
        spark, [docs.filter(F.col("doc_id") % 2 == p) for p in (0, 1)], "stream_novelty"
    )
    root = cachereg.scratch_dir("stream_novelty_")
    seen_dir = os.path.join(root, "seen")
    metrics_dir = os.path.join(root, "metrics")

    def score_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        sh = (
            batch_df.select("doc_id", tokens(F.col("text")).alias("toks"))
            .select(F.explode(shingles(F.col("toks"), 3)).alias("sh"))
            .distinct()
        )
        if os.path.exists(seen_dir):
            seen = sess.read.parquet(seen_dir)
            novel = sh.join(seen, "sh", "left_anti")
        else:
            novel = sh
        novel = novel.persist()
        stats = sh.agg(F.count("*").alias("n_shingles")).crossJoin(
            novel.agg(F.count("*").alias("n_novel"))
        )
        row = stats.collect()[0]  # bounded: one metrics row per epoch
        novel.write.mode("append").parquet(seen_dir)
        local_frame(
            sess,
            [(int(epoch_id), row["n_shingles"], row["n_novel"])],
            "batch_id int, n_shingles long, n_novel long",
        ).write.mode("append").parquet(metrics_dir)
        novel.unpersist()

    drain(raw.writeStream.outputMode("append").foreachBatch(score_epoch))
    return (
        spark.read.parquet(metrics_dir)
        .select(
            "batch_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty_rate"),
        )
        .orderBy("batch_id")
    )


from proceso_de_etl_spark.functions.text import (  # noqa: E402
    shingles_sql as _sh_sql_st18,
    tokens_sql as _toks_sql_st18,
)

_ST18_SH = _sh_sql_st18("toks", 3)
_ST18_TOKS = _toks_sql_st18("text")

ORACLES["stream_novelty_rate"] = f"""
WITH sh AS (
  SELECT DISTINCT doc_id % 2 AS parity, sh
  FROM (SELECT doc_id, unnest({_ST18_SH}) AS sh
        FROM (SELECT doc_id, {_ST18_TOKS} AS toks FROM documents))
),
b0 AS (SELECT DISTINCT sh FROM sh WHERE parity = 0),
b1 AS (SELECT DISTINCT sh FROM sh WHERE parity = 1),
rows_ AS (
  SELECT 0 AS batch_id, (SELECT COUNT(*) FROM b0) AS n_shingles,
         (SELECT COUNT(*) FROM b0) AS n_novel
  UNION ALL
  SELECT 1, (SELECT COUNT(*) FROM b1),
         (SELECT COUNT(*) FROM b1 WHERE sh NOT IN (SELECT sh FROM b0))
)
SELECT batch_id, n_shingles, n_novel,
       ROUND(n_novel / CAST(n_shingles AS DOUBLE), 6) AS novelty_rate
FROM rows_
"""


def stream_pit_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST19 — streaming point-in-time enrichment: each streaming
    event joined to the dimension VERSION valid at its event time
    (E40's temporal join, on the stream): users carry a synthetic
    two-version tier ('basic' until a per-user upgrade instant
    spread across the time span, 'plus' after), and the stream-static
    join matches `valid_from ≤ ts < valid_to` alongside the user
    equi-key — still completely stateless (the static side is
    available to every micro-batch; the interval predicate is a
    per-row filter, not join state). The rollup is value-oracled:
    per tier, events/users/exact value sum must equal the batch
    temporal join's — proving the stream routes every event to the
    version that was true WHEN IT HAPPENED, not the current one
    (enriching with current rows is the classic streaming-lookup
    bug this operator exists to avoid)."""
    from proceso_de_etl_spark.sources.catalog import load_table

    ev_static = load_table(spark, sf_dir, "events")
    mm = ev_static.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).collect()[0]
    lo, hi = mm["lo"], mm["hi"]
    step = (hi - lo) // 100
    users = ev_static.select("user_id").distinct()
    upgrade = (F.lit(lo) + (F.col("user_id") % 100) * F.lit(step)).cast("bigint")
    dim = users.select(
        "user_id", F.lit("basic").alias("tier"),
        F.lit(0).cast("bigint").alias("valid_from"), upgrade.alias("valid_to"),
    ).unionByName(
        users.select(
            "user_id", F.lit("plus").alias("tier"),
            upgrade.alias("valid_from"),
            F.lit(2**62).cast("bigint").alias("valid_to"),
        )
    )
    ev = stream_events(spark, sf_dir).withColumn("ts_us", F.unix_micros("ts"))
    joined = ev.join(
        dim,
        (ev.user_id == dim.user_id)
        & (dim.valid_from <= F.col("ts_us"))
        & (F.col("ts_us") < dim.valid_to),
    ).select(ev.user_id.alias("uid"), "tier", "value")
    enriched = run_to_memory(joined, "append")
    return enriched.groupBy("tier").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("uid").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("value_sum"),
    )


ORACLES["stream_pit_enrichment"] = """
WITH mm AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events),
dim AS (
  SELECT user_id, 'basic' AS tier, CAST(0 AS BIGINT) AS valid_from,
         lo + (user_id % 100) * ((hi - lo) // 100) AS valid_to
  FROM (SELECT DISTINCT user_id FROM events) CROSS JOIN mm
  UNION ALL
  SELECT user_id, 'plus', lo + (user_id % 100) * ((hi - lo) // 100),
         CAST(4611686018427387904 AS BIGINT)
  FROM (SELECT DISTINCT user_id FROM events) CROSS JOIN mm
)
SELECT d.tier, COUNT(*) AS n_events, COUNT(DISTINCT e.user_id) AS n_users,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events e
JOIN dim d ON e.user_id = d.user_id
          AND d.valid_from <= epoch_us(e.ts)
          AND epoch_us(e.ts) < d.valid_to
GROUP BY d.tier
"""


def stream_freshness_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST20 — streaming feed-freshness monitor: E43's SLA report
    maintained continuously — after every micro-batch, a snapshot of
    each feed's latest arrival and its lag behind the freshest feed
    SO FAR. The in-stream state is one MAX timestamp per feed
    (monotone — never retracts, #feeds rows total, the cheapest
    stateful aggregate there is); foreachBatch lands each epoch's
    snapshot, so the output is the lag TRAJECTORY, not just the
    final value — exactly what an on-call dashboard plots. Source =
    two time-split ordered batches (``replay`` of ``_time_halves``);
    both epochs' snapshots are value-oracled against static
    recomputation of the same halves, proving the monitor's
    intermediate states are right, not only its end state."""
    import os

    from proceso_de_etl_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    raw = replay(spark, _time_halves(ev), "stream_fresh")
    latest = raw.groupBy("event_type").agg(
        F.max(F.unix_micros("ts")).alias("latest_us")
    )
    out_dir = os.path.join(cachereg.scratch_dir("stream_fresh_"), "snaps")

    def snapshot_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        g = batch_df.agg(F.max("latest_us").alias("global_us"))
        (
            batch_df.crossJoin(F.broadcast(g))
            .select(
                F.lit(int(epoch_id)).alias("batch_id"),
                "event_type",
                "latest_us",
                F.round(
                    (F.col("global_us") - F.col("latest_us")) / 3.6e9, 6
                ).alias("lag_hours"),
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    drain(latest.writeStream.outputMode("complete").foreachBatch(snapshot_epoch))
    return spark.read.parquet(out_dir).orderBy("batch_id", "event_type")


ORACLES["stream_freshness_monitor"] = """
WITH mm AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events),
tagged AS (
  SELECT event_type, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) <= (SELECT (lo + hi) // 2 FROM mm) THEN 0 ELSE 1 END AS half
  FROM events
),
snap0 AS (
  SELECT 0 AS batch_id, event_type, MAX(ts_us) AS latest_us
  FROM tagged WHERE half = 0 GROUP BY 2
),
snap1 AS (
  SELECT 1 AS batch_id, event_type, MAX(ts_us) AS latest_us
  FROM tagged GROUP BY 2
),
snaps AS (SELECT * FROM snap0 UNION ALL SELECT * FROM snap1)
SELECT batch_id, event_type, latest_us,
       ROUND((MAX(latest_us) OVER (PARTITION BY batch_id) - latest_us) / 3.6e9, 6) AS lag_hours
FROM snaps
"""




HOUR_US = 3_600_000_000


def stream_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST21 — streaming CUSUM drift monitor: A88's detector run the
    way production actually runs it — parameters (μ0, slack, alarm
    threshold) FIT ON A TRAINING WINDOW (first half of the corpus,
    batch, shared cusum_params code), then the live stream is
    monitored with the recursion carried in keyed state
    (stateful.cusum_monitor_state) across triggers. The monitor half
    replays as two micro-batches split ON AN HOUR BOUNDARY (a
    spanning hour would see two partial means where the batch twin
    sees one — same boundary discipline as ST17's midpoint split);
    the per-type state is five integers, bounded by key cardinality.
    Fully value-oracled: the state recursion runs in exact
    micro-unit integers, and the oracle replays training params +
    the closed-form CUSUM over the monitor half in SQL."""
    from proceso_de_etl_spark.operators.events import cusum_params
    from proceso_de_etl_spark.sources.catalog import load_table
    from proceso_de_etl_spark.streaming.stateful import cusum_monitor_state

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    mm = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).collect()[0]
    split = mm["lo"] + (mm["hi"] - mm["lo"]) // 2
    split -= split % HOUR_US
    b2 = mm["lo"] + (mm["hi"] - mm["lo"]) * 3 // 4
    b2 -= b2 % HOUR_US
    train_hourly = (
        ev.filter(F.unix_micros("ts") < split)
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg((dsum("value", 6) / F.count("*")).alias("xm"))
        .select(
            "event_type",
            F.unix_micros("hr").alias("hr_us"),
            F.round("xm", 6).cast("decimal(18,6)").alias("x"),
        )
    )
    params = cusum_params(train_hourly).select(
        "event_type",
        (F.col("mu") * 1000000).cast("bigint").alias("mu6"),
        (F.col("k") * 1000000).cast("bigint").alias("k6"),
        (F.col("h") * 1000000).cast("bigint").alias("h6"),
    )
    monitor = ev.filter(F.unix_micros("ts") >= split)
    raw = replay(
        spark,
        [monitor.filter(F.unix_micros("ts") < b2), monitor.filter(F.unix_micros("ts") >= b2)],
        "stream_cusum",
    )
    enriched = raw.withColumn(
        "hr_us", F.unix_micros(F.date_trunc("hour", "ts"))
    ).join(F.broadcast(params), "event_type")
    mem = run_to_memory(cusum_monitor_state(enriched), "update")
    # update-mode memory sink keeps one row per key per trigger; the
    # final state is the row with the largest n_hours per key
    final = mem.groupBy("event_type").agg(
        F.max(
            F.struct("n_hours", "c6", "max6", "n_alarm_hours", "first_alarm_us")
        ).alias("m")
    )
    return final.select(
        "event_type",
        F.col("m.n_hours").alias("n_hours"),
        F.round(F.col("m.max6") / F.lit(1000000.0), 6).alias("max_cusum"),
        F.col("m.n_alarm_hours").alias("n_alarm_hours"),
        F.when(F.col("m.first_alarm_us") >= 0, F.col("m.first_alarm_us")).alias(
            "first_alarm_us"
        ),
    )


ORACLES["stream_cusum_monitor"] = f"""
WITH bounds AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events),
sp AS (
  SELECT (lo + (hi - lo) // 2) - ((lo + (hi - lo) // 2) % {HOUR_US}) AS split
  FROM bounds
),
train_hourly AS (
  SELECT event_type,
         CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
              AS DECIMAL(18,6)) AS x
  FROM events, sp WHERE epoch_us(ts) < sp.split
  GROUP BY event_type, date_trunc('hour', ts)
),
st AS (
  SELECT event_type, COUNT(*) AS n_hours, SUM(x) AS sx, SUM(x * x) AS sxx
  FROM train_hourly GROUP BY 1
),
params AS (
  SELECT event_type,
         CAST(CAST(ROUND(CAST(sx AS DOUBLE) / n_hours, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS mu6,
         CAST(CAST(ROUND(0.5 * sqrt(GREATEST(CAST(sxx AS DOUBLE) / n_hours
              - ROUND(CAST(sx AS DOUBLE) / n_hours, 6) * ROUND(CAST(sx AS DOUBLE) / n_hours, 6), 0)), 6)
              AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS k6,
         CAST(CAST(ROUND(4.0 * sqrt(GREATEST(CAST(sxx AS DOUBLE) / n_hours
              - ROUND(CAST(sx AS DOUBLE) / n_hours, 6) * ROUND(CAST(sx AS DOUBLE) / n_hours, 6), 0)), 6)
              AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS h6,
  FROM st
),
mon_hourly AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hr_us,
         CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
              * 1000000 + 0.5) AS BIGINT) AS x6
  FROM events, sp WHERE epoch_us(ts) >= sp.split
  GROUP BY 1, 2
),
dev AS (
  SELECT m.event_type, m.hr_us, p.h6,
         SUM(m.x6 - p.mu6 - p.k6) OVER (PARTITION BY m.event_type ORDER BY m.hr_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM mon_hourly m JOIN params p ON p.event_type = m.event_type
),
cus AS (
  SELECT *, s - LEAST(MIN(s) OVER (PARTITION BY event_type ORDER BY hr_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS c
  FROM dev
)
SELECT event_type,
       COUNT(*) AS n_hours,
       ROUND(CAST(MAX(c) AS DOUBLE) / 1000000, 6) AS max_cusum,
       COUNT(CASE WHEN c > h6 THEN 1 END) AS n_alarm_hours,
       MIN(CASE WHEN c > h6 THEN hr_us END) AS first_alarm_us
FROM cus GROUP BY event_type
"""




def stream_exp_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST24 — A106's exponential-smoothing ladder maintained LIVE:
    the SES recursion over per-type hourly counts runs with the
    state (n_hours, s, sae) in applyInPandasWithState keyed state
    (stateful.ses_monitor_state, 3 integers per type), replayed as
    two hour-boundary-split micro-batches so each epoch's emitted
    state is FINAL when written (the ST17/ST21 boundary discipline —
    a spanning hour would fold as two observations where the batch
    twin sees one). The output is the per-epoch state TRAJECTORY —
    one row per (type, trigger) — and every row, not just the last,
    is value-oracled: the batch WITH RECURSIVE recursion evaluated at
    t = each type's cumulative-hour count at the epoch boundaries
    yields the identical integer states. A type absent from an epoch
    emits no row on either side (the oracle's t≥1 guard mirrors the
    no-input-no-emission rule); identical consecutive states dedup
    on both sides (DISTINCT) for the same reason."""
    from proceso_de_etl_spark.sources.catalog import load_table
    from proceso_de_etl_spark.streaming.stateful import ses_monitor_state

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    mm = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).collect()[0]
    split = mm["lo"] + (mm["hi"] - mm["lo"]) // 2
    split -= split % HOUR_US
    raw = replay(
        spark,
        [ev.filter(F.unix_micros("ts") < split), ev.filter(F.unix_micros("ts") >= split)],
        "stream_ses",
    )
    enriched = raw.withColumn("hr_us", F.unix_micros(F.date_trunc("hour", "ts")))
    mem = run_to_memory(ses_monitor_state(enriched), "update")
    return mem.select("event_type", "n_hours", "s_scaled", "sae_units").distinct()


def _ses_stream_oracle_sql() -> str:
    from proceso_de_etl_spark.operators.events import (
        ESM_ALPHA_DEN,
        ESM_ALPHA_NUM,
        ESM_SCALE,
    )

    return f"""
WITH RECURSIVE bounds AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events),
sp AS (
  SELECT (lo + (hi - lo) // 2) - ((lo + (hi - lo) // 2) % {HOUR_US}) AS split
  FROM bounds
),
h AS MATERIALIZED (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hh, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
o AS MATERIALIZED (
  SELECT event_type, x, row_number() OVER (PARTITION BY event_type ORDER BY hh) AS t, hh
  FROM h
),
ses AS (
  SELECT event_type, t, x * {ESM_SCALE} AS s, CAST(0 AS BIGINT) AS sae FROM o WHERE t = 1
  UNION ALL
  SELECT o.event_type, o.t,
         ({ESM_ALPHA_NUM} * o.x * {ESM_SCALE} + {ESM_ALPHA_DEN - ESM_ALPHA_NUM} * ses.s) // {ESM_ALPHA_DEN},
         ses.sae + abs(o.x * {ESM_SCALE} - ses.s) // {ESM_SCALE}
  FROM ses JOIN o ON o.event_type = ses.event_type AND o.t = ses.t + 1
),
marks AS (
  SELECT event_type,
         SUM(CASE WHEN hh < sp.split THEN 1 ELSE 0 END) AS t1,
         COUNT(*) AS tn
  FROM h, sp GROUP BY 1
)
SELECT DISTINCT s.event_type, CAST(s.t AS BIGINT) AS n_hours,
       s.s AS s_scaled, s.sae AS sae_units
FROM ses s JOIN marks m ON m.event_type = s.event_type
WHERE s.t = m.t1 OR s.t = m.tn
"""


ORACLES["stream_exp_smoothing"] = _ses_stream_oracle_sql()


def stream_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST25 — A107's Holt linear-trend recursion maintained LIVE:
    (n_hours, level, trend, sae) in applyInPandasWithState keyed
    state across hour-boundary-split micro-batches (the ST24
    discipline applied to the TWO-state recursion — the trend goes
    negative, so the state op leans on Python's native floor //
    while the batch twin spells the pmod form). Per-epoch trajectory,
    every row value-oracled by A107's WITH RECURSIVE recursion
    evaluated at the epoch-boundary cumulative-hour counts."""
    from proceso_de_etl_spark.sources.catalog import load_table
    from proceso_de_etl_spark.streaming.stateful import holt_monitor_state

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    mm = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).collect()[0]
    split = mm["lo"] + (mm["hi"] - mm["lo"]) // 2
    split -= split % HOUR_US
    raw = replay(
        spark,
        [ev.filter(F.unix_micros("ts") < split), ev.filter(F.unix_micros("ts") >= split)],
        "stream_holt",
    )
    enriched = raw.withColumn("hr_us", F.unix_micros(F.date_trunc("hour", "ts")))
    mem = run_to_memory(holt_monitor_state(enriched), "update")
    return mem.select(
        "event_type", "n_hours", "s_scaled", "b_scaled", "sae_units"
    ).distinct()


def _holt_stream_oracle_sql() -> str:
    from proceso_de_etl_spark.operators.events import (
        ESM_ALPHA_DEN,
        ESM_ALPHA_NUM,
        ESM_SCALE,
        HOLT_BETA_DEN,
        HOLT_BETA_NUM,
        _holt_fdiv_sql,
    )

    return f"""
WITH RECURSIVE bounds AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events),
sp AS (
  SELECT (lo + (hi - lo) // 2) - ((lo + (hi - lo) // 2) % {HOUR_US}) AS split
  FROM bounds
),
h AS MATERIALIZED (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hh, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
o AS MATERIALIZED (
  SELECT event_type, x, row_number() OVER (PARTITION BY event_type ORDER BY hh) AS t, hh
  FROM h
),
holt AS (
  SELECT event_type, t, x * {ESM_SCALE} AS s, CAST(0 AS BIGINT) AS b,
         CAST(0 AS BIGINT) AS sae
  FROM o WHERE t = 1
  UNION ALL
  SELECT event_type, t, snew,
         {_holt_fdiv_sql(f"{HOLT_BETA_NUM} * (snew - sold) + {HOLT_BETA_DEN - HOLT_BETA_NUM} * bold", HOLT_BETA_DEN)},
         sae_new
  FROM (
    SELECT o.event_type, o.t, holt.s AS sold, holt.b AS bold,
           {_holt_fdiv_sql(f"{ESM_ALPHA_NUM} * o.x * {ESM_SCALE} + {ESM_ALPHA_DEN - ESM_ALPHA_NUM} * (holt.s + holt.b)", ESM_ALPHA_DEN)} AS snew,
           holt.sae + abs(o.x * {ESM_SCALE} - (holt.s + holt.b)) // {ESM_SCALE} AS sae_new
    FROM holt JOIN o ON o.event_type = holt.event_type AND o.t = holt.t + 1
  )
),
marks AS (
  SELECT event_type,
         SUM(CASE WHEN hh < sp.split THEN 1 ELSE 0 END) AS t1,
         COUNT(*) AS tn
  FROM h, sp GROUP BY 1
)
SELECT DISTINCT hl.event_type, CAST(hl.t AS BIGINT) AS n_hours,
       hl.s AS s_scaled, hl.b AS b_scaled, hl.sae AS sae_units
FROM holt hl JOIN marks m ON m.event_type = hl.event_type
WHERE hl.t = m.t1 OR hl.t = m.tn
"""


ORACLES["stream_holt_trend"] = _holt_stream_oracle_sql()


def stream_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST29 — A115's Holt-Winters additive recursion maintained LIVE,
    closing the streaming smoothing ladder ST24 (SES) -> ST25 (Holt)
    -> ST29 (level+trend+season): per event_type the THREE-state
    recursion (level, trend, rotating 24h seasonal vector) rides
    applyInPandasWithState keyed state across hour-boundary-split
    micro-batches; the seasonal array doubles as the warmup buffer,
    so an epoch boundary landing inside the first period is carried
    exactly (the state op never re-reads history). Per-epoch
    trajectory rows, every one value-oracled by A115's WITH RECURSIVE
    list-carrying recursion evaluated at the epoch-boundary
    cumulative-hour counts (warmup epochs report zeros — replayed by
    the oracle's k < m arm). Same two-batch ``replay`` as ST25:
    halves split on an hour boundary."""
    from proceso_de_etl_spark.sources.catalog import load_table
    from proceso_de_etl_spark.streaming.stateful import hw_monitor_state

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    mm = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).collect()[0]
    split = mm["lo"] + (mm["hi"] - mm["lo"]) // 2
    split -= split % HOUR_US
    raw = replay(
        spark,
        [ev.filter(F.unix_micros("ts") < split), ev.filter(F.unix_micros("ts") >= split)],
        "stream_hw",
    )
    enriched = raw.withColumn("hr_us", F.unix_micros(F.date_trunc("hour", "ts")))
    mem = run_to_memory(hw_monitor_state(enriched), "update")
    return mem.select(
        "event_type", "n_hours", "s_scaled", "b_scaled", "c_head", "c_sum",
        "sae_units",
    ).distinct()


def _hw_stream_oracle_sql() -> str:
    from proceso_de_etl_spark.operators.events import (
        ESM_ALPHA_DEN,
        ESM_ALPHA_NUM,
        ESM_SCALE,
        HOLT_BETA_DEN,
        HOLT_BETA_NUM,
        HW_GAMMA_DEN,
        HW_GAMMA_NUM,
        HW_PERIOD,
        _holt_fdiv_sql,
    )

    m = HW_PERIOD
    return f"""
WITH RECURSIVE bounds AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events),
sp AS (
  SELECT (lo + (hi - lo) // 2) - ((lo + (hi - lo) // 2) % {HOUR_US}) AS split
  FROM bounds
),
h AS MATERIALIZED (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hh, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
o AS MATERIALIZED (
  SELECT event_type, x, row_number() OVER (PARTITION BY event_type ORDER BY hh) AS t, hh
  FROM h
),
s0 AS MATERIALIZED (
  SELECT event_type, CAST((SUM(x) * {ESM_SCALE}) // {m} AS BIGINT) AS s_init
  FROM o WHERE t <= {m} GROUP BY 1
  HAVING COUNT(*) = {m}
),
c0 AS MATERIALIZED (
  SELECT o.event_type,
         list(CAST(o.x * {ESM_SCALE} - s0.s_init AS BIGINT) ORDER BY o.t) AS c
  FROM o JOIN s0 USING (event_type)
  WHERE o.t <= {m} GROUP BY 1
),
hw AS (
  SELECT event_type, CAST({m} AS BIGINT) AS t, s0.s_init AS s,
         CAST(0 AS BIGINT) AS b, c0.c AS c, CAST(0 AS BIGINT) AS sae
  FROM s0 JOIN c0 USING (event_type)
  UNION ALL
  SELECT event_type, t, snew,
         {_holt_fdiv_sql(f"{HOLT_BETA_NUM} * (snew - sold) + {HOLT_BETA_DEN - HOLT_BETA_NUM} * bold", HOLT_BETA_DEN)},
         list_concat(crest, [CAST({_holt_fdiv_sql(f"{HW_GAMMA_NUM} * (xs - snew) + {HW_GAMMA_DEN - HW_GAMMA_NUM} * cm", HW_GAMMA_DEN)} AS BIGINT)]),
         sae_new
  FROM (
    SELECT o.event_type, o.t, hw.s AS sold, hw.b AS bold,
           o.x * {ESM_SCALE} AS xs, hw.c[1] AS cm, hw.c[2:] AS crest,
           CAST({_holt_fdiv_sql(f"{ESM_ALPHA_NUM} * (o.x * {ESM_SCALE} - hw.c[1]) + {ESM_ALPHA_DEN - ESM_ALPHA_NUM} * (hw.s + hw.b)", ESM_ALPHA_DEN)} AS BIGINT) AS snew,
           hw.sae + abs(o.x * {ESM_SCALE} - (hw.s + hw.b + hw.c[1])) // {ESM_SCALE} AS sae_new
    FROM hw JOIN o ON o.event_type = hw.event_type AND o.t = hw.t + 1
  )
),
marks AS (
  SELECT event_type,
         SUM(CASE WHEN hh < sp.split THEN 1 ELSE 0 END) AS t1,
         COUNT(*) AS tn
  FROM h, sp GROUP BY 1
),
-- k > 0 (r12 advisor): a type with no events before the split has
-- t1 = 0, but the stream emits no row for a key absent from a
-- micro-batch — an epoch mark with no emission must not reach
-- either oracle arm (the warmup arm would invent a zeros row)
mk AS (SELECT event_type, t1 AS k FROM marks WHERE t1 > 0
       UNION SELECT event_type, tn FROM marks)
SELECT DISTINCT hl.event_type, CAST(hl.t AS BIGINT) AS n_hours,
       CAST(hl.s AS BIGINT) AS s_scaled, CAST(hl.b AS BIGINT) AS b_scaled,
       CAST(hl.c[1] AS BIGINT) AS c_head, CAST(list_sum(hl.c) AS BIGINT) AS c_sum,
       CAST(hl.sae AS BIGINT) AS sae_units
FROM hw hl JOIN mk ON mk.event_type = hl.event_type AND hl.t = mk.k
UNION ALL
SELECT DISTINCT event_type, CAST(k AS BIGINT) AS n_hours,
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM mk WHERE k < {m} AND k > 0
"""


ORACLES["stream_holt_winters"] = _hw_stream_oracle_sql()


def stream_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST9 companion (r6 verdict item 7) — EXACT per-hour distinct
    users in a stream, value-oracled. Exact COUNT(DISTINCT) is
    illegal in a streaming aggregation (per-group state would hold
    every user id), so the standing two-stage pattern applies:
    dedup IN the stream on (user_id, hour) with
    ``dropDuplicatesWithinWatermark`` (state per key lives only for
    the watermark delay — bounded), then a plain windowed COUNT of
    the survivors — two chained stateful operators in append mode
    (supported since Spark 3.4). The count is exact because every
    (user, hour) key reaches the aggregation exactly once; the
    HLL++ twin (stream_approx_distinct) stays the right call when
    even per-delay dedup state is too large.

    Append mode only emits CLOSED windows — window_end <= final
    watermark = max(ts) - 2h (ms-floored, Spark tracks watermarks in
    millis) — and the oracle replays exactly that emission rule, so
    the result is deterministic end to end: the last two hour
    windows of the static replay are by-contract unemitted."""
    ev = stream_events(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "2 hours")
        .withColumn("hour", F.date_trunc("hour", "ts"))
        .dropDuplicatesWithinWatermark(["user_id", "hour"])
    )
    counts = (
        deduped.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"), "n_users")
    )
    return run_to_memory(counts, "append")


ORACLES["stream_distinct_exact"] = """
WITH wm AS (
  SELECT (epoch_us(MAX(ts)) // 1000 - 7200000) * 1000 AS wm_us FROM events
)
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1
HAVING window_start_us + 3600000000 <= (SELECT wm_us FROM wm)
"""


def stream_late_data_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST12 companion (r6 verdict item 7) — the exact integer LEDGER
    of the late-data replay, split out of the rows-only
    ``stream_late_data_accounting`` so the driver can value-verify
    it: the three batch sizes under the same percentile cuts
    (recent 25% / middle 25% / oldest 50% late) and the dropped-GROUP
    count the watermark RULE predicts — distinct (1h window,
    event_type) groups among late rows whose window closed at or
    before max(batch1.ts) - delay, ms-floored exactly as Spark
    tracks watermarks. The engine-internal
    ``numRowsDroppedByWatermark`` metric stays in the rows-only key;
    tests pin metric == this ledger's n_expected_dropped_groups, so
    together the pair is fully driver-verifiable. Pure batch plan:
    one percentile aggregate broadcast over the scan, keyed
    conditional counts, one distinct-group count — no collect, no
    stream."""
    from proceso_de_etl_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    us = F.unix_micros("ts")
    cuts = ev.agg(
        F.percentile(F.unix_micros("ts"), F.lit(0.50)).alias("c50"),
        F.percentile(F.unix_micros("ts"), F.lit(0.75)).alias("c75"),
    )
    banded = ev.crossJoin(F.broadcast(cuts)).withColumn(
        "band",
        F.when(us >= F.col("c75"), F.lit(1))
        .when(us >= F.col("c50"), F.lit(2))
        .otherwise(F.lit(3)),
    )
    counts = banded.agg(
        F.count("*").cast("bigint").alias("n_input"),
        F.count(F.when(F.col("band") == 1, 1)).cast("bigint").alias("n_batch1"),
        F.count(F.when(F.col("band") == 2, 1)).cast("bigint").alias("n_batch2"),
        F.count(F.when(F.col("band") == 3, 1)).cast("bigint").alias("n_batch3_late"),
    )
    wm = banded.filter(F.col("band") == 1).agg(
        ((F.max(F.unix_micros("ts")) / F.lit(1000)).cast("bigint") - F.lit(7_200_000))
        .alias("wm_ms")
    )
    expected = (
        banded.filter(F.col("band") == 3)
        .crossJoin(F.broadcast(wm))
        .filter(
            F.unix_micros(F.date_trunc("hour", "ts")) + F.lit(3_600_000_000)
            <= F.col("wm_ms") * 1000
        )
        .select(F.date_trunc("hour", "ts").alias("w"), "event_type")
        .distinct()
        .agg(F.count("*").cast("bigint").alias("n_expected_dropped_groups"))
    )
    return counts.crossJoin(F.broadcast(expected))


ORACLES["stream_late_data_exact"] = """
WITH cuts AS (
  SELECT quantile_cont(epoch_us(ts), 0.50) AS c50,
         quantile_cont(epoch_us(ts), 0.75) AS c75
  FROM events
),
banded AS (
  SELECT ts, event_type,
         CASE WHEN epoch_us(ts) >= c75 THEN 1
              WHEN epoch_us(ts) >= c50 THEN 2
              ELSE 3 END AS band
  FROM events, cuts
),
wm AS (
  SELECT epoch_us(MAX(ts)) // 1000 - 7200000 AS wm_ms FROM banded WHERE band = 1
),
expected AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_expected_dropped_groups FROM (
    SELECT DISTINCT date_trunc('hour', ts) AS w, event_type
    FROM banded, wm
    WHERE band = 3
      AND epoch_us(date_trunc('hour', ts)) + 3600000000 <= wm_ms * 1000
  )
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
       CAST(COUNT(*) FILTER (band = 1) AS BIGINT) AS n_batch1,
       CAST(COUNT(*) FILTER (band = 2) AS BIGINT) AS n_batch2,
       CAST(COUNT(*) FILTER (band = 3) AS BIGINT) AS n_batch3_late,
       (SELECT n_expected_dropped_groups FROM expected) AS n_expected_dropped_groups
FROM banded
"""


def _time_halves(df: DataFrame) -> list[DataFrame]:
    """Split a frame at the corpus midpoint timestamp into the two
    time-ordered micro-batches of the ST17 replay: batch 0 = events
    ≤ mid, batch 1 = events > mid, so any cross-trigger state a job
    claims to keep is PROVEN by users/windows spanning the boundary.
    df must carry a ``ts`` timestamp column."""
    mm = df.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).collect()[0]
    mid_us = (mm["lo"] + mm["hi"]) // 2
    return [df.filter(F.unix_micros("ts") <= mid_us), df.filter(F.unix_micros("ts") > mid_us)]


def stream_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST22 — streaming multi-touch attribution: the A102 batch
    report (operators/events.py) maintained over the live event
    stream. The 7-day lookback reaches BEHIND the current trigger, so
    the job keeps a distributed TOUCH STORE (epoch_id-partitioned
    parquet written with dynamic partition overwrite, so a failed
    epoch's re-execution rewrites its own partition instead of
    double-appending — idempotent under foreachBatch's at-least-once
    contract; at scale a compacted state table, same join shape):
    each epoch attributes ITS purchases against PRIOR-epoch store
    partitions ∪ current-batch touches (the store read filters
    epoch_id < N, so a replayed epoch never sees its own first
    attempt's touches) with the exact batch credit arithmetic (integer linear
    shares, (nc·SCALE) div k), writes the epoch's per-channel
    partials to its credit-ledger partition, then writes the batch's
    touches to its store partition. Per-channel integer partials sum
    across epochs to the batch totals exactly, so the final report is
    value-oracled by A102's own SQL.

    Source = the two time-ordered micro-batches (``replay`` of
    ``_time_halves``):
    every batch-2 purchase whose first touch landed in batch 1 exists
    ONLY IF the store carries across triggers — per-batch recompute
    would shift first-touch credit and shrink k in the linear split."""
    import os

    from proceso_de_etl_spark.operators.events import ATTR_SCALE
    from proceso_de_etl_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    raw = replay(spark, _time_halves(ev), "stream_attr")
    root = cachereg.scratch_dir("stream_attr_")
    touch_dir = os.path.join(root, "touches")
    credit_dir = os.path.join(root, "credits")
    attribute_epoch = _attribution_epoch_fn(touch_dir, credit_dir)

    drain(raw.writeStream.outputMode("append").foreachBatch(attribute_epoch))
    ledger = spark.read.parquet(credit_dir)
    return (
        ledger.groupBy("channel")
        .agg(
            F.sum("first_touch").cast("bigint").alias("first_touch"),
            F.sum("last_touch").cast("bigint").alias("last_touch"),
            F.sum("linear_scaled").cast("bigint").alias("linear_scaled"),
        )
        .select(
            "channel",
            "first_touch",
            "last_touch",
            "linear_scaled",
            F.round(F.col("linear_scaled") / F.lit(float(ATTR_SCALE)), 6).alias(
                "linear_credit"
            ),
        )
        .orderBy("channel")
    )


def _attribution_epoch_fn(touch_dir: str, credit_dir: str):
    """ST22's per-epoch body as a module-level factory so the replay
    contract (re-executing epoch N leaves the ledger byte-identical —
    foreachBatch is at-least-once) is directly testable."""
    import os

    from proceso_de_etl_spark.operators.events import ATTR_SCALE, ATTR_WINDOW_US
    from pyspark.sql import Window as W

    def attribute_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        purchases = batch_df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("pid"),
            F.col("user_id").alias("uid"),
            F.unix_micros("ts").alias("pt"),
        )
        batch_touches = batch_df.filter(F.col("event_type") != "purchase").select(
            "user_id",
            F.col("event_type").alias("channel"),
            F.unix_micros("ts").alias("tt"),
            F.col("event_id").alias("tid"),
        )
        touches = batch_touches
        if os.path.exists(touch_dir):
            # store read excludes THIS epoch's partition: on a
            # foreachBatch re-execution of epoch N the store already
            # holds N's touches from the first attempt, and
            # store ∪ batch would double every current-batch touch —
            # inflating k and the first/last flags before the (wrong)
            # recomputed credit overwrote the correct partition. The
            # epoch_id partition column makes the exclusion a
            # partition-pruned filter, not a data scan
            # (replay-idempotency pinned in test_streaming).
            touches = (
                sess.read.parquet(touch_dir)
                .filter(F.col("epoch_id") < int(epoch_id))
                .select("user_id", "channel", "tt", "tid")
                .unionByName(batch_touches)
            )
        joined = purchases.join(touches, purchases.uid == touches.user_id).filter(
            (F.col("tt") < F.col("pt"))
            & (F.col("tt") >= F.col("pt") - ATTR_WINDOW_US)
        )
        w = W.partitionBy("pid").orderBy(F.asc("tt"), F.asc("channel"), F.asc("tid"))
        ranked = joined.select(
            "pid",
            "channel",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(W.partitionBy("pid")).alias("k"),
        )
        per_pc = ranked.groupBy("pid", "channel").agg(
            F.max((F.col("rn") == 1).cast("bigint")).alias("is_first"),
            F.max((F.col("rn") == F.col("k")).cast("bigint")).alias("is_last"),
            F.count("*").alias("nc"),
            F.min("k").alias("k"),
        )
        attributed = per_pc.groupBy("channel").agg(
            F.sum("is_first").cast("bigint").alias("first_touch"),
            F.sum("is_last").cast("bigint").alias("last_touch"),
            F.sum(F.expr(f"(nc * CAST({ATTR_SCALE} AS BIGINT)) div k"))
            .cast("bigint")
            .alias("linear_scaled"),
        )
        orphans = (
            purchases.join(joined.select("pid").distinct(), "pid", "left_anti")
            .agg(F.count("*").alias("n"))
            .select(
                F.lit("(unattributed)").alias("channel"),
                F.col("n").cast("bigint").alias("first_touch"),
                F.col("n").cast("bigint").alias("last_touch"),
                (F.col("n") * ATTR_SCALE).cast("bigint").alias("linear_scaled"),
            )
        )
        # the batch twin always emits the (unattributed) row (0s
        # allowed); appending it per epoch keeps the summed ledger
        # schema-identical to A102. Both side-effect writes are keyed
        # by epoch_id with DYNAMIC partition overwrite so an epoch
        # RE-EXECUTION after failure rewrites its own partition
        # instead of double-appending credit/touches (r8 advisor:
        # append-mode ledgers double-count on replay) — the E25
        # discipline applied to stream state.
        epoch = F.lit(int(epoch_id)).alias("epoch_id")
        (
            attributed.unionByName(orphans)
            .withColumn("epoch_id", epoch)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(credit_dir)
        )
        # a touch-free epoch writes nothing: a zero-partition dynamic
        # overwrite would leave a schema-less dir that breaks the
        # store read on the next epoch
        if not batch_touches.isEmpty():
            (
                batch_touches.withColumn("epoch_id", epoch)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch_id")
                .parquet(touch_dir)
            )

    return attribute_epoch


def stream_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST23 — streaming cohort LTV: the A103 batch curve maintained
    over the live stream. Cohort membership is cross-trigger state —
    a user FIRST SEEN in batch 1 who purchases in batch 2 must land
    in their batch-1 cohort (per-batch recompute would re-cohort
    them at the purchase week) — kept as a versioned FIRST-SEEN store
    (per-user min cohort week; epoch N writes version N from
    store_{N-1} ∪ batch upserted by min — the E15 aggregate-upsert
    discipline on stream state). Because the replay is time-ordered,
    min-so-far at purchase time equals the global min, so each
    epoch's revenue partials (exact DECIMAL sums per cohort week ×
    week-of-age) are final the moment they are written; the closing
    report joins the LAST store version's cohort sizes to the summed
    ledger and is value-oracled by A103's own SQL."""
    import os

    from proceso_de_etl_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    raw = replay(spark, _time_halves(ev), "stream_ltv")
    root = cachereg.scratch_dir("stream_ltv_")
    rev_dir = os.path.join(root, "rev")
    state = {"firsts_dir": None}

    def ltv_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        week = F.date_trunc("week", F.col("ts"))
        batch_firsts = batch_df.groupBy("user_id").agg(
            F.min(week).alias("cohort_week")
        )
        if state["firsts_dir"] is not None:
            prev = sess.read.parquet(state["firsts_dir"])
            batch_firsts = (
                prev.unionByName(batch_firsts)
                .groupBy("user_id")
                .agg(F.min("cohort_week").alias("cohort_week"))
            )
        new_dir = os.path.join(root, f"firsts_v{int(epoch_id)}")
        batch_firsts.write.mode("overwrite").parquet(new_dir)
        state["firsts_dir"] = new_dir
        firsts = sess.read.parquet(new_dir)
        purch = batch_df.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        ).select("user_id", week.alias("pweek"), "value")
        rev_part = (
            purch.join(firsts, "user_id")
            .groupBy("cohort_week")
            .agg(
                *[
                    F.sum(
                        F.when(
                            F.datediff("pweek", "cohort_week") == 7 * k,
                            F.col("value").cast("decimal(18,6)"),
                        )
                    ).alias(f"r{k}")
                    for k in range(4)
                ]
            )
        )
        # epoch-keyed dynamic partition overwrite: an epoch
        # re-execution rewrites its own revenue partition instead of
        # double-appending (r8 advisor) — matches the firsts store,
        # whose per-epoch version dirs are already overwrite-
        # idempotent. A purchase-free epoch writes NOTHING (a
        # zero-partition dynamic overwrite would leave a schema-less
        # dir that breaks the closing read), so the rev_dir existence
        # check below still means "some epoch saw purchases".
        if not rev_part.isEmpty():
            (
                rev_part.withColumn("epoch_id", F.lit(int(epoch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch_id")
                .parquet(rev_dir)
            )

    drain(raw.writeStream.outputMode("append").foreachBatch(ltv_epoch))
    firsts = spark.read.parquet(state["firsts_dir"])
    sizes = firsts.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    z = F.lit(0).cast("decimal(18,6)")
    if os.path.exists(rev_dir):
        rev = (
            spark.read.parquet(rev_dir)
            .groupBy("cohort_week")
            .agg(*[F.sum(f"r{k}").alias(f"r{k}") for k in range(4)])
        )
    else:  # no purchases anywhere: all-zero revenue columns
        rev = sizes.select(
            "cohort_week", *[z.alias(f"r{k}") for k in range(4)]
        ).limit(0)
    joined = sizes.join(rev, "cohort_week", "left")
    rs = [F.coalesce(F.col(f"r{k}"), z) for k in range(4)]
    total = rs[0] + rs[1] + rs[2] + rs[3]
    return joined.select(
        F.unix_micros("cohort_week").alias("cohort_week_us"),
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        *[F.round(rs[k].cast("double"), 6).alias(f"rev_w{k}") for k in range(4)],
        F.round(total.cast("double") / F.col("cohort_size"), 6).alias("ltv_per_user"),
    ).orderBy("cohort_week_us")


def _batch_twin_oracles() -> None:
    """ST22/ST23 are value-oracled by their batch twins' own SQL —
    the whole claim is stream == batch, so sharing the oracle text IS
    the contract (the ST17 pattern)."""
    from proceso_de_etl_spark.operators import events as batch_events

    ORACLES["stream_attribution_models"] = batch_events.ORACLES[
        "events_attribution_models"
    ]
    ORACLES["stream_cohort_ltv"] = batch_events.ORACLES["events_cohort_ltv"]


_batch_twin_oracles()


QUERIES = {
    "stream_exp_smoothing": stream_exp_smoothing,
    "stream_holt_trend": stream_holt_trend,
    "stream_holt_winters": stream_holt_winters,
    "stream_attribution_models": stream_attribution_models,
    "stream_cohort_ltv": stream_cohort_ltv,
    "stream_cusum_monitor": stream_cusum_monitor,
    "stream_freshness_monitor": stream_freshness_monitor,
    "stream_pit_enrichment": stream_pit_enrichment,
    "stream_novelty_rate": stream_novelty_rate,
    "stream_markov_transitions": stream_markov_transitions,
    "stream_tumbling_window": stream_tumbling_window,
    "stream_left_outer_join": stream_left_outer_join,
    "stream_dedup_within_watermark": stream_dedup_within_watermark,
    "stream_quota_per_source": stream_quota_per_source,
    "stream_funnel": stream_funnel,
    "stream_topk": stream_topk,
    "stream_late_data_accounting": stream_late_data_accounting,
    "stream_approx_distinct": stream_approx_distinct,
    "stream_distinct_exact": stream_distinct_exact,
    "stream_late_data_exact": stream_late_data_exact,
    "stream_session_window": stream_session_window,
    "stream_dedup": stream_dedup,
    "stream_interval_join": stream_interval_join,
    "stream_stateful_totals": stream_stateful_totals,
    "stream_static_enrichment": stream_static_enrichment,
}
