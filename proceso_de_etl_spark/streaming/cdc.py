"""Streaming CDC apply (SURVEY.md §2.5 + §2.1 E18 composed).

The batch twin ``operators/etl.py::etl_cdc_apply`` applies a whole
change feed in one pass; this job applies the SAME feed as it
*arrives* — one micro-batch per landed file — via a foreachBatch
merge into a persistent snapshot, the shape a production CDC
consumer runs forever (reference main.py:45-59 re-processes whole
files on every run; this is that loop done incrementally).

Correctness under streaming conditions comes from two properties of
the merge, not from delivery order:
- each change carries a monotone ``seq``; a change only wins against
  the snapshot when ``change.seq > snapshot.seq``, so replayed or
  out-of-order batches converge to the same state (idempotent
  upsert);
- deletes write TOMBSTONES (``deleted`` flag + seq) instead of
  removing rows, so a late lower-seq change cannot resurrect a
  deleted key. Readers filter tombstones out.

Scale: each micro-batch is one window (last change per key) + one
full-outer join against the snapshot — no per-event loop, no driver
state beyond the current-version pointer. On a cluster the snapshot
is a table (Delta/Iceberg MERGE); here it is a versioned parquet dir
with atomic rename promotion (sources/atomic.py's pattern).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from proceso_de_etl_spark.operators.etl import ORACLES as _ETL_ORACLES
from proceso_de_etl_spark.operators.etl import (
    _CUTOFF,
    _change_feed,
    cdc_snapshot,
    merge_cdc_batch,
)
from proceso_de_etl_spark.sources.catalog import load_table
from proceso_de_etl_spark.sources.local import local_frame
from proceso_de_etl_spark.streaming.jobs import drain, replay

ORACLES: dict[str, str] = {}


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract query: land the three change sets as separate files
    (``replay``), stream them one-file-per-trigger, merge each
    micro-batch into the versioned snapshot, return the final
    snapshot (tombstones filtered). Shares etl_cdc_apply's DuckDB
    oracle — the seq guard makes the final state independent of
    batch boundaries."""
    workdir = tempfile.mkdtemp(prefix="stream_cdc_")
    base, change_sets = _change_feed(spark, sf_dir)
    snap0 = cdc_snapshot(base)
    # each version is read back with the schema of the frame that wrote
    # it: no parquet schema-inference job per micro-batch
    state = {"cur": os.path.join(workdir, "snapshot_v0"), "schema": snap0.schema}
    snap0.write.parquet(state["cur"])

    # one landed file per change set, the upstream CDC feed's shape;
    # the operator path (stream -> merge) never coalesces
    stream = replay(spark, change_sets, "stream_cdc")

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        snapshot = sess.read.schema(state["schema"]).parquet(state["cur"])
        nxt = os.path.join(workdir, f"snapshot_v{epoch_id + 1}")
        merged = merge_cdc_batch(snapshot, batch_df)
        merged.write.mode("overwrite").parquet(nxt)
        state.update(cur=nxt, schema=merged.schema)  # pointer flip = atomic promote

    drain(stream.writeStream.outputMode("update").foreachBatch(apply_batch))
    return (
        spark.read.schema(state["schema"]).parquet(state["cur"])
        .filter(~F.col("deleted"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "row_source")
    )


# Batch-boundary independence (the seq guard) means the streamed
# final state answers to the batch twin's oracle verbatim.
ORACLES["stream_cdc_apply"] = _ETL_ORACLES["etl_cdc_apply"]


def _vault_candidates(batch: DataFrame) -> DataFrame:
    """One micro-batch's candidate vault rows — the hash-key layer of
    E49 computed over an ORDER feed: two hubs, the order→customer
    link, and the order satellite (hashdiff over the descriptive
    attributes; price rides as CENTS — ROUND(p*100) BIGINT — so the
    hash input formats identically on both engines, the E49 rule of
    never hashing a float's string form). hd is 0 for non-satellite
    rows so every vault table shares one (vault_table, hk, hd) key.
    Within the batch each key keeps its MIN wave: first-seen-wins
    must hold even if several waves land in one trigger, which is
    what makes the final state batch-boundary-independent."""
    h60 = lambda col: F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast(  # noqa: E731
        "bigint"
    )
    key_s = F.col("o_orderkey").cast("string")
    cust_s = F.col("o_custkey").cast("string")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string")
    hub_o = batch.select(
        F.lit("hub_order").alias("vault_table"),
        h60(F.concat(F.lit("o"), key_s)).alias("hk"),
        F.lit(0).cast("bigint").alias("hd"),
        "wave",
    )
    hub_c = batch.select(
        F.lit("hub_customer").alias("vault_table"),
        h60(F.concat(F.lit("c"), cust_s)).alias("hk"),
        F.lit(0).cast("bigint").alias("hd"),
        "wave",
    )
    link = batch.select(
        F.lit("link_order_customer").alias("vault_table"),
        h60(F.concat(F.lit("l"), key_s, F.lit("|"), cust_s)).alias("hk"),
        F.lit(0).cast("bigint").alias("hd"),
        "wave",
    )
    sat = batch.select(
        F.lit("sat_order").alias("vault_table"),
        h60(F.concat(F.lit("o"), key_s)).alias("hk"),
        h60(F.concat(F.col("o_orderstatus"), F.lit("|"), cents)).alias("hd"),
        "wave",
    )
    return (
        hub_o.unionByName(hub_c)
        .unionByName(link)
        .unionByName(sat)
        .groupBy("vault_table", "hk", "hd")
        .agg(F.min("wave").alias("wave"))
    )


def merge_vault_batch(store: DataFrame, batch: DataFrame) -> DataFrame:
    """Min-aware vault merge: a NEW (vault_table, hk, hd) lands with
    its wave as load_epoch; a key already in the store keeps
    least(stored load_epoch, candidate wave) — the Data Vault
    insert-only invariant plus DELIVERY-ORDER independence. The r11
    advisor's finding: a left_anti merge freezes whichever wave
    arrives first, so an mtime tie in FileStreamSource (which orders
    files by modification time) could deliver wave_3 before wave_1
    and pin load_epoch=3 where the batch oracle says MIN(wave)=1.
    least() makes the store the true global min under ANY delivery
    permutation AND stays replay-idempotent (least(x, x) = x), so
    at-least-once re-delivery is still a no-op. One full_outer
    equi-join on the store key — the same single shuffle shape as
    the anti-join + union it replaces."""
    cand = _vault_candidates(batch)
    return store.join(cand, ["vault_table", "hk", "hd"], "full_outer").select(
        "vault_table",
        "hk",
        "hd",
        F.least(
            F.coalesce(F.col("load_epoch"), F.col("wave")),
            F.coalesce(F.col("wave"), F.col("load_epoch")),
        ).alias("load_epoch"),
    )


def stream_data_vault_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST28 — streaming Data Vault ingestion (the real-time vault):
    E49's insert-only hub/link/satellite load run incrementally over
    an arriving order feed instead of as one batch build. Three waves
    land as files and stream one-per-trigger: wave 1 = the base
    orders (CDC cutoff: o_orderdate < 1999-01-01), wave 2 = every
    7th base order re-statused to U-REV at price+100 (same hub/link
    keys — the insert-only anti-join must REJECT them — but a new
    hashdiff, so each earns exactly one new satellite version), wave
    3 = the post-cutoff orders (new hubs, links, and satellites).
    foreachBatch merges each micro-batch insert-only into a
    versioned parquet store (pointer-flip promotion, the
    stream_cdc_apply pattern).

    The final state is BATCH-BOUNDARY-INDEPENDENT by construction:
    load_epoch is the key's min `wave` VALUE from the feed (not the
    foreachBatch epoch_id), candidates keep min-wave within a batch,
    and the anti-join makes re-delivery a no-op — so any batching of
    the same files converges to the same store (pytest-pinned by
    coalescing all three waves into one batch), and the result
    answers to a pure batch SQL oracle. Report = per (vault_table,
    load_epoch): row count + the overflow-safe Σ(hk div 2^20) mod
    2⁶¹−1 digests of hk and hd (`_dv_digest_col`'s law, so the
    report stays BIGINT-exact at any corpus size).

    Scale: each micro-batch does one hash projection + one
    key-partitioned anti-join against the store — no window over the
    feed, no driver state beyond the version pointer; on a cluster
    the store is a Delta/Iceberg table and the anti-join a MERGE
    WHEN NOT MATCHED. Parity: the reference re-loads whole tables
    per run (main.py:45-59); this is that load as a standing
    incremental consumer, vault-shaped."""
    from proceso_de_etl_spark.operators.etl import _dv_digest_col

    workdir = tempfile.mkdtemp(prefix="stream_dv_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    cutoff = F.expr(_CUTOFF)
    base = orders.filter(F.col("o_orderdate") < cutoff)
    waves = [
        base.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            F.lit(1).alias("wave"),
        ),
        base.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey", "o_custkey",
            F.lit("U-REV").alias("o_orderstatus"),
            (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
            F.lit(2).alias("wave"),
        ),
        orders.filter(F.col("o_orderdate") >= cutoff).select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            F.lit(3).alias("wave"),
        ),
    ]
    # one landed file per wave (``replay``) maps waves to micro-batches;
    # its coalesce(1) is fixture cost — keep it out of any bench
    # decomposition of the operator
    stream = replay(spark, waves, "stream_dv")

    # r14 (guide §6): the store starts as an in-memory EMPTY relation
    # instead of a written-then-re-read empty parquet dir — the v0
    # write cost ~0.65 s of pure fixed overhead per invocation
    # (SCALE_r13/r14 `vault_ingest_ab`) and epoch 1 then paid a
    # listing + scan + full_outer shuffle against a provably empty
    # side; with a LocalRelation store the batch optimizer's
    # PropagateEmptyRelation rule collapses that first merge to a
    # projection of the candidates (AQE is off inside micro-batches,
    # so it plays no part). Store contents after epoch 1 are identical
    # (merge with an empty store = the candidate rows), so the final
    # state and its oracle are unchanged.
    # Each later version is read back with the schema of the frame
    # that wrote it, so no micro-batch pays a schema-inference job.
    state: dict = {"cur": None, "schema": None}

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        if state["cur"] is None:
            store = local_frame(
                sess, [], "vault_table string, hk bigint, hd bigint, load_epoch int"
            )
        else:
            store = sess.read.schema(state["schema"]).parquet(state["cur"])
        nxt = os.path.join(workdir, f"store_v{epoch_id + 1}")
        merged = merge_vault_batch(store, batch_df)
        merged.write.mode("overwrite").parquet(nxt)
        state.update(cur=nxt, schema=merged.schema)  # pointer flip = atomic promote

    drain(stream.writeStream.outputMode("update").foreachBatch(apply_batch))
    if state["cur"] is None:
        raise RuntimeError(
            "stream_data_vault_ingest: no micro-batch ran over the replayed "
            "waves, so no vault store was written"
        )
    return (
        spark.read.schema(state["schema"]).parquet(state["cur"])
        .groupBy("vault_table", "load_epoch")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            _dv_digest_col("hk").alias("hk_digest"),
            _dv_digest_col("hd").alias("hd_digest"),
        )
        .orderBy("vault_table", "load_epoch")
    )


def _dv_ingest_oracle() -> str:
    from proceso_de_etl_spark.operators.etl import _dv_digest_sql, _dv_h60_sql

    return f"""
WITH base AS (
  SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS s, o_totalprice AS p
  FROM orders WHERE o_orderdate < {_CUTOFF}
),
feed AS (
  SELECT k, c, s, p, 1 AS wave FROM base
  UNION ALL
  SELECT k, c, 'U-REV', p + 100.0, 2 FROM base WHERE k % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 3
  FROM orders WHERE o_orderdate >= {_CUTOFF}
),
cand AS (
  SELECT 'hub_order' AS vault_table, {_dv_h60_sql("'o' || k")} AS hk,
         CAST(0 AS BIGINT) AS hd, wave FROM feed
  UNION ALL
  SELECT 'hub_customer', {_dv_h60_sql("'c' || c")}, 0, wave FROM feed
  UNION ALL
  SELECT 'link_order_customer', {_dv_h60_sql("'l' || k || '|' || c")}, 0, wave FROM feed
  UNION ALL
  SELECT 'sat_order', {_dv_h60_sql("'o' || k")},
         {_dv_h60_sql("s || '|' || CAST(ROUND(p * 100) AS BIGINT)")}, wave FROM feed
),
first_seen AS (
  SELECT vault_table, hk, hd, MIN(wave) AS load_epoch
  FROM cand GROUP BY vault_table, hk, hd
)
SELECT vault_table, load_epoch, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_dv_digest_sql("hk")} AS hk_digest,
       {_dv_digest_sql("hd")} AS hd_digest
FROM first_seen
GROUP BY vault_table, load_epoch
ORDER BY vault_table, load_epoch
"""


ORACLES["stream_data_vault_ingest"] = _dv_ingest_oracle()

QUERIES = {
    "stream_cdc_apply": stream_cdc_apply,
    "stream_data_vault_ingest": stream_data_vault_ingest,
}
