"""Streaming orchestration: readStream → foreachBatch → atomic store commit.

Reproduces the reference consumer's lifecycle (SURVEY.md §3.1) Spark-first:

- S2 micro-batcher: Structured Streaming file source (one event file ≈ one
  update batch; trigger + maxFilesPerTrigger bound batch size).
- per batch (mod.rs:190-251): fold the updates into runs — consecutive
  appends (blocks/microblocks) and rollbacks — and apply them in order
  (driver-side segmentation over ≤ a few hundred rows of metadata, never
  over data).
- appends (mod.rs:253-357): extract blocks / typed txs / children / SCD
  updates / tickers / waves_data, merge into the store, normalize the
  microblock tail (squash, T2), re-derive SCD chains (W1), and re-run the
  incremental candle recompute from the batch watermark (A4).
- rollback (mod.rs:794-863): drop rows above the target block uid, re-derive
  chains (reopen repair), recompute candles from the first affected minute.
- T1 atomicity: all staged tables promote in ONE manifest swap per batch
  (streaming/store.py) — the transaction analog.

Each decision has one path, as in the reference: the squash is always
planned on the driver from the collected speculative tail (one UPDATE
path, mod.rs:769-792), every SCD rechain goes through ``_rechain`` (one
reopen repair, mod.rs:824-858), and the per-trigger Spark settings are
constants, not knobs.

Scale notes: blocks are a tiny dimension (1 row/block) so the squash plan
and rollback lookups are cheap; tx/candle merges rewrite only rows above the
watermark — with height-bucket partitioning the rewritten partition set is
the speculative tail, O(1) per batch.  SCD rechaining (appends AND
rollback) touches only keys whose logs changed — unchanged chains pass
through via a broadcast anti-join — so its cost follows batch size /
reorg depth, not dimension size.
"""

from __future__ import annotations

import datetime as _dt
from contextlib import contextmanager

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import CANDLE_CASCADE, INTERVALS, UID_HEIGHT_MULTIPLIER
from ..ingest import (
    classify_txs,
    extract_asset_origins,
    extract_asset_updates,
    extract_blocks,
    extract_children,
    extract_raw_txs,
    extract_ticker_updates,
    extract_waves_data,
)
from ..operators.candles import (
    cascade_tail_exact_onepass,
    minute_candles,
    scale_prices,
    trunc_ts,
)
from ..operators.scd import chain_superseded_by
from ..plans.views import decimals_view
from .store import TableStore

TX_NAMES = [f"txs_{n}" for n in range(1, 19)]
CHILD_NAMES = [
    "txs_11_transfers", "txs_12_data", "txs_16_args", "txs_16_payment",
    "txs_18_args", "txs_18_payment",
]
CANDLE_TABLES = ["candles_1m"] + [f"candles_{dst}" for _, dst in CANDLE_CASCADE]

#: fact tables are partitioned by height bucket; per batch only buckets at or
#: above the speculative tail are rewritten (everything below is hardlinked
#: forward by the store).  1000 blocks/bucket ≈ bounded, navigable partitions
#: at mainnet heights (~3M blocks → ~3k partitions).
HEIGHT_BUCKET = 1000


#: Spark settings for one trigger's plans (see _micro_batch_confs)
_MICRO_BATCH_CONFS = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.coalescePartitions.minPartitionNum": "1",
    # AQE materializes EVERY exchange/broadcast of a plan as its own
    # Spark job; on micro-batch plans (dozens of tiny exchanges per
    # trigger) that job-per-stage floor IS the wall clock, while the
    # runtime re-optimization it buys is worthless at a few thousand rows
    "spark.sql.adaptive.enabled": "false",
}


@contextmanager
def _micro_batch_confs(spark: SparkSession):
    """Size shuffle width by MICRO-BATCH volume, not session/cluster width,
    for the duration of one trigger (or the startup ladder).

    The engine session sets ``spark.sql.shuffle.partitions`` and the AQE
    coalesce floor to the executor core count — right for the batch
    catalog's corpus-sized exchanges, wrong for a trigger's plans, whose
    inputs are bounded by ``maxFilesPerTrigger`` (a few thousand rows
    here).  At 32 cores every per-batch join/window/write stage ran 32+
    tiny tasks and every AQE broadcast subtree 33-66 — measured 217 jobs /
    ~49 s of job time per 5-trigger run, almost all scheduler floor (guide
    §2.2: partition count must follow data volume).

    The values are constants: width 4, coalesce floor 1, AQE off.  They
    follow the trigger's size, which ``maxFilesPerTrigger`` bounds, not
    the machine, and every caller ran exactly these values; the
    wide/narrow A/B that chose them is recorded in OPTIMIZATION_r11.md.
    Restored in ``finally`` so interleaved batch queries on the same
    session keep the session values.
    """
    conf = spark.conf
    old: dict[str, str | None] = {}
    for k, v in _MICRO_BATCH_CONFS.items():
        try:
            old[k] = conf.get(k)
        except Exception:  # noqa: BLE001 — unset key
            old[k] = None
        conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def _hb(height_col: Column | str) -> Column:
    # plain INT bucket values: Spark's partition-directory type inference
    # reads them back as int, so written and reread layouts agree (a padded
    # string would round-trip as int and fork duplicate partition dirs)
    col = F.col(height_col) if isinstance(height_col, str) else height_col
    return F.floor(col / F.lit(HEIGHT_BUCKET)).cast("int")


def _hb_value(height: int) -> int:
    return height // HEIGHT_BUCKET


def _empty(spark: SparkSession, like: DataFrame) -> DataFrame:
    return spark.createDataFrame([], like.schema)


def _run_parallel(tasks, max_workers: int = 8) -> None:
    """Run independent staged-table writes concurrently.  At micro-batch
    sizes each write job's wall time is dominated by fixed scheduling +
    parquet-commit overhead, so N sequential writes cost ~N × floor;
    concurrent job submission (the documented multi-job Spark pattern)
    collapses that to ~1 floor and, on a real cluster, fills executors a
    single small job would leave idle.  Safe for DISTINCT tables only:
    TableStore versions are per-name, and nothing here reads a table
    another task in the same group writes."""
    tasks = [t for t in tasks if t is not None]
    if not tasks:
        return
    if len(tasks) == 1:
        tasks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(max_workers, len(tasks))) as ex:
        for f in [ex.submit(t) for t in tasks]:
            f.result()


def _read_or_empty(store: TableStore, name: str, like: DataFrame) -> DataFrame:
    existing = store.read_or_none(name)
    return existing if existing is not None else _empty(store.spark, like)


# ------------------------------------------------------------ squash (T2)


def _squash_plan(
    tail_rows: list[tuple[int, str, bool]],
    settled_below: int | None,
) -> tuple[int, dict[int, int], dict[int, str]] | None:
    """Driver-side squash decisions from the collected speculative tail
    (rows with uid > ``settled_below``, sorted ascending as (uid, id,
    is_key)).  Returns (last_key, microblock-uid -> anchor-uid,
    anchor-uid -> total id), or None when the tail holds no key block
    (nothing settles).  Pure python over a bounded list: each microblock
    below the latest key block anchors to the nearest key block before it
    (or to ``settled_below``), and each anchor takes the id of the last
    block it absorbs."""
    last_key = None
    for uid, _bid, is_key in tail_rows:
        if is_key and (last_key is None or uid > last_key):
            last_key = uid
    if last_key is None:
        return None
    anchor = settled_below
    mapping: dict[int, int] = {}
    total: dict[int, str] = {}
    for uid, bid, is_key in tail_rows:
        if uid > last_key:
            break
        if is_key:
            anchor = uid
        elif anchor is not None:
            mapping[uid] = anchor
        if anchor is not None:
            total[anchor] = bid  # ascending uid: last write = max_by(id, uid)
    return last_key, mapping, total


def _lit_map(d: dict, key_dtype, val_dtype) -> Column:
    """A literal in-plan lookup map (column -> value-or-NULL) — the
    zero-join, zero-broadcast-job form of joining a tiny driver-known
    dimension.  Keys and values each travel as ONE numpy array literal:
    no per-entry Column is built or analysed, so plan build costs about
    0.2 ms per entry (per-entry ``create_map`` literals cost ~3 ms)."""
    keys = np.fromiter(d.keys(), dtype=key_dtype, count=len(d))
    vals = np.array(list(d.values()), dtype=val_dtype)
    return F.map_from_arrays(F.lit(keys), F.lit(vals))


def _apply_squash(
    blocks: DataFrame,
    tx_tables: dict[str, DataFrame],
    tail_rows: list[tuple[int, str, bool]],
    settled_below: int | None,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """T2 squash (mod.rs:769-792): every microblock below the latest key
    block folds into its preceding key block — the key block takes the
    last folded id (total-block id, pg.rs:151-158) and referencing rows
    re-point their block_uid (pg.rs:216-223).  Microblocks above the
    latest key block are the live tail and stay.

    The fold decisions are planned on the driver from the speculative tail
    (``tail_rows``, which rides the batch-metadata job at any size) and
    applied as literal map expressions, so NO window recompute, NO
    broadcast-exchange jobs, and every staged write stays a single job.
    The maps need no size cap: each is one pair of array literals, whose
    build cost grows by well under a millisecond per entry, and the tail
    itself is bounded by the microblocks since the last key block plus one
    batch."""
    plan = _squash_plan(tail_rows, settled_below)
    if plan is None:
        return blocks, tx_tables
    last_key, mapping, total = plan
    is_key = F.col("time_stamp").isNotNull()
    total_m = _lit_map(total, np.int64, np.str_)
    new_blocks = blocks.filter(is_key | (F.col("uid") > last_key)).select(
        "uid",
        F.coalesce(total_m[F.col("uid")], F.col("id")).alias("id"),
        "height",
        "time_stamp",
    )
    if not mapping:
        return new_blocks, tx_tables
    map_m = _lit_map(mapping, np.int64, np.int64)
    new_tables = {
        name: df.withColumn(
            "block_uid",
            F.coalesce(map_m[F.col("block_uid")], F.col("block_uid")),
        )
        for name, df in tx_tables.items()
    }
    return new_blocks, new_tables


# ------------------------------------------------------------ SCD-2 (W1)


def _rechain(
    store: TableStore, chained_name: str, log: DataFrame, changed: DataFrame
) -> DataFrame:
    """The chained SCD table ``chained_name`` re-derived after its update
    log became ``log`` — the close/insert of an append (W1 + the UNNEST
    close join J6, pg.rs:225-256) and the reopen repair of a rollback
    (mod.rs:824-858) alike.  Chains are per-key independent, so only the
    keys of the ``changed`` log rows (appended or deleted) rechain; every
    other key's stored chain rows pass through untouched, and the cost
    follows batch size / reorg depth, not dimension size.  With no stored
    chain yet the whole log chains."""
    stored = store.read_or_none(chained_name)
    if stored is None:
        return chain_superseded_by(log, key="asset_id", uid="uid")
    affected = F.broadcast(changed.select("asset_id").distinct())
    unchanged = stored.join(affected, "asset_id", "left_anti")
    rechained = chain_superseded_by(
        log.join(affected, "asset_id", "left_semi"), key="asset_id", uid="uid"
    )
    return unchanged.unionByName(rechained)


# ------------------------------------------------------------ candles (A4)


def _interval_starts(spark: SparkSession, since_ts: _dt.datetime) -> dict[str, _dt.datetime]:
    """Truncate the watermark to every interval's start (per-interval start,
    pg.rs:776-803) — pure driver-side datetime math, no Spark job.

    Mirrors ``trunc_ts`` exactly: every fixed-width interval (60 s .. 12 h)
    divides a day evenly, so the epoch floor equals flooring the
    seconds-of-day — timezone-free; calendar floors are midnight / Monday /
    first-of-month (== date_trunc under the UTC-pinned session).  Pinned
    against the Spark expressions by
    tests/test_pipeline.py::test_interval_starts_match_trunc_ts."""
    names = ["1m"] + [dst for _, dst in CANDLE_CASCADE]
    t = since_ts.replace(microsecond=0)
    midnight = t.replace(hour=0, minute=0, second=0)
    out: dict[str, _dt.datetime] = {}
    for ivl in names:
        kind, arg = INTERVALS[ivl]
        if kind == "secs":
            secs = int(arg)
            sod = (t - midnight).seconds
            out[ivl] = midnight + _dt.timedelta(seconds=sod - sod % secs)
        elif arg == "day":
            out[ivl] = midnight
        elif arg == "week":
            out[ivl] = midnight - _dt.timedelta(days=midnight.weekday())
        else:  # month
            out[ivl] = midnight.replace(day=1)
    return out


def recompute_candles(
    store: TableStore,
    since_ts: _dt.datetime,
    txs7: DataFrame | None = None,
    asset_updates: DataFrame | None = None,
) -> None:
    """Incremental candle maintenance (pg.rs:660-815): re-derive the minute
    level from trades at/after the watermark, then cascade each interval
    from the merged source level, replacing only the affected time range
    (range-replace ≡ the reference's keyed upsert, because the recompute
    regenerates every key in the range).

    All 13 intervals live in ONE store table ``candles`` partitioned by
    ``p_ib = interval|yyyy-MM`` (the engine analog of the reference's single
    candles table with its interval column, up.sql:368-385).  The whole
    recompute is ONE union plan — each level chains from the previous
    level's in-plan frame and lands in ONE partitioned write; per-interval
    month boundaries decide which partitions are replaced vs hardlinked.
    vs the 13-table form this cuts per-batch candle maintenance from 13
    read+write jobs to one write, the difference between ~50 and ~100
    events/s end-to-end at the bench size.

    ``txs7`` / ``asset_updates`` may be passed as the IN-MEMORY frames whose
    content equals the staged tables (apply_appends does, so this whole
    recompute joins the batch's single concurrent write wave instead of
    waiting for the txs_7/asset_updates files to land first — guide §2.6);
    left None they resolve through the store exactly as before (the
    rollback/startup paths).
    """
    spark = store.spark
    starts = _interval_starts(spark, since_ts)

    if asset_updates is None:
        asset_updates = store.read_or_none("asset_updates")
    if asset_updates is None:
        return
    decimals = decimals_view(asset_updates, spark)
    if txs7 is None:
        txs7 = store.read_or_none("txs_7")
    if txs7 is None:
        return
    trades = scale_prices(txs7, decimals).select(
        "uid", "time_stamp", "amount_asset_id", "price_asset_id",
        "sender", "height", "amount", "price",
    )
    stored_all = store.read_or_none("candles")

    def stored_level(ivl: str) -> DataFrame | None:
        if stored_all is None:
            return None
        return stored_all.filter(F.col("interval") == ivl).drop("p_ib")

    intervals = ["1m"] + [dst for _, dst in CANDLE_CASCADE]
    replace_month = {ivl: starts[ivl].strftime("%Y-%m") for ivl in intervals}

    # Recomputed minute tail, materialized eagerly (localCheckpoint): it
    # feeds BOTH the one-pass rollup kernel and the final content union —
    # lazy caching leaves the single write job racing its own branches.
    # The tail is tiny (the A4 window), so the checkpoint is cheap; it is
    # not executor-loss-resilient, but the store commit is transactional so
    # a lost batch simply replays.
    new_minute = minute_candles(
        trades, since_ts=F.lit(starts["1m"]).cast("timestamp")
    ).localCheckpoint(eager=True)
    stored_1m = stored_level("1m")
    if stored_1m is None:
        merged_1m = new_minute
    else:
        merged_1m = stored_1m.filter(
            F.col("time_start") < F.lit(starts["1m"]).cast("timestamp")
        ).unionByName(new_minute)

    # All 12 rollups in ONE applyInPandas stage (exact python-int math, no
    # bounds): kernel input = merged minute level from min(starts) on.  The
    # widest truncation is USUALLY the month floor, but the week floor
    # (Monday) can precede it — e.g. watermark Wed 2026-04-01 gives
    # starts['1w'] = 2026-03-30 < starts['1M'] = 2026-04-01 — and the
    # re-emitted 1w candle needs those pre-month minutes.  Feeding extra
    # minutes is safe: per-level emission inside the kernel filters to
    # time_start >= starts[dst], and the two levels whose parents could go
    # partial below min(starts) (1w, 1M) are terminal in CANDLE_CASCADE.
    # Replaces the former per-level rollup chain (12 eager checkpoint jobs
    # per batch — the measured bottleneck of the whole streaming path).
    cascade_floor = F.lit(min(starts.values())).cast("timestamp")
    tail_levels = cascade_tail_exact_onepass(
        merged_1m.filter(F.col("time_start") >= cascade_floor).drop("interval"),
        starts,
    )

    # written content = recomputed rows (minute + kernel levels) plus each
    # interval's boundary-month tail (stored rows in a replaced month but
    # before that interval's watermark) — one stored-table scan for all 13
    content = new_minute.unionByName(tail_levels)
    if stored_all is not None:
        cond = F.lit(False)
        for ivl in intervals:
            cond = cond | (
                (F.col("interval") == ivl)
                & (F.date_format("time_start", "yyyy-MM") >= replace_month[ivl])
                & (F.col("time_start") < F.lit(starts[ivl]).cast("timestamp"))
            )
        content = content.unionByName(stored_all.drop("p_ib").filter(cond))
    content = content.withColumn(
        "p_ib",
        F.concat_ws("|", F.col("interval"), F.date_format("time_start", "yyyy-MM")),
    )

    def replaced(value: str) -> bool:
        ivl, _, month = value.partition("|")
        rf = replace_month.get(ivl)
        return rf is None or month >= rf

    store.stage_range_replace("candles", content, "p_ib", replaced)


def read_all_candles(store: TableStore) -> DataFrame:
    """The `candles` table (all 13 intervals; physical partitioning by
    interval|month mirrors up.sql:368-385's interval column + indexes)."""
    df = store.read_or_none("candles")
    if df is None:
        raise KeyError("no candles table in store")
    return df.drop("p_ib")


# ------------------------------------------------------------ appends


def apply_appends(
    store: TableStore,
    seg_updates: DataFrame,
    asset_storage_address: str = "",
    chain_id: int = 87,
) -> None:
    """Merge one run of block/microblock updates into the store
    (mod.rs:253-357).  The candle recompute (when the segment carries
    exchange txs) runs INSIDE this call's single concurrent write wave,
    fed the merged in-memory frames, so the caller has nothing left to
    chain after an appends segment (rollback still returns a watermark
    for its own recompute)."""
    spark = store.spark

    new_blocks = extract_blocks(seg_updates)
    new_raw = extract_raw_txs(seg_updates, chain_id=chain_id)

    # ---- speculative-tail floor: only height buckets at/above it are
    # touched this batch.  The tail = microblocks above the last stored key
    # block (their block_uids may re-point on squash) plus this batch's new
    # heights; everything below is sealed forever (a settled block_uid never
    # changes again), so its partitions hardlink forward untouched.
    stored_blocks = store.read_or_none("blocks_microblocks")
    # ALL batch metadata in ONE driver round trip (guide §2.6/§5: the
    # per-trigger driver-job floor is the streaming leg's wall clock):
    # speculative-tail floor + squash anchor key + segment SCD flags +
    # present tx types + candle watermark — previously three separate
    # collects here plus a fourth for the squash anchor.  The squash
    # key rides here because every STORED key block has uid <= prev_key
    # by construction, so the tail's max key uid is the max key uid
    # among the NEW blocks.  The tx-type/watermark aggregates run over
    # the pre-uid-continuation raw frame — both are invariant under the
    # uid rebase (tx_type and time_stamp are untouched by it).
    _tail_struct = F.struct(
        F.col("uid"),
        F.col("id"),
        F.col("time_stamp").isNotNull().alias("k"),
    )
    combined = (
        new_blocks.agg(
            F.min("height").alias("_newmin"),
            F.collect_list(_tail_struct).alias("_newtail"),
        )
        .crossJoin(
            seg_updates.agg(
                F.max(
                    F.size(F.coalesce(F.col("asset_updates"), F.array())) > 0
                ).alias("has_au"),
                F.max(
                    F.size(F.coalesce(F.col("data_entries"), F.array())) > 0
                ).alias("has_de"),
                F.max(F.col("waves_quantity").isNotNull()).alias("has_wd"),
            )
        )
        .crossJoin(
            new_raw.agg(
                F.collect_set("tx_type").alias("_types"),
                F.min(
                    F.when(F.col("tx_type") == 7, F.col("time_stamp"))
                ).alias("_wm"),
            )
        )
    )
    if stored_blocks is None:
        prev_key = None
        meta_row = combined.collect()[0]
        h_floor_row = meta_row["_newmin"]
    else:
        pk = stored_blocks.filter(F.col("time_stamp").isNotNull()).agg(
            F.max("uid").alias("_pk")
        )
        _above_pk = F.col("uid") > F.coalesce(
            F.col("_pk"), F.lit(-(1 << 62)).cast("long")
        )
        meta_row = (
            stored_blocks.crossJoin(pk)
            .agg(
                F.max("_pk").alias("_pk"),
                F.min(F.when(_above_pk, F.col("height"))).alias("_tailmin"),
                F.collect_list(
                    F.when(_above_pk, _tail_struct)
                ).alias("_stail"),
            )
            .crossJoin(combined)
            .collect()[0]
        )
        prev_key = meta_row["_pk"]
        floors = [
            h for h in (meta_row["_tailmin"], meta_row["_newmin"]) if h is not None
        ]
        h_floor_row = min(floors) if floors else None
    h_floor = int(h_floor_row) if h_floor_row is not None else 0
    rb = _hb_value(h_floor)
    stail = [] if stored_blocks is None else list(meta_row["_stail"])
    tail_rows = sorted(
        (int(r["uid"]), r["id"], bool(r["k"]))
        for r in stail + list(meta_row["_newtail"])
    )

    def _tail(name: str, like: DataFrame) -> DataFrame:
        """Stored rows in the affected buckets only (partition-pruned read).
        ``like`` must already carry the p_hb column."""
        existing = store.read_or_none(name)
        if existing is None:
            return _empty(spark, like)
        return existing.filter(F.col("p_hb") >= rb)

    # cross-batch uid continuation (W3): a height's sequence continues where
    # the stored txs for that height left off (the reference's stateful
    # TxUidGenerator, convert.rs:45-72).  tx_ids holds exactly the uids of
    # the 18 typed tables (staged from their merged frames, trimmed with
    # them on rollback), and uid div UID_HEIGHT_MULTIPLIER is the height —
    # so one pruned scan of it gives every tail height's next sequence.
    stored_ids = store.read_or_none("tx_ids")
    if stored_ids is not None:
        base = (
            stored_ids.filter(F.col("p_hb") >= rb)
            .groupBy(
                F.expr(f"uid div {UID_HEIGHT_MULTIPLIER}").cast("int").alias("height")
            )
            .agg((F.max(F.col("uid") % UID_HEIGHT_MULTIPLIER) + 1).alias("_base"))
        )
        new_raw = (
            new_raw.join(F.broadcast(base), "height", "left")
            .withColumn("uid", F.col("uid") + F.coalesce(F.col("_base"), F.lit(0)))
            .drop("_base")
        )
    # Materialize the classified batch ONCE, eagerly (localCheckpoint, as
    # recompute_candles does for its minute tail): every per-trigger plan
    # below — 18 typed merges, 6 children, the tx_ids union, each staged
    # write — starts from this small in-memory relation.  Carrying the JSON
    # explode, uid window, pandas UDFs and uid join in ~30 lineages would
    # cost each its own Python plan build and Catalyst analysis, and a lazy
    # cache would leave the concurrent writers racing to fill it.  Not
    # executor-loss-resilient, but the store commit is transactional, so a
    # lost batch simply replays.
    new_raw = new_raw.localCheckpoint(eager=True)

    # typed tables + children: tail-scoped merge, range-replace staging.
    # Lease-cancel resolution (J1) looks up the compact (id, uid) store so
    # cancels of leases ingested in EARLIER batches resolve, matching the
    # reference's lookup against the full txs table (pg.rs:472-484).
    typed_new = classify_txs(new_raw, prior_ids=store.read_or_none("tx_ids"))
    children_new = extract_children(new_raw)

    # a typed table with no stored version and no rows of its type this
    # batch needs no staging — the common case for most of the 18 typed
    # tables in any one batch (the reference likewise only INSERTs types
    # that occurred).  Typed tables that already exist must still restage:
    # squash can re-point their tail block_uids.  Child tables carry no
    # block_uid, so without rows of their parent type this batch their
    # content cannot change and they are never restaged.
    present_types = {int(t) for t in meta_row["_types"]}

    merged_tx: dict[str, DataFrame] = {}
    for n, df in typed_new.items():
        name = f"txs_{n}"
        if not store.exists(name) and n not in present_types:
            continue
        merged_tx[name] = _tail(name, df.withColumn("p_hb", _hb("height"))).unionByName(
            df.withColumn("p_hb", _hb("height"))
        )
    child_frames: dict[str, DataFrame] = {}
    for name, df in children_new.items():
        if int(name.split("_")[1]) not in present_types:
            continue
        new_part = df.withColumn("p_hb", _hb("height"))
        child_frames[name] = _tail(name, new_part).unionByName(new_part)

    # blocks (tiny dimension: full rewrite) + squash normalization over the
    # block_uid-bearing tail frames
    blocks = _read_or_empty(store, "blocks_microblocks", new_blocks).unionByName(new_blocks)
    blocks, merged_tx = _apply_squash(
        blocks, merged_tx, tail_rows, settled_below=prev_key
    )

    # compact id->uid lookup for J1 (post-squash so block_uids are settled):
    # the tail buckets are rebuilt from the merged typed frames, sealed
    # buckets hardlink forward like every other height-partitioned table.
    # blocks + every merged typed table + tx_ids write concurrently: all
    # distinct tables, all fully-defined frames (tx_ids reads the merged
    # FRAMES, not their staged versions)
    id_frames = [
        df.select("id", "uid", "block_uid", "p_hb") for df in merged_tx.values()
    ]
    new_ids = None
    if id_frames:
        new_ids = id_frames[0]
        for f in id_frames[1:]:
            new_ids = new_ids.unionByName(f)
    # SCD logs: asset updates + tickers; only keys with updates in THIS
    # batch rechain (_rechain).  A log with no updates this batch is
    # already current, and so is its chained table — restaging would
    # rewrite full history per batch for nothing.  The batch-content flags
    # (which slowly-changing inputs does this segment actually carry?)
    # ride the consolidated metadata job above.
    flags = meta_row

    new_au = extract_asset_updates(seg_updates)
    new_tick = extract_ticker_updates(seg_updates, asset_storage_address)
    new_wd = extract_waves_data(seg_updates)
    stored_wd = store.read_or_none("waves_data")

    # ---- asset SCD frames, built DRIVER-SIDE before the write wave (the
    # candle task consumes the chained frame, so it cannot live inside a
    # sibling task like the ticker/waves legs do)
    au_skip = store.exists("asset_updates_log") and not bool(flags["has_au"])
    au_tasks: list = []
    if au_skip:
        au_log_final = store.read_or_none("asset_updates_log")
        au_chained = store.read_or_none("asset_updates")
    else:
        au_log_final = _read_or_empty(
            store, "asset_updates_log", new_au
        ).unionByName(new_au)
        au_chained = _rechain(store, "asset_updates", au_log_final, new_au)
        au_tasks = [
            lambda: store.stage("asset_updates_log", au_log_final),
            lambda: store.stage("asset_updates", au_chained),
        ]

    def _full_merged(name: str) -> DataFrame | None:
        """The table's content AFTER this batch's merge, as an in-memory
        frame: previous version's sealed buckets ∪ the merged tail —
        byte-equal to what the staged parquet will hold, available before
        (and independent of) the write itself."""
        if name not in merged_tx:
            return store.read_or_none(name)
        prev = store.read_or_none(name)
        if prev is None:
            return merged_tx[name]
        return prev.filter(F.col("p_hb") < F.lit(rb)).unionByName(
            merged_tx[name]
        )

    def _origins() -> None:
        # asset_origins: first-wins (S6); txs_3 may not exist yet (no issue
        # tx ever seen) — origins are then empty by definition.  Only
        # restage when this batch could have changed them (new asset
        # updates or issue txs).  Consumes the log/txs_3 FRAMES (identical
        # to the staged content), so it needs no ordering vs their writes.
        txs3 = _full_merged("txs_3")
        if au_log_final is not None and txs3 is not None and (
            not store.exists("asset_origins")
            or bool(flags["has_au"])
            or 3 in present_types
        ):
            store.stage("asset_origins", extract_asset_origins(au_log_final, txs3))

    def _tickers() -> None:
        if store.exists("asset_tickers_log") and not bool(flags["has_de"]):
            return
        log = _read_or_empty(store, "asset_tickers_log", new_tick).unionByName(
            new_tick
        )
        store.stage("asset_tickers_log", log)
        store.stage("asset_tickers", _rechain(store, "asset_tickers", log, new_tick))

    def _waves() -> None:
        # waves_data: dedupe on quantity (S6); skip the full-history
        # rewrite when the batch carries no supply rows
        wd = new_wd
        if stored_wd is None or bool(flags["has_wd"]):
            if stored_wd is not None:
                wd = wd.join(
                    stored_wd.select("quantity"), "quantity", "left_anti"
                )
                wd = stored_wd.unionByName(wd)
            store.stage("waves_data", wd)

    # ---- the candle recompute consumes the merged txs_7 / chained asset
    # frames (content ≡ the staged tables), so it joins the SAME write wave
    # instead of waiting for those files to land (guide §2.6: overlap
    # independent jobs — per batch the wall is now max(write) rather than
    # sum of three sequential waves + candles)
    wm = meta_row["_wm"]
    candle_tasks: list = []
    if wm is not None:
        wm_dt = wm.replace(second=0, microsecond=0)
        txs7_full = _full_merged("txs_7")
        candle_tasks = [
            lambda: recompute_candles(
                store, wm_dt, txs7=txs7_full, asset_updates=au_chained
            )
        ]

    # ONE concurrent wave: children, blocks (coalesced — a 1-row-per-block
    # dimension whose write otherwise inherits dozens of near-empty input
    # partitions), typed tails, tx_ids, SCD families, candles.  All
    # distinct tables, all fully-defined frames.
    _run_parallel(
        [
            (lambda n=n, f=f: store.stage_range_replace(n, f, "p_hb", rb))
            for n, f in child_frames.items()
        ]
        + [lambda: store.stage("blocks_microblocks", blocks.coalesce(1))]
        + [
            (lambda n=n, f=f: store.stage_range_replace(n, f, "p_hb", rb))
            for n, f in merged_tx.items()
        ]
        + (
            [lambda: store.stage_range_replace("tx_ids", new_ids, "p_hb", rb)]
            if new_ids is not None
            else []
        )
        + au_tasks
        + [_origins, _tickers, _waves]
        + candle_tasks
    )


# ------------------------------------------------------------ rollback (T3)


def apply_rollback(store: TableStore, ref_id: str) -> _dt.datetime | None:
    """Roll back to block ``ref_id`` (mod.rs:794-863).  Returns the candle
    repair watermark (min timestamp of deleted exchange txs)."""
    blocks = store.read_or_none("blocks_microblocks")
    if blocks is None:
        return None
    row = blocks.filter(F.col("id") == ref_id).select("uid").collect()
    if not row:
        return None
    return rollback_to_uid(store, row[0]["uid"])


def rollback_to_uid(store: TableStore, boundary: int) -> _dt.datetime | None:
    """Drop every row above block uid ``boundary`` across all tables — the
    shared core of reorg rollback (by block id) and the T4 startup ladder
    (by height).  Returns the candle repair watermark."""
    blocks = store.read("blocks_microblocks")
    deleted_ts = None
    txs7 = store.read_or_none("txs_7")
    if txs7 is not None:
        r = (
            txs7.filter(F.col("block_uid") > boundary)
            .agg(F.min("time_stamp").alias("m"))
            .collect()[0]
        )
        deleted_ts = r["m"]

    # affected buckets start at the boundary block's height: buckets above
    # vanish, the boundary bucket is rewritten, everything below hardlinks
    # forward (partition form of DELETE WHERE block_uid > $1, pg.rs:392-398)
    b_height = blocks.filter(F.col("uid") == boundary).select("height").collect()
    rb = _hb_value(int(b_height[0]["height"])) if b_height else _hb_value(0)

    store.stage("blocks_microblocks", blocks.filter(F.col("uid") <= boundary))
    for name in [*TX_NAMES, "tx_ids"]:
        df = store.read_or_none(name)
        if df is None:
            continue
        survivors = df.filter(
            (F.col("p_hb") >= rb) & (F.col("block_uid") <= boundary)
        )
        store.stage_range_replace(name, survivors, "p_hb", rb)
    for name in CHILD_NAMES:
        df = store.read_or_none(name)
        if df is None:
            continue
        # children carry no block_uid: bound via their parent's surviving
        # uids within the affected buckets
        parent = f"txs_{name.split('_')[1]}"
        pdf = store.read(parent).filter(F.col("p_hb") >= rb)
        survivors = df.filter(F.col("p_hb") >= rb).join(
            pdf.select(F.col("uid").alias("tx_uid")), "tx_uid", "left_semi"
        )
        store.stage_range_replace(name, survivors, "p_hb", rb)

    for log_name, chained in (
        ("asset_updates_log", "asset_updates"),
        ("asset_tickers_log", "asset_tickers"),
    ):
        log = store.read_or_none(log_name)
        if log is None:
            continue
        survivors = log.filter(F.col("block_uid") <= boundary)
        store.stage(log_name, survivors)
        # only keys with rows ABOVE the boundary (the reference's DELETE ..
        # RETURNING feed, pg.rs:225-256) rechain; a key none of whose rows
        # are deleted keeps an identical per-key log and chain
        deleted = log.filter(F.col("block_uid") > boundary)
        store.stage(chained, _rechain(store, chained, survivors, deleted))

    wd = store.read_or_none("waves_data")
    if wd is not None:
        heights = store.read("blocks_microblocks").select("height").distinct()
        store.stage(
            "waves_data",
            wd.join(F.broadcast(heights), "height", "left_semi"),
        )

    if deleted_ts is None:
        return None
    return deleted_ts.replace(second=0, microsecond=0)


# ------------------------------------------------ startup rollback ladder (T4)


def startup_rollback(
    store: TableStore, depth: int = 1, step: int = 500
) -> int | None:
    """Defensive restart ladder (mod.rs:122-137 via get_blocks_rollback_to,
    pg.rs:80-112; defaults config/consumer.rs:18-24): on every consumer
    start, roll the store back ``depth`` blocks below the current height in
    ``step``-sized rungs, so a batch the previous process may have written
    without fully settling is discarded and re-ingested.

    Ladder heights mirror the reference exactly: step = min(step, depth),
    rungs at current-step, current-2*step, ... (staying above current-depth)
    and finally current-depth itself; stored blocks AT those heights are the
    rungs.  Every rung deletes ``block_uid > rung uid``, so the lowest rung
    subsumes the higher ones: the ladder runs as ONE rollback to the lowest
    rung's uid, and its candle watermark is the minimum the rungs would have
    produced one by one.  The rollback + candle repair commit atomically as
    one store transaction (the reference wraps the whole ladder in one
    Postgres transaction).

    Returns the height ingestion should resume from (lowest rung height + 1),
    or None when the store is empty or no block is stored at a rung height
    (resume from the configured start).
    """
    blocks = store.read_or_none("blocks_microblocks")
    if blocks is None:
        return None
    with _micro_batch_confs(store.spark):
        return _startup_rollback_inner(store, blocks, depth, step)


def _startup_rollback_inner(
    store: TableStore, blocks: DataFrame, depth: int, step: int
) -> int | None:
    cur_row = blocks.agg(F.max("height")).collect()[0][0]
    if cur_row is None:
        return None
    current = int(cur_row)
    step = min(step, depth)
    starting = max(current - step, 0)
    final = max(current - depth, 0)
    heights = list(range(starting, final, -step))
    heights.append(final)
    lowest = (
        blocks.filter(F.col("height").isin(heights))
        .select("uid", "height")
        .orderBy("uid")
        .limit(1)
        .collect()
    )
    if not lowest:
        return None
    watermark = rollback_to_uid(store, lowest[0]["uid"])
    if watermark is not None:
        recompute_candles(store, watermark)
    store.commit()
    return int(lowest[0]["height"]) + 1


# ------------------------------------------------------------ batch driver


def process_batch(
    store: TableStore,
    batch_df: DataFrame,
    asset_storage_address: str = "",
    chain_id: int = 87,
) -> None:
    """One foreachBatch invocation: segment the updates into append runs and
    rollbacks (mod.rs:200-230), apply in order, recompute candles once per
    segment that needs it, commit atomically (T1)."""
    # ONE JSON parse per trigger: the segment metadata, the batch-metadata
    # collect, the classified-tx checkpoint and the writes built straight
    # from the updates (blocks, SCD logs, waves_data) each scan the
    # micro-batch frame, and for the file source each scan re-reads and
    # re-parses the JSON payload (guide §5 caching: reused + expensive to
    # recompute).  The tx-derived writes read apply_appends' checkpoint
    # instead.  The batch is micro by construction, so the cache is
    # bounded; released in the finally below.
    with _micro_batch_confs(store.spark):
        batch_df = batch_df.persist()
        try:
            # driver-side sort: an orderBy on the micro-batch plans a range
            # partitioner (its own sampling job); the segment list is tiny by
            # construction, so sort the collected rows in Python instead
            meta = sorted(
                batch_df.select("seq", "kind", "ref_id").collect(),
                key=lambda m: m["seq"],
            )
            if not meta:
                return
            segments: list[tuple[str, int, int] | tuple[str, str]] = []
            run_start = None
            for m in meta:
                if m["kind"] in ("block", "microblock"):
                    if run_start is None:
                        run_start = m["seq"]
                    run_end = m["seq"]
                else:  # rollback closes any open run
                    if run_start is not None:
                        segments.append(("appends", run_start, run_end))
                        run_start = None
                    segments.append(("rollback", m["ref_id"]))
            if run_start is not None:
                segments.append(("appends", run_start, run_end))

            try:
                for seg in segments:
                    if seg[0] == "appends":
                        _, lo, hi = seg
                        # candles recompute inside apply_appends' write wave
                        apply_appends(
                            store,
                            batch_df.filter(
                                (F.col("seq") >= lo) & (F.col("seq") <= hi)
                            ),
                            asset_storage_address,
                            chain_id=chain_id,
                        )
                    else:
                        watermark = apply_rollback(store, seg[1])
                        if watermark is not None:
                            recompute_candles(store, watermark)
                store.commit()
            except BaseException:
                # leave no staged state behind: the store instance is reused
                # across triggers (frame memo), so a failed batch must not
                # bleed its staged versions into the retry
                store.rollback_staged()
                raise
        finally:
            batch_df.unpersist()


def run_stream(
    spark: SparkSession,
    events_dir: str,
    store_root: str,
    asset_storage_address: str = "",
    max_files_per_trigger: int = 1,
    start_rollback_depth: int = 1,
    rollback_step: int = 500,
    chain_id: int = 87,
) -> None:
    """S2: file-source stream over an events directory (one JSON file ≈ one
    update batch), available-now trigger (drain then stop).

    Startup performs the T4 defensive rollback ladder first (mod.rs:122-137;
    ``start_rollback_depth``/``rollback_step`` mirror config/consumer.rs:
    18-24): the store's speculative tail is discarded so updates re-delivered
    after a crash reconstruct it.  The file source's checkpoint governs which
    event files are re-read; a crash between store commit and checkpoint
    advance re-delivers the batch, and the ladder + idempotent merges absorb
    the overlap.  Set ``start_rollback_depth=0`` to skip (trusted shutdown).
    """
    # ONE store instance for the whole drain: per-version frame handles
    # memoize across triggers (a settled table version is re-read every
    # batch), and each process_batch ends in commit/rollback_staged, so
    # reuse is state-safe
    store = TableStore(spark, store_root)
    if start_rollback_depth > 0:
        startup_rollback(
            store, depth=start_rollback_depth, step=rollback_step
        )
    from ..sources.live_updates import file_updates

    stream = file_updates(spark, events_dir, max_files_per_trigger)

    def _fb(batch_df: DataFrame, _batch_id: int) -> None:
        process_batch(
            store, batch_df, asset_storage_address, chain_id=chain_id
        )

    q = (
        stream.writeStream.foreachBatch(_fb)
        .option("checkpointLocation", f"{store_root}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
