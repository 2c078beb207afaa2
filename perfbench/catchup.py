"""``catchup``: a freshly started consumer drains a seeded backlog.

The backlog is two update files.  The warm-up file holds a genesis block
with every tx type and every asset's first state, two key blocks with
state updates, and a microblock run squashed by the second.  The measured
file holds key blocks of exchange-heavy txs with periodic asset, ticker
and supply updates and a few microblock runs.  The consumer starts on an
empty store and drains both files through the production entry,
``run_stream`` (file source, start-up ladder, ``foreachBatch``), one file
per trigger.  Trigger 0 pays the JVM's warm-up and belongs to set-up; the
measured trigger is trigger 1, timed by a ``StreamingQueryListener``.
After the commit a fresh reader queries the views in the same thread, in
rounds, until the run's time is up and at least ``MIN_READ_ROUNDS`` rounds
are done.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from blockchain_postgres_sync_spark.plans import views
from blockchain_postgres_sync_spark.streaming import pipeline
from blockchain_postgres_sync_spark.streaming.store import TableStore
from tests import waves_fixtures as wf

from . import measure as T
from .updates import ChainLog, write_update_file

BACKLOG_BLOCKS = 24  # key blocks in the measured file
BLOCK_TXS = 16  # txs per key block
MICRO_TXS = 4  # txs per microblock
STATE_EVERY = 6  # key blocks between asset / ticker / supply updates
MICRO_EVERY = 8  # key blocks between microblock runs (two microblocks each)
MIN_READ_ROUNDS = 4
#: read rounds left out of the query medians: the first is the freshness
#: read and plans each query; in the second the JIT is still catching up
WARM_READ_ROUNDS = 2
CANDLE_PAIR = ("A1", "WAVES")
VIEW_QUERIES = ("assets", "tickers", "decimals", "candles_1m", "candles_1h", "tx_lookup")
#: engine functions timed in the traced run
PIPELINE_CALLS = ("apply_appends", "recompute_candles")
INGEST_CALLS = (
    "extract_blocks", "extract_raw_txs", "classify_txs", "extract_children",
    "extract_asset_updates", "extract_ticker_updates", "extract_waves_data",
    "extract_asset_origins",
)
STORE_CALLS = ("stage", "stage_range_replace", "commit")
#: batch id of the measured trigger (batch 0 is the warm-up file)
MEASURED = 1


def backlog(log: ChainLog) -> tuple[list[dict], list[dict]]:
    """(warm-up file, measured file).  The warm-up file passes every code
    path the measured one does: all 18 tx types, state updates, and a
    microblock run squashed by the next key block."""
    warmup = [
        log.genesis(),
        log.block(BLOCK_TXS, state_updates=True),
        log.microblock(MICRO_TXS),
        log.microblock(MICRO_TXS),
        log.block(BLOCK_TXS, state_updates=True),
    ]
    measured = []
    for k in range(1, BACKLOG_BLOCKS + 1):
        measured.append(log.block(BLOCK_TXS, state_updates=k % STATE_EVERY == 0))
        if k % MICRO_EVERY == 0:
            measured += [log.microblock(MICRO_TXS) for _ in range(2)]
    return warmup, measured


class TriggerLog(StreamingQueryListener):
    """Start (epoch seconds) and duration of every trigger that read input,
    by batch id, from the stream's progress events."""

    def __init__(self):
        self.triggers: dict[int, dict] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows > 0:
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            self.triggers[p.batchId] = {
                "start": start.timestamp(),
                "ms": float(p.durationMs["triggerExecution"]),
            }

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


@contextmanager
def listening(spark, listener: StreamingQueryListener):
    """Register ``listener`` for the block; on exit wait until every event
    posted so far has reached it."""
    spark.streams.addListener(listener)
    try:
        yield
    finally:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(listener)


def read_views(spark, root: str, tx_id: str) -> tuple[dict, dict]:
    """A fresh reader on the committed manifest runs the view queries;
    returns (rows, milliseconds) per query."""
    reader = TableStore(spark, root)
    amount_asset, price_asset = CANDLE_PAIR

    def latest_candles(interval: str):
        return (
            reader.read("candles")
            .filter((F.col("interval") == interval)
                    & (F.col("amount_asset_id") == amount_asset)
                    & (F.col("price_asset_id") == price_asset))
            .orderBy(F.desc("time_start"))
            .limit(10)
            .collect()
        )

    plans = {
        "assets": lambda: views.assets_view(
            reader.read("asset_updates"), reader.read("asset_tickers"),
            reader.read("asset_origins"), reader.read("waves_data"),
        ).collect(),
        "tickers": lambda: views.tickers_view(reader.read("asset_tickers")).collect(),
        "decimals": lambda: views.decimals_view(reader.read("asset_updates"), spark).collect(),
        "candles_1m": lambda: latest_candles("1m"),
        "candles_1h": lambda: latest_candles("1h"),
        "tx_lookup": lambda: reader.read("tx_ids").filter(F.col("id") == tx_id).collect(),
    }
    rows, ms = {}, {}
    for name in VIEW_QUERIES:
        t0 = time.perf_counter()
        rows[name] = plans[name]()
        ms[name] = (time.perf_counter() - t0) * 1000
    return rows, ms


def check_store(spark, root: str, expected, rows: dict) -> list[str]:
    """Compare the committed store and a round of view results with what
    the generator implies; returns the mismatches."""
    problems = []
    reader = TableStore(spark, root)
    counts = None
    for n in range(1, 19):
        df = reader.read(f"txs_{n}").select(F.lit(n).alias("t"), F.count("*").alias("c"))
        counts = df if counts is None else counts.unionByName(df)
    got = {r["t"]: r["c"] for r in counts.collect()}
    for n in range(1, 19):
        if got.get(n, 0) != expected.tx_counts.get(n, 0):
            problems.append(f"txs_{n}: {got.get(n)} rows, expected {expected.tx_counts.get(n, 0)}")

    assets = {r["asset_id"]: r for r in rows["assets"]}
    for asset, (name, volume, decimals) in expected.assets.items():
        r = assets.get(asset)
        if r is None or (r["asset_name"], int(r["total_quantity"]), r["decimals"]) != (name, volume, decimals):
            problems.append(f"asset {asset}: {r}, expected {(name, volume, decimals)}")
    waves = assets.get("WAVES")
    if waves is None or int(waves["total_quantity"]) != expected.waves_quantity:
        problems.append(f"WAVES supply: {waves}, expected {expected.waves_quantity}")
    tickers = {r["asset_id"]: r["ticker"] for r in rows["tickers"]}
    for asset, ticker in expected.tickers.items():
        if tickers.get(asset) != ticker:
            problems.append(f"ticker {asset}: {tickers.get(asset)!r}, expected {ticker!r}")

    volume = {
        (r["amount_asset_id"], r["price_asset_id"]): int(r["v"])
        for r in reader.read("candles").filter(F.col("interval") == "1m")
        .groupBy("amount_asset_id", "price_asset_id").agg(F.sum("volume").alias("v"))
        .collect()
    }
    if volume != expected.pair_volume:
        problems.append(f"candles_1m volume per pair: {volume}, expected {expected.pair_volume}")
    if len(rows["tx_lookup"]) != 1:
        problems.append(f"tx lookup returned {len(rows['tx_lookup'])} rows, expected 1")
    return problems


def run(spark, work: str, seed: int, seconds: float, traced: bool, clock) -> dict:
    """Generate, drain (trigger 0 in set-up, trigger 1 measured), read until
    ``seconds`` have passed since trigger 1 began, check; returns the record
    the metric functions read."""
    store_root = os.path.join(work, "store")
    events_dir = os.path.join(work, "events")
    os.makedirs(events_dir)
    with clock.phase("generate"):
        log = ChainLog(seed)
        files = backlog(log)
        expected = log.expected()
        tx_id = expected.tx_ids[-1]
        # the file source takes the oldest file first
        now = time.time()
        for i, ups in enumerate(files):
            path = os.path.join(events_dir, f"{i:05d}.json")
            write_update_file(path, ups)
            os.utime(path, (now - 60 + i, now - 60 + i))

    tracer = T.Tracer() if traced else None
    counters = T.SparkCounters(spark) if traced else None
    rec = {"txs": sum(len(u["transactions"]) for u in files[MEASURED]), "rounds": [],
           "spark": {}, "counter_ms": {}}
    if traced:
        for name in PIPELINE_CALLS:
            tracer.wrap(pipeline, name, f"pipeline.{name}")
        for name in INGEST_CALLS:
            tracer.wrap(pipeline, name, f"ingest.{name}")
        for name in STORE_CALLS:
            tracer.wrap(TableStore, name, f"store.{name}")
        tracer.wrap_fanout(pipeline, "_run_parallel")
        tracer.count(os, "link", "os.link")
        # each process_batch call is one operation, trigger-<batch id>,
        # with the Spark jobs it ran

        # the status-store reads run inside the trigger: their time is
        # tracing overhead
        @contextmanager
        def batch_jobs(n):
            c0 = time.perf_counter()
            counters.delta()  # drops the jobs before this batch
            c1 = time.perf_counter()
            try:
                yield
            finally:
                c2 = time.perf_counter()
                rec["spark"][n] = counters.delta()
                rec["counter_ms"][n] = (c1 - c0 + time.perf_counter() - c2) * 1000
                tracer.bookkeeping_s += rec["counter_ms"][n] / 1000

        tracer.wrap_ops(pipeline, "process_batch", "pipeline.process_batch", "trigger",
                        batch_jobs)

    triggers = TriggerLog()
    try:
        d0 = time.perf_counter()
        with listening(spark, triggers):
            pipeline.run_stream(spark, events_dir, store_root, wf.ASSET_STORAGE)
        d1 = time.perf_counter()
        t = triggers.triggers
        if sorted(t) != list(range(len(files))):
            raise RuntimeError(f"expected one trigger per update file, got batches {sorted(t)}")
        # trigger 1's start on the perf_counter clock
        t0 = d1 - (time.time() - t[MEASURED]["start"])
        clock.set_setup_end(t0)
        clock.phases["warmup"] = t0 - d0
        rec["trigger"] = t[MEASURED]
        while True:
            r0 = time.perf_counter()
            if traced:
                counters.delta()
                with tracer.op(f"views-{len(rec['rounds'])}", "views"):
                    rows, ms = read_views(spark, store_root, tx_id)
            else:
                rows, ms = read_views(spark, store_root, tx_id)
            r1 = time.perf_counter()
            rnd = {"ms": ms, "found": len(rows["tx_lookup"]) == 1}
            if traced:
                rnd["spark"] = counters.delta()
            if not rec["rounds"]:
                rec["freshness_ms"] = (r1 - t0) * 1000
            rec["rounds"].append(rnd)
            if len(rec["rounds"]) >= MIN_READ_ROUNDS and r1 - t0 >= seconds:
                break
    finally:
        if traced:
            tracer.restore()

    rec["problems"] = check_store(spark, store_root, expected, rows)
    entries = T.tree_entries(store_root)
    rec["store_bytes"] = T.tree_bytes(entries)
    rec["store_files"] = len({ino for ino, _ in entries.values()})
    rec["store_txs"] = len(expected.tx_ids)
    rec["tracer"] = tracer
    return rec


def _view_ms(rec: dict) -> dict[str, float]:
    """Per-query median over the read rounds after ``WARM_READ_ROUNDS``."""
    return {q: T.median(r["ms"][q] for r in rec["rounds"][WARM_READ_ROUNDS:])
            for q in VIEW_QUERIES}


def metrics(rec: dict) -> dict[str, float]:
    trigger_ms = rec["trigger"]["ms"]
    return {
        "sync_tx_per_s": rec["txs"] / (trigger_ms / 1000),
        "trigger_p50_ms": trigger_ms,
        "freshness_p50_ms": rec["freshness_ms"],
        "queries_per_s": len(VIEW_QUERIES) / (sum(_view_ms(rec).values()) / 1000),
        "store_bytes_per_tx": rec["store_bytes"] / rec["store_txs"],
    }


def layer_metrics(rec: dict) -> dict[str, float]:
    op = f"trigger-{MEASURED}"
    tracer, sp = rec["tracer"], rec["spark"][MEASURED]
    selfs = tracer.self_ms(op)
    batch_ms = tracer.sum_ms(op, "pipeline.process_batch")
    view_ms = _view_ms(rec)
    out = {
        "trigger.jobs": sp["jobs"],
        "trigger.stages": sp["stages"],
        "trigger.tasks": sp["tasks"],
        "trigger.collect_jobs": sp["collect_jobs"],
        "trigger.job_busy_ms": sp["busy_ms"],
        "trigger.driver_gap_ms": batch_ms - sp["busy_ms"],
        "store.stage_ms": tracer.wall_ms(op, "store.stage"),
        "store.stage_jobs": sp["stage_jobs"],
        "store.commit_ms": tracer.sum_ms(op, "store.commit"),
        "store.bytes_written": rec["store_bytes"],
        "store.files_written": rec["store_files"],
        "pipeline.apply_appends_ms": tracer.sum_ms(op, "pipeline.apply_appends"),
        "pipeline.recompute_candles_ms": tracer.sum_ms(op, "pipeline.recompute_candles"),
        "ingest.plan_ms": tracer.sum_ms(op, "ingest.", top_level_only=True),
        "spark.shuffle_bytes": sp["shuffle_read_bytes"] + sp["shuffle_write_bytes"],
        "spark.input_bytes": sp["input_bytes"],
        "spark.output_bytes": sp["output_bytes"],
        "spark.executor_cpu_ms": sp["executor_cpu_ns"] / 1e6,
        "spark.gc_ms": sp["gc_ms"],
        "views.assets_ms": view_ms["assets"],
        "views.tickers_ms": view_ms["tickers"],
        "views.decimals_ms": view_ms["decimals"],
        "views.candles_ms": view_ms["candles_1m"] + view_ms["candles_1h"],
        "views.tx_lookup_ms": view_ms["tx_lookup"],
        "views.jobs": T.median(r["spark"]["jobs"] for r in rec["rounds"]),
        # the trigger's time outside foreachBatch: file listing, offset
        # and commit logs
        "self.stream_ms": rec["trigger"]["ms"] - batch_ms - rec["counter_ms"][MEASURED],
        "self.pipeline_ms": selfs.get("pipeline", 0.0),
        "self.ingest_ms": selfs.get("ingest", 0.0),
        "self.store_ms": selfs.get("store", 0.0),
        "trace.e2e_p50_ms": rec["trigger"]["ms"],
    }
    return out


def samples(rec: dict) -> dict[str, list[float]]:
    """Latency samples behind the reported values, for the tail report."""
    return {"view_query_ms": [v for r in rec["rounds"] for v in r["ms"].values()]}


def attempted_failed(rec: dict) -> tuple[int, int]:
    """The measured trigger (failed when the store check finds a mismatch)
    plus every view round (failed when its tx lookup misses)."""
    rounds = rec["rounds"]
    failed = (1 if rec["problems"] else 0) + sum(1 for r in rounds if not r["found"])
    return 1 + len(rounds), failed
