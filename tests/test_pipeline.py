"""Streaming-pipeline scenario tests (SURVEY.md §2.9): batch atomicity,
microblock squash, rollback + SCD reopen, incremental candle maintenance.

The master invariant: processing the event log batch-by-batch must yield the
same store as processing the whole log in one batch — and the store's
candles must equal a from-scratch batch recompute over the final txs_7.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from blockchain_postgres_sync_spark import ingest
from blockchain_postgres_sync_spark.constants import MAX_UID
from blockchain_postgres_sync_spark.operators.candles import (
    full_cascade, minute_candles, scale_prices,
)
from blockchain_postgres_sync_spark.plans.views import decimals_view
from blockchain_postgres_sync_spark.streaming.pipeline import (
    CANDLE_TABLES, CHILD_NAMES, TX_NAMES, process_batch, read_all_candles,
    run_stream,
)
from blockchain_postgres_sync_spark.streaming.store import TableStore

from . import waves_fixtures as wf


def _mk_updates(spark, rows):
    return spark.createDataFrame(rows, schema=ingest.RAW_UPDATE)


def _run_log(spark, tmpdir, rows, batches):
    """Process `rows` split into `batches` (list of row-count per batch)."""
    store = TableStore(spark, str(tmpdir))
    i = 0
    for n in batches:
        process_batch(store, _mk_updates(spark, rows[i:i + n]), wf.ASSET_STORAGE)
        i += n
    assert i == len(rows)
    return store


def _table_sets(store, names):
    out = {}
    for n in names:
        df = store.read_or_none(n)
        out[n] = sorted(map(str, df.collect())) if df is not None else None
    return out


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    rows = wf.scenario_log()
    inc = _run_log(spark, tmp_path_factory.mktemp("inc"), rows, [2, 2, 1, 1, 1])
    one = _run_log(spark, tmp_path_factory.mktemp("one"), rows, [len(rows)])
    return inc, one


ALL_TABLES = (
    ["blocks_microblocks", "asset_updates", "asset_tickers", "waves_data",
     "asset_origins", "candles", "tx_ids", "asset_updates_log",
     "asset_tickers_log"] + TX_NAMES + CHILD_NAMES
)


def test_incremental_equals_oneshot(stores):
    inc, one = stores
    a = _table_sets(inc, ALL_TABLES)
    b = _table_sets(one, ALL_TABLES)
    for name in ALL_TABLES:
        assert a[name] == b[name], f"table {name} diverges between incremental and one-shot"


def test_incremental_equals_oneshot_anchoring_split(spark, stores, tmp_path):
    """Split [2, 3, 2]: the second batch's microblocks (micro-3, micro-4)
    anchor to block-2, which the first batch already stored, and settle
    within that batch when block-5 arrives (the squash's
    ``settled_below`` branch); the third batch rolls back and re-appends.
    Every table must still equal the one-shot store."""
    _, one = stores
    inc = _run_log(spark, tmp_path / "inc", wf.scenario_log(), [2, 3, 2])
    a = _table_sets(inc, ALL_TABLES)
    b = _table_sets(one, ALL_TABLES)
    for name in ALL_TABLES:
        assert a[name] == b[name], f"table {name} diverges on split [2, 3, 2]"


def test_apply_squash_driver_sized_tail(spark):
    """The squash maps at a size no scenario reaches: a tail of ~3,000
    blocks above a settled key block, every 10th a key block.  The
    literal maps must apply exactly the dicts of ``_squash_plan``."""
    import datetime as dt

    from blockchain_postgres_sync_spark.streaming.pipeline import (
        _apply_squash, _squash_plan,
    )

    settled = 5
    ts = dt.datetime(2024, 1, 1)
    blocks = [(u, f"block-{u}", u, ts) for u in range(1, settled + 1)]
    tail = []
    for u in range(settled + 1, settled + 3005):
        key = (u - settled) % 10 == 0
        blocks.append((u, f"{'block' if key else 'micro'}-{u}", u, ts if key else None))
        tail.append((u, f"{'block' if key else 'micro'}-{u}", key))
    txs = [(f"tx-{u}", u * 10, u) for u, *_ in blocks]

    last_key, mapping, total = _squash_plan(tail, settled)
    assert len(mapping) > 2500 and settled in total and settled + 1 in mapping

    blocks_df = spark.createDataFrame(
        blocks, "uid long, id string, height int, time_stamp timestamp"
    )
    txs_df = spark.createDataFrame(txs, "id string, uid long, block_uid long")
    new_blocks, new_tables = _apply_squash(
        blocks_df, {"txs": txs_df}, tail, settled
    )

    want_blocks = sorted(
        (u, total.get(u, bid), h, t)
        for u, bid, h, t in blocks
        if t is not None or u > last_key
    )
    got_blocks = sorted(tuple(r) for r in new_blocks.collect())
    assert got_blocks == want_blocks
    want_txs = sorted((i, u, mapping.get(b, b)) for i, u, b in txs)
    assert sorted(tuple(r) for r in new_tables["txs"].collect()) == want_txs
    assert new_tables["txs"].columns == txs_df.columns


def test_unchanged_children_keep_their_version(spark, tmp_path):
    """A batch without txs of a child table's parent type leaves that
    child table's version alone (children carry no block_uid, so a squash
    cannot change them), while the typed tables still restage."""
    rows = wf.scenario_log()
    store = _run_log(spark, tmp_path / "s", rows[:2], [2])
    before = dict(store._manifest)
    assert set(CHILD_NAMES) <= set(before)
    batch = rows[2:4]
    assert not any(
        t["tx_type"] == 11 for r in batch for t in r["transactions"] or []
    )
    process_batch(store, _mk_updates(spark, batch), wf.ASSET_STORAGE)
    for name in CHILD_NAMES:
        assert store._manifest[name] == before[name], name
    assert store._manifest["txs_7"] > before["txs_7"]


def test_schema_memo_matches_fresh_inference(spark, stores, tmp_path):
    """A store re-reading its own writes uses the schemas it remembered
    at write time; they must equal what a fresh reader infers from the
    files, column order included — for the p_hb (int) tables, the
    candles table (p_ib, string) and empty partitioned stages, which are
    written flat."""
    inc, _ = stores
    fresh = TableStore(spark, inc.root)
    assert {"candles", "txs_7", "tx_ids"} <= set(inc._manifest)
    for name, version in inc._manifest.items():
        assert (name, version) in inc._schemas, name
        assert inc.read(name).schema == fresh.read(name).schema, name

    store = TableStore(spark, str(tmp_path / "empty"))
    rows = spark.createDataFrame([(1, 1500), (2, 2500)], "uid long, height int")
    rows = rows.withColumn("p_hb", F.floor(F.col("height") / 1000).cast("int"))
    empty = rows.filter(F.lit(False))
    store.stage("staged_empty", empty, partition_by=["p_hb"])
    store.stage_range_replace("replaced_empty", empty, "p_hb", 0)
    store.stage_range_replace("trimmed", rows, "p_hb", 0)
    store.commit()
    store.stage_range_replace("trimmed", empty, "p_hb", 0)
    store.commit()
    fresh = TableStore(spark, store.root)
    for name in ("staged_empty", "replaced_empty", "trimmed"):
        assert store.read(name).schema == fresh.read(name).schema, name
        assert store.read(name).count() == 0, name


def test_squash_semantics(stores):
    inc, _ = stores
    blocks = {r["uid"]: r for r in inc.read("blocks_microblocks").collect()}
    # microblocks 3,4 folded into key block 2; block-2 renamed to micro-4 (T2)
    assert 3 not in blocks and 4 not in blocks
    assert blocks[2]["id"] == "micro-4"
    assert blocks[1]["id"] == "block-1"  # untouched key block keeps its id
    # folded microblock txs re-pointed to the key block uid
    t7 = inc.read("txs_7")
    micro_txs = t7.filter(F.col("id").isin("tx-7-300", "tx-7-301")).collect()
    assert {r["block_uid"] for r in micro_txs} == {2}


def test_cross_batch_lease_cancel(stores):
    """J1 against full history (pg.rs:472-484): a cancel arriving batches
    after its lease still resolves lease_tx_uid."""
    inc, one = stores
    for store in (inc, one):
        t8 = store.read("txs_8").filter(F.col("id") == "tx-8-8").collect()
        t9 = store.read("txs_9").filter(F.col("id") == "tx-9-501").collect()
        assert len(t8) == 1 and len(t9) == 1
        assert t9[0]["lease_tx_uid"] == t8[0]["uid"]


def test_rollback_semantics(stores):
    inc, _ = stores
    blocks = inc.read("blocks_microblocks").select("uid").collect()
    uids = sorted(r["uid"] for r in blocks)
    assert uids == [1, 2, 7]  # block-5 rolled back, block-7 re-appended
    # block-5's trade and ticker update are gone
    assert inc.read("txs_7").filter(F.col("id") == "tx-7-400").count() == 0
    tickers = {r["asset_id"]: r for r in inc.read("asset_tickers").collect()
               if r["superseded_by"] == MAX_UID}
    # A1's chain: ONE -> ONE2(rolled back) -> '' (delete in block-7)
    assert tickers["A1"]["ticker"] == ""
    assert tickers["B2"]["ticker"] == "TWO"


def test_scd_chain_invariant(stores):
    """Per key: superseded_by forms a strict uid chain ending at MAX_UID."""
    inc, _ = stores
    for table in ("asset_updates", "asset_tickers"):
        rows = inc.read(table).orderBy("asset_id", "uid").collect()
        by_key: dict[str, list] = {}
        for r in rows:
            by_key.setdefault(r["asset_id"], []).append(r)
        for key, chain in by_key.items():
            for cur, nxt in zip(chain, chain[1:]):
                assert cur["superseded_by"] == nxt["uid"], (table, key)
            assert chain[-1]["superseded_by"] == MAX_UID, (table, key)


def test_candles_match_batch_recompute(spark, stores):
    inc, _ = stores
    decimals = decimals_view(inc.read("asset_updates"), spark)
    trades = scale_prices(inc.read("txs_7"), decimals).select(
        "uid", "time_stamp", "amount_asset_id", "price_asset_id",
        "sender", "height", "amount", "price",
    )
    expected = full_cascade(minute_candles(trades))
    got = read_all_candles(inc)
    assert sorted(map(str, got.collect())) == sorted(map(str, expected.collect()))


def test_candle_price_scaling_applied(stores):
    """v3 trades scale price by 10^(price_dec - amount_dec) (A2)."""
    inc, _ = stores
    c = inc.read("candles").filter(
        (F.col("interval") == "1m")
        & (F.col("amount_asset_id") == "B2") & (F.col("price_asset_id") == "A1")
    ).orderBy("time_start").collect()
    assert c, "B2/A1 candles missing"
    # B2 decimals=1 (v2 update), A1 decimals=2: price * 10^2 * 10^-1 = x10
    first = c[0]
    assert float(first["low"]) == 3000.0  # 300 * 10

def test_run_stream_end_to_end(spark, stores, tmp_path):
    """File-source streaming (one JSON file per batch) reaches the same
    final store as direct process_batch calls."""
    _, one = stores
    rows = wf.scenario_log()
    events_dir = tmp_path / "events"
    os.makedirs(events_dir)
    batches = [rows[0:2], rows[2:4], rows[4:5], rows[5:6], rows[6:7]]
    for i, batch in enumerate(batches):
        p = events_dir / f"batch-{i:03d}.json"
        with open(p, "w") as f:
            for r in batch:
                r2 = dict(r)
                r2["waves_quantity"] = None if r2["waves_quantity"] is None else str(r2["waves_quantity"])
                r2["transactions"] = [
                    {**t, "bytes": None} if "bytes" in t and t.get("bytes") is not None else t
                    for t in (r2["transactions"] or [])
                ]
                f.write(json.dumps(r2) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))
    store_root = str(tmp_path / "store")
    run_stream(spark, str(events_dir), store_root, wf.ASSET_STORAGE)
    got = TableStore(spark, store_root)
    for name in ["blocks_microblocks", "txs_7", "asset_tickers", "candles",
                 "waves_data"]:
        g = got.read_or_none(name)
        e = one.read_or_none(name)
        assert g is not None and e is not None, name
        g_rows = sorted(map(str, g.drop("bytes").collect() if "bytes" in g.columns else g.collect()))
        e_rows = sorted(map(str, e.drop("bytes").collect() if "bytes" in e.columns else e.collect()))
        assert g_rows == e_rows, f"stream vs batch diverges on {name}"


def test_stage_range_replace_links_and_deletes(spark, tmp_path):
    """stage_range_replace: partitions below the boundary are hardlinked
    (no rewrite), partitions at/above come only from the new frame — so a
    vanished partition (rollback) disappears."""
    import os

    from pyspark.sql import functions as F

    from blockchain_postgres_sync_spark.streaming.store import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    base = spark.createDataFrame(
        [("2024-01", 1), ("2024-02", 2), ("2024-03", 3)], ["p_bucket", "v"]
    )
    store.stage("t", base, partition_by=["p_bucket"])
    store.commit()

    # replace from 2024-02: new content only has 2024-02 -> 2024-03 must go
    new = spark.createDataFrame([("2024-02", 20)], ["p_bucket", "v"])
    store.stage_range_replace("t", new, "p_bucket", "2024-02")
    store.commit()

    got = {(r.p_bucket, r.v) for r in store.read("t").collect()}
    assert got == {("2024-01", 1), ("2024-02", 20)}

    # kept partition is hardlinked, not copied
    vdir = os.path.join(str(tmp_path / "store"), "t", "v000001", "p_bucket=2024-01")
    links = [os.stat(os.path.join(vdir, f)).st_nlink
             for f in os.listdir(vdir) if f.endswith(".parquet")]
    assert links and all(n >= 1 for n in links)


def test_register_views_sql_surface(stores):
    """register_views exposes the reference's SQL surface: typed tables,
    the txs parent union, unified candles, and the dimension views."""
    from blockchain_postgres_sync_spark.plans.sql import (
        liveness_age_seconds, register_views,
    )

    inc, _ = stores
    spark = inc.spark
    register_views(inc)

    n_txs = spark.sql("SELECT count(*) AS n FROM txs").collect()[0]["n"]
    per_type = sum(
        spark.sql(f"SELECT count(*) AS n FROM txs_{i}").collect()[0]["n"]
        for i in range(1, 19)
        if spark.catalog.tableExists(f"txs_{i}")
    )
    assert n_txs == per_type > 0

    candles = spark.sql(
        "SELECT DISTINCT interval FROM candles"
    ).collect()
    assert len(candles) == 13

    assert spark.sql("SELECT * FROM decimals WHERE asset_id = 'WAVES'").collect()
    assert spark.sql("SELECT * FROM pairs").count() > 0

    age = liveness_age_seconds(inc)
    assert age is not None


def test_startup_rollback_ladder_restart(spark, tmp_path):
    """T4 (mod.rs:122-137, pg.rs:80-112): the defensive restart ladder.

    Crash model: the full log was committed, then the consumer restarts
    with start_rollback_depth=3 — the ladder height (current 104 - 3 = 101)
    hits stored block uid 2, so the top block (uid 7) is discarded; the
    node then re-delivers the canonical chain from the resume height and
    the store must converge to the uninterrupted run's exact state."""
    from blockchain_postgres_sync_spark.streaming.pipeline import (
        startup_rollback,
    )

    rows = wf.scenario_log()
    clean = _run_log(spark, tmp_path / "clean", rows, [len(rows)])
    crash_root = tmp_path / "crash"
    _run_log(spark, crash_root, rows, [len(rows)])

    store = TableStore(spark, str(crash_root))
    resume = startup_rollback(store, depth=3, step=500)
    assert resume == 102
    assert sorted(r["uid"] for r in store.read("blocks_microblocks").collect()) == [1, 2]
    assert store.read("txs_7").filter(F.col("id") == "tx-7-500").count() == 0

    # the node re-delivers the CANONICAL chain from the resume height: that
    # is block-7 only — block-5 was reorged away (rollback-6) and is not on
    # the canonical chain the node would serve after restart
    replay = [r for r in rows if r["seq"] == 7]
    assert all(r["height"] >= resume for r in replay)
    process_batch(store, _mk_updates(spark, replay), wf.ASSET_STORAGE)
    assert _table_sets(store, ALL_TABLES) == _table_sets(clean, ALL_TABLES)


def test_startup_rollback_ladder_runs_as_one_rollback(
    spark, stores, tmp_path, monkeypatch
):
    """A ladder of several rungs (step < depth) runs as ONE rollback to its
    lowest rung: current 104, depth 4, step 1 -> heights 103, 102, 101, 100;
    blocks are stored at 101 (uid 2) and 100 (uid 1), so the store rolls
    back to uid 1 and resumes at 101.  Replaying the canonical chain from
    there must reproduce the uninterrupted run on every table."""
    import shutil

    from blockchain_postgres_sync_spark.streaming import pipeline

    _, clean = stores
    crash_root = tmp_path / "crash"
    shutil.copytree(clean.root, crash_root)
    store = TableStore(spark, str(crash_root))
    rungs = (
        store.read("blocks_microblocks")
        .filter(F.col("height").isin(103, 102, 101, 100))
        .count()
    )
    assert rungs >= 2

    boundaries = []
    rollback_to_uid = pipeline.rollback_to_uid

    def recording(store, boundary):
        boundaries.append(boundary)
        return rollback_to_uid(store, boundary)

    monkeypatch.setattr(pipeline, "rollback_to_uid", recording)
    resume = pipeline.startup_rollback(store, depth=4, step=1)
    assert boundaries == [1]
    assert resume == 101
    assert [r["uid"] for r in store.read("blocks_microblocks").collect()] == [1]

    # canonical chain from height 101: block-2, its microblocks, and block-7
    # (block-5 was reorged away by rollback-6)
    replay = [r for r in wf.scenario_log() if r["seq"] in (2, 3, 4, 7)]
    assert all(r["height"] >= resume for r in replay)
    process_batch(store, _mk_updates(spark, replay), wf.ASSET_STORAGE)
    assert _table_sets(store, ALL_TABLES) == _table_sets(clean, ALL_TABLES)


def test_startup_rollback_empty_and_missing_heights(spark, tmp_path):
    """Ladder edge cases: empty store -> None (resume from configured
    start); no stored block at any ladder height (reference .optional()
    returning None) -> store untouched."""
    from blockchain_postgres_sync_spark.streaming.pipeline import (
        startup_rollback,
    )

    empty = TableStore(spark, str(tmp_path / "empty"))
    assert startup_rollback(empty, depth=1, step=500) is None

    rows = wf.scenario_log()
    store_root = tmp_path / "gap"
    _run_log(spark, store_root, rows, [len(rows)])
    store = TableStore(spark, str(store_root))
    before = _table_sets(store, ALL_TABLES)
    # current height 104, depth 1 -> ladder [103]; no stored block there
    # (block-5 was reorged away), so the ladder is a no-op
    assert startup_rollback(store, depth=1, step=500) is None
    assert _table_sets(store, ALL_TABLES) == before


def test_liveness_probe_endpoints(spark, stores):
    """S10 (bin/consumer.rs:9-12, 33-46): /live always 200; /ready reflects
    newest-key-block age vs the 300 s bound; /metrics exposes the gauge."""
    import json as _json
    import urllib.request

    from blockchain_postgres_sync_spark.streaming.probe import LivenessProbe

    inc, _ = stores
    # fixture blocks are dated 2024 -> stale -> not ready
    probe = LivenessProbe(inc, port=0, poll_interval_secs=0)
    port = probe.start()
    try:
        def get(path):
            try:
                r = urllib.request.urlopen(f"http://127.0.0.1:{port}{path}")
                return r.status, r.read()
            except urllib.error.HTTPError as e:
                return e.code, e.read()

        code, body = get("/live")
        assert code == 200
        code, body = get("/ready")
        assert code == 503
        payload = _json.loads(body)
        assert payload["ready"] is False and payload["block_age_seconds"] > 300
        code, body = get("/metrics")
        assert code == 200 and b"block_age_seconds" in body

        # a probe with an enormous allowed age reports ready
        fresh = LivenessProbe(inc, port=0, max_block_age_secs=10**12,
                              poll_interval_secs=0)
        fport = fresh.start()
        try:
            r = urllib.request.urlopen(f"http://127.0.0.1:{fport}/ready")
            assert r.status == 200
        finally:
            fresh.stop()
    finally:
        probe.stop()


def test_interval_starts_match_trunc_ts(spark):
    """The driver-side watermark truncation must agree with the Spark
    trunc_ts expressions for every interval (including week/month calendar
    floors and mid-day fixed widths)."""
    import datetime as dt

    from blockchain_postgres_sync_spark.constants import ALL_INTERVALS
    from blockchain_postgres_sync_spark.operators.candles import trunc_ts
    from blockchain_postgres_sync_spark.streaming.pipeline import _interval_starts

    samples = [
        dt.datetime(2024, 1, 1, 0, 0, 0),
        dt.datetime(2024, 2, 29, 13, 37, 59),
        dt.datetime(2024, 12, 31, 23, 59, 59),
        dt.datetime(2023, 7, 16, 11, 30, 1),  # a Sunday
    ]
    for ts in samples:
        got = _interval_starts(spark, ts)
        lit = F.lit(ts).cast("timestamp")
        row = spark.range(1).select(
            *[trunc_ts(lit, ivl).alias(f"i_{i}") for i, ivl in enumerate(ALL_INTERVALS)]
        ).collect()[0]
        for i, ivl in enumerate(ALL_INTERVALS):
            assert got[ivl] == row[f"i_{i}"], (ts, ivl)


def test_week_spanning_month_cascade(spark, tmp_path):
    """Regression (round-3 advice, high): a batch watermark in the first
    days of a month that does NOT start on Monday makes starts['1w'] (the
    Monday floor) precede starts['1M'] (the month floor).  The one-pass
    cascade kernel must then be fed minutes from min(starts.values()) —
    feeding only time_start >= starts['1M'] re-emits a 1w candle that
    silently drops the pre-month minutes of the straddling week."""
    import datetime as dt

    m0 = dt.datetime(2026, 3, 30, 10, 0, 0)  # Monday of the straddling week
    m1 = dt.datetime(2026, 3, 31, 11, 0, 0)
    m2 = dt.datetime(2026, 4, 1, 9, 0, 0)    # Wednesday: batch-2 watermark

    def minute_of(t: dt.datetime) -> int:
        return int((t - wf.T0).total_seconds() // 60)

    rows = [
        wf.block(
            1, 100, minute_of(m0),
            [wf.exchange_tx(1, m0, "A1", "WAVES", "3PMatcher0", 100, 1000),
             wf.exchange_tx(2, m1, "A1", "WAVES", "3PMatcher0", 100, 500)],
            asset_updates=[wf.asset_update("A1", 2, 1000)],
            waves_quantity=1,
        ),
        wf.block(
            2, 101, minute_of(m2),
            [wf.exchange_tx(3, m2, "A1", "WAVES", "3PMatcher0", 100, 600)],
            waves_quantity=2,
        ),
    ]
    inc = _run_log(spark, tmp_path / "inc", rows, [1, 1])

    # ground truth: from-scratch batch recompute over the final txs_7
    decimals = decimals_view(inc.read("asset_updates"), spark)
    trades = scale_prices(inc.read("txs_7"), decimals).select(
        "uid", "time_stamp", "amount_asset_id", "price_asset_id",
        "sender", "height", "amount", "price",
    )
    expected = full_cascade(minute_candles(trades))
    got = read_all_candles(inc)
    assert sorted(map(str, got.collect())) == sorted(map(str, expected.collect()))

    # and concretely: ONE 1w candle (week of 2026-03-30) holding all three
    # trades, wap = (100*1000 + 100*500 + 100*600) // 300 = 700
    w = got.filter(F.col("interval") == "1w").collect()
    assert len(w) == 1
    assert w[0]["time_start"] == m0.replace(hour=0, minute=0)
    assert w[0]["txs_count"] == 3
    assert int(w[0]["volume"]) == 300
    assert w[0]["weighted_average_price"] == 700


def test_batch_crash_before_commit_is_atomic(spark, tmp_path):
    """T1 chaos test (round-3 verdict item 5): kill process_batch mid-way —
    AFTER several tables have staged but BEFORE the manifest swap — and
    prove (a) a fresh store over the same root reads back the exact
    pre-batch snapshot, and (b) replaying the killed batch lands the same
    final state as a crash-free run (reference: one Postgres transaction
    per batch, mod.rs:168-186)."""
    rows = wf.scenario_log()
    root = str(tmp_path / "chaos")

    store = TableStore(spark, root)
    process_batch(store, _mk_updates(spark, rows[:2]), wf.ASSET_STORAGE)
    snapshot = _table_sets(TableStore(spark, root), ALL_TABLES)

    # crash the second batch after the 3rd successful stage() call
    calls = {"n": 0}
    orig_stage = TableStore.stage

    def exploding_stage(self, name, df, partition_by=None):
        calls["n"] += 1
        if calls["n"] > 3:
            raise RuntimeError("chaos: killed mid-batch")
        return orig_stage(self, name, df, partition_by)

    TableStore.stage = exploding_stage
    try:
        with pytest.raises(RuntimeError, match="chaos"):
            process_batch(
                TableStore(spark, root), _mk_updates(spark, rows[2:]),
                wf.ASSET_STORAGE,
            )
    finally:
        TableStore.stage = orig_stage
    assert calls["n"] > 3  # the crash really happened mid-staging

    # (a) un-committed staging is invisible: fresh reader sees the snapshot
    after_crash = _table_sets(TableStore(spark, root), ALL_TABLES)
    assert after_crash == snapshot

    # (b) idempotent replay: re-running the killed batch on a fresh store
    # instance equals the crash-free two-batch run
    process_batch(TableStore(spark, root), _mk_updates(spark, rows[2:]),
                  wf.ASSET_STORAGE)
    clean = _run_log(spark, tmp_path / "clean", rows, [2, len(rows) - 2])
    assert _table_sets(TableStore(spark, root), ALL_TABLES) == _table_sets(
        clean, ALL_TABLES
    )


def test_store_compact_partitioned(spark, tmp_path):
    """Compaction rewrites only fat partitions (one file each), hardlinks
    compact ones (same inode), preserves content exactly, and is a no-op
    when nothing is fat."""
    import os

    from pyspark.sql import functions as F

    from blockchain_postgres_sync_spark.streaming.store import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    base = spark.range(0, 40).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("p")
    )
    # p=0 written compact (1 task -> 1 file); p=1 deliberately fragmented
    # across 12 tasks -> ~12 small files, the state a long run of
    # incremental writes leaves behind
    frag = base.filter(F.col("p") == "0").coalesce(1).unionByName(
        base.filter(F.col("p") == "1").repartition(12)
    )
    store.stage("t", frag, partition_by=["p"])
    store.commit()

    def files(part):
        versions = store._manifest
        d = os.path.join(store._dir("t", versions["t"]), f"p={part}")
        return sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )

    inode_p0_before = {os.stat(f).st_ino for f in files("0")}
    before_rows = sorted(tuple(r) for r in store.read("t").collect())

    assert store.compact("t", partition_col="p", max_files=4) is True
    store.commit()
    assert len(files("1")) == 1
    assert {os.stat(f).st_ino for f in files("0")} == inode_p0_before  # linked
    assert sorted(tuple(r) for r in store.read("t").collect()) == before_rows
    # second run: everything compact already -> no-op, no version bump
    v = store._manifest["t"]
    assert store.compact("t", partition_col="p", max_files=4) is False
    assert store._manifest["t"] == v and not store._staged


def test_store_compact_null_partition(spark, tmp_path):
    """A fat NULL-valued partition (__HIVE_DEFAULT_PARTITION__ dir) must be
    rewritten, not silently dropped: isin() never matches NULL rows, so
    without the explicit isNull() branch compact would retire the old NULL
    dir while writing none of its rows forward — data loss."""
    import os

    from pyspark.sql import functions as F

    from blockchain_postgres_sync_spark.streaming.store import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    base = spark.range(0, 40).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit("a")).alias("p"),  # odd ids -> NULL
    )
    # p=a compact; the NULL partition deliberately fragmented into ~12 files
    frag = base.filter(F.col("p").isNotNull()).coalesce(1).unionByName(
        base.filter(F.col("p").isNull()).repartition(12)
    )
    store.stage("t", frag, partition_by=["p"])
    store.commit()

    def null_files():
        d = os.path.join(
            store._dir("t", store._manifest["t"]), "p=__HIVE_DEFAULT_PARTITION__"
        )
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(null_files()) > 4  # precondition: NULL partition is fat
    before_rows = sorted(
        (r["id"], r["p"]) for r in store.read("t").collect()
    )
    assert store.compact("t", partition_col="p", max_files=4) is True
    store.commit()
    assert len(null_files()) == 1
    after_rows = sorted((r["id"], r["p"]) for r in store.read("t").collect())
    assert after_rows == before_rows  # every NULL row survived
