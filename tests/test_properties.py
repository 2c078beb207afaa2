"""Property-based invariants (SURVEY.md §5.4): the structural guarantees the
reference enforces with PK/FK constraints and in-transaction asserts, checked
here over generated inputs.

- SCD-2: per key, superseded_by values form a strict chain ending at MAX_UID.
- Candles: low <= open, close <= high; every cascade level conserves volume,
  quote_volume, and txs_count of its source interval.
- Deterministic uids: invariant under arbitrary repartitioning (physical
  order must never leak into results).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from blockchain_postgres_sync_spark.constants import MAX_UID
from blockchain_postgres_sync_spark.operators.candles import (
    full_cascade, full_cascade_fixedpoint, full_cascade_fixedpoint_onepass,
    minute_candles,
)
from blockchain_postgres_sync_spark.operators.scd import chain_superseded_by
from blockchain_postgres_sync_spark.operators.uids import assign_uids

_slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@st.composite
def _update_stream(draw):
    n = draw(st.integers(min_value=1, max_value=30))
    keys = draw(st.lists(st.integers(0, 5), min_size=n, max_size=n))
    uids = draw(st.permutations(list(range(n))))
    return [(f"asset{k}", u) for k, u in zip(keys, uids)]


@given(_update_stream())
@_slow
def test_scd_chain_invariant(spark, stream):
    df = spark.createDataFrame(stream, ["asset_id", "uid"])
    rows = chain_superseded_by(df, key="asset_id", uid="uid").collect()
    by_key: dict[str, list] = {}
    for r in rows:
        by_key.setdefault(r.asset_id, []).append(r)
    assert sum(len(v) for v in by_key.values()) == len(stream)
    for chain in by_key.values():
        chain.sort(key=lambda r: r.uid)
        for cur, nxt in zip(chain, chain[1:]):
            assert cur.superseded_by == nxt.uid  # strict chain
        assert chain[-1].superseded_by == MAX_UID  # open tail


@st.composite
def _trades(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    rows = []
    uids = draw(st.permutations(list(range(n))))
    for i in range(n):
        rows.append((
            uids[i],
            # spread across hours/days so several cascade levels aggregate
            f"2024-01-{draw(st.integers(1, 9)):02d} "
            f"{draw(st.integers(0, 23)):02d}:{draw(st.integers(0, 59)):02d}:30",
            draw(st.sampled_from(["A", "B"])),
            "USD",
            "M0",
            draw(st.integers(1, 5)),
            draw(st.integers(1, 100)),
            float(draw(st.integers(1, 10_000))) / 100.0,
        ))
    return rows


@given(_trades())
@_slow
def test_candle_invariants(spark, trades):
    df = spark.createDataFrame(
        trades,
        ["uid", "time_stamp", "amount_asset_id", "price_asset_id",
         "sender", "height", "amount", "price"],
    ).withColumn("time_stamp", F.col("time_stamp").cast("timestamp"))
    allc = full_cascade(minute_candles(df)).collect()
    per_interval: dict[str, dict] = {}
    for r in allc:
        assert float(r.low) <= float(r.open) <= float(r.high), r
        assert float(r.low) <= float(r.close) <= float(r.high), r
        agg = per_interval.setdefault(
            r.interval, {"volume": 0, "quote": 0, "txs": 0}
        )
        agg["volume"] += int(r.volume)
        agg["quote"] += float(r.quote_volume)
        agg["txs"] += int(r.txs_count)
    base = per_interval["1m"]
    for ivl, agg in per_interval.items():
        assert agg["volume"] == base["volume"], ivl  # conservation
        assert agg["txs"] == base["txs"], ivl
        assert abs(agg["quote"] - base["quote"]) < 1e-6 * max(base["quote"], 1)


@given(_trades())
@_slow
def test_candles_fixedpoint_parity(spark, trades):
    """minute_candles(fixedpoint_frac=2) must be BIT-IDENTICAL (schema and
    values) to the exact-decimal default whenever its declared bounds hold —
    here prices carry exactly 2 fractional digits by construction."""
    df = spark.createDataFrame(
        trades,
        ["uid", "time_stamp", "amount_asset_id", "price_asset_id",
         "sender", "height", "amount", "price"],
    ).withColumn("time_stamp", F.col("time_stamp").cast("timestamp")).withColumn(
        "price", F.col("price").cast("decimal(18,2)")
    )
    a = minute_candles(df)
    b = minute_candles(df, fixedpoint_frac=2)
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@given(_trades())
@_slow
def test_cascade_fixedpoint_parity(spark, trades):
    """full_cascade_fixedpoint must be BIT-IDENTICAL (schema and values,
    all 13 levels) to the exact-decimal cascade whenever its declared
    bounds hold — prices here carry exactly 2 fractional digits."""
    df = spark.createDataFrame(
        trades,
        ["uid", "time_stamp", "amount_asset_id", "price_asset_id",
         "sender", "height", "amount", "price"],
    ).withColumn("time_stamp", F.col("time_stamp").cast("timestamp")).withColumn(
        "price", F.col("price").cast("decimal(18,2)")
    )
    a = full_cascade(minute_candles(df))
    b = full_cascade_fixedpoint(df, f=2)
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@given(_trades())
@_slow
def test_cascade_onepass_parity(spark, trades):
    """The single-pandas-stage cascade must produce the SAME rows and
    column dtypes as the per-level fixed-point cascade (nullability may
    differ: applyInPandas output is nullable)."""
    df = spark.createDataFrame(
        trades,
        ["uid", "time_stamp", "amount_asset_id", "price_asset_id",
         "sender", "height", "amount", "price"],
    ).withColumn("time_stamp", F.col("time_stamp").cast("timestamp")).withColumn(
        "price", F.col("price").cast("decimal(18,2)")
    )
    a = full_cascade_fixedpoint(df, f=2)
    b = full_cascade_fixedpoint_onepass(df, f=2)
    assert [(f.name, f.dataType) for f in a.schema.fields] == [
        (f.name, f.dataType) for f in b.schema.fields
    ]
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@given(st.integers(min_value=2, max_value=16))
@_slow
def test_uid_assignment_repartition_invariant(spark, nparts):
    rows = [(i, i % 7) for i in range(50)]
    df = spark.createDataFrame(rows, ["event_id", "height"])
    base = {
        (r.event_id): r.uid
        for r in assign_uids(df, height_col="height", order_cols=["event_id"]).collect()
    }
    shuffled = {
        (r.event_id): r.uid
        for r in assign_uids(
            df.repartition(nparts), height_col="height", order_cols=["event_id"]
        ).collect()
    }
    assert base == shuffled


# ---------------------------------------------------------------- temporal


@st.composite
def _event_stream(draw):
    """(key, ts_seconds, event_id) with unique (key, ts) per stream —
    the asof contract's determinism precondition."""
    n = draw(st.integers(min_value=2, max_value=25))
    keys = draw(st.lists(st.integers(0, 3), min_size=n, max_size=n))
    ts = draw(
        st.lists(
            st.integers(0, 10_000), min_size=n, max_size=n, unique=True
        )
    )
    return [(k, t, i) for i, (k, t) in enumerate(zip(keys, ts))]


@given(_event_stream())
@_slow
def test_asof_join_matches_naive(spark, stream):
    from datetime import datetime, timezone

    from blockchain_postgres_sync_spark.operators.temporal import asof_join

    def dt(s):
        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    rows = [(k, dt(t), i, float(i) * 1.5) for k, t, i in stream]
    left = [r[:3] for r in rows if r[2] % 2 == 0]
    right = [(r[0], r[1], r[2], r[3]) for r in rows if r[2] % 2 == 1]
    if not left or not right:
        return
    ldf = spark.createDataFrame(left, "k long, ts timestamp, eid long")
    rdf = spark.createDataFrame(right, "k long, ts timestamp, rid long, v double")
    got = {
        r["eid"]: (r["rid"], r["v"])
        for r in asof_join(ldf, rdf, on="k", value_cols=["rid", "v"]).collect()
    }
    for lk, lt, le in left:
        cands = [r for r in right if r[0] == lk and r[1] <= lt]
        want = max(cands, key=lambda r: r[1]) if cands else None
        assert got[le] == ((want[2], want[3]) if want else (None, None))


@given(_event_stream())
@_slow
def test_twap_matches_naive(spark, stream):
    import math
    from datetime import datetime, timezone

    from blockchain_postgres_sync_spark.operators.temporal import twap

    def dt(s):
        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    rows = [(k, dt(t), i, float((i * 37) % 100)) for k, t, i in stream]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    got = {
        r["user_id"]: (r["twap_micros"], r["total_seconds"], r["n_intervals"])
        for r in twap(df).collect()
    }
    per_key: dict[int, list] = {}
    for k, t, i in stream:
        per_key.setdefault(k, []).append((t, float((i * 37) % 100)))
    for k, evs in per_key.items():
        evs.sort()
        if len(evs) < 2:
            assert k not in got
            continue
        ws = ds = 0
        for (t0, v0), (t1, _) in zip(evs, evs[1:]):
            vm = math.floor(v0 * 1e6)
            ws += vm * (t1 - t0)
            ds += t1 - t0
        want = math.floor(ws / ds) if ds > 0 else None
        assert got[k] == (want, ds, len(evs) - 1)


@st.composite
def _trades_and_watermark(draw):
    """Trades + watermark spanning a month boundary (2026-03-20..04-10)
    so week-floor < month-floor cases (the round-3 advice bug) generate
    naturally."""
    n = draw(st.integers(min_value=1, max_value=25))
    uids = draw(st.permutations(list(range(n))))
    rows = []
    for i in range(n):
        month, day = draw(st.sampled_from(
            [(3, d) for d in range(20, 32)] + [(4, d) for d in range(1, 11)]
        ))
        rows.append((
            uids[i],
            f"2026-{month:02d}-{day:02d} "
            f"{draw(st.integers(0, 23)):02d}:{draw(st.integers(0, 59)):02d}:30",
            draw(st.sampled_from(["A", "B"])),
            "USD",
            "M0",
            draw(st.integers(1, 5)),
            draw(st.integers(1, 100)),
            float(draw(st.integers(1, 10_000))) / 100.0,
        ))
    import datetime as dt

    wmonth, wday = draw(st.sampled_from(
        [(3, d) for d in range(25, 32)] + [(4, d) for d in range(1, 8)]
    ))
    wm = dt.datetime(2026, wmonth, wday, draw(st.integers(0, 23)),
                     draw(st.integers(0, 59)))
    return rows, wm


@given(_trades_and_watermark())
@_slow
def test_cascade_tail_matches_full_recompute(spark, data):
    """The incremental kernel fed from min(starts) must re-emit EXACTLY the
    rows a from-scratch cascade produces at/after each interval's start —
    for arbitrary watermarks, including weeks straddling the month floor
    (the round-3 advice bug, generalized from the single pipeline fixture)."""
    from blockchain_postgres_sync_spark.operators.candles import (
        cascade_tail_exact_onepass,
    )
    from blockchain_postgres_sync_spark.streaming.pipeline import (
        _interval_starts,
    )

    trades, wm = data
    df = spark.createDataFrame(
        trades,
        ["uid", "time_stamp", "amount_asset_id", "price_asset_id",
         "sender", "height", "amount", "price"],
    ).withColumn("time_stamp", F.col("time_stamp").cast("timestamp")).withColumn(
        "price", F.col("price").cast("decimal(18,2)")
    )
    minute_all = minute_candles(df)
    starts = _interval_starts(spark, wm)
    floor = min(starts.values())
    tail = cascade_tail_exact_onepass(
        minute_all.filter(F.col("time_start") >= F.lit(floor).cast("timestamp")),
        starts,
    )
    full = full_cascade(minute_all)
    cond = F.lit(False)
    for ivl, start in starts.items():
        if ivl == "1m":
            continue
        cond = cond | (
            (F.col("interval") == ivl)
            & (F.col("time_start") >= F.lit(start).cast("timestamp"))
        )
    expected = full.filter(cond)
    got = tail.select(*expected.columns)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


@given(
    st.lists(
        st.lists(
            st.floats(-8.0, 8.0, allow_nan=False, width=32),
            min_size=1, max_size=6,
        ),
        min_size=1, max_size=10,
    )
)
@_slow
def test_quantize_int8_invariants(spark, vecs):
    """For every non-zero vector: max|q| == 127 exactly (the max-abs element
    maps to ±127), |q| <= 127 everywhere, and sign(q_i) == sign(x_i)
    wherever |q_i| >= 1.  Zero vectors quantize to all zeros."""
    from blockchain_postgres_sync_spark.functions.vectors import quantize_int8

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = df.select(
        "vec_id", "embedding", quantize_int8(F.col("embedding")).alias("q")
    ).collect()
    assert len(out) == len(vecs)
    for r in out:
        qs = r.q
        assert all(abs(q) <= 127 for q in qs)
        if all(x == 0.0 for x in r.embedding):
            assert all(q == 0 for q in qs)
        else:
            assert max(abs(q) for q in qs) == 127
        for x, q in zip(r.embedding, qs):
            if abs(q) >= 1:
                assert (q > 0) == (x > 0)


@given(
    st.lists(st.tuples(st.integers(0, 9), st.integers(0, 3), st.integers(0, 3)),
             min_size=0, max_size=20, unique_by=lambda t: t[0]),
    st.lists(st.tuples(st.integers(0, 9), st.integers(0, 3), st.integers(0, 3)),
             min_size=0, max_size=20, unique_by=lambda t: t[0]),
)
@_slow
def test_table_diff_matches_set_semantics(spark, before_rows, after_rows):
    """diff(x, x) is empty; otherwise statuses equal the naive dict diff."""
    from blockchain_postgres_sync_spark.operators.scd import table_diff

    schema = "k long, a long, b long"
    before = spark.createDataFrame(before_rows, schema) if before_rows else \
        spark.createDataFrame([], schema)
    after = spark.createDataFrame(after_rows, schema) if after_rows else \
        spark.createDataFrame([], schema)
    got = {r.k: r.status for r in table_diff(before, after, key="k").collect()}

    bd = {k: (a, b) for k, a, b in before_rows}
    ad = {k: (a, b) for k, a, b in after_rows}
    want = {}
    for k in set(bd) | set(ad):
        if k not in bd:
            want[k] = "added"
        elif k not in ad:
            want[k] = "removed"
        elif bd[k] != ad[k]:
            want[k] = "changed"
    assert got == want
    if before_rows:
        assert table_diff(before, before, key="k").count() == 0


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=1, max_size=30,
    )
)
@_slow
def test_robust_outliers_matches_python_reference(spark, rows):
    """The generic median/MAD rule agrees with a naive python reference:
    rank-picked medians (value asc, tiebreak asc), integer cross-multiplied
    threshold, MAD=0 flags any deviation."""
    from blockchain_postgres_sync_spark.operators.stats import robust_outliers

    data = [(g, v, i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g int, v long, tb long")
    got = {
        (r.g, r.tb): (r._median, r._mad)
        for r in robust_outliers(
            df, group_col="g", value_col="v", tiebreak_col="tb", k_x100=300
        ).collect()
    }

    want = {}
    groups: dict[int, list] = {}
    for g, v, tb in data:
        groups.setdefault(g, []).append((v, tb))
    for g, members in groups.items():
        s = sorted(members)
        med = s[(len(s) - 1) // 2][0]
        devs = sorted((abs(v - med), tb) for v, tb in members)
        mad = devs[(len(devs) - 1) // 2][0]
        for v, tb in members:
            if abs(v - med) * 100 > 300 * mad:
                want[(g, tb)] = (med, mad)
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=1, max_size=40,
    )
)
@_slow
def test_duplicate_clusters_distributed_matches_unionfind(spark, edge_list):
    """The large-star/small-star contraction (collect_threshold=0 forces
    the distributed path; no label ever reaches the driver) produces the
    identical (doc_id, cluster_id=min of component) relation as the local
    union-find, on arbitrary graphs — chains, cycles, self-loops,
    islands."""
    from blockchain_postgres_sync_spark.operators.dedup import (
        _unionfind_local,
        duplicate_clusters,
    )

    pairs = spark.createDataFrame(edge_list, "id_a long, id_b long")
    got = {
        (r.doc_id, r.cluster_id)
        for r in duplicate_clusters(pairs, collect_threshold=0).collect()
    }
    # the local reference drops self-loop-only nodes from its edge walk
    # unless they appear in a real edge — normalize: every endpoint is a
    # node, a self-loop is an island
    want = {
        (r.doc_id, r.cluster_id)
        for r in _unionfind_local(
            [tuple(e) for e in edge_list], spark, "bigint"
        ).collect()
    }
    assert got == want
