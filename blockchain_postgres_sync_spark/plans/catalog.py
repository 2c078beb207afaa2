"""Benchmark/correctness catalog: every operator from SURVEY.md §2 expressed
over the driver's testdata tables, each with a DuckDB oracle.

The driver runs each Spark query AND its oracle SQL side-by-side at sf0.01
and hash-compares values (order-insensitive, columns sorted by name).  Rules
followed here so hashes are bit-exact across engines:

- aggregate money in DecimalType (exact, associative), never float;
- final outputs cast to stable types only: STRING / BIGINT / INT / DOUBLE
  (exact-decimal→double conversion is deterministic);
- timestamps output as strings ('YYYY-MM-DD HH:MM:SS[.ffffff]' both engines);
- money floor-division in exact decimal arithmetic on BOTH engines
  (floor_div_exact / _floor_div_sql — float64 mis-floors past 2^53);
  non-money ratio scores may still use a single IEEE float64 op;
- identical alias in Spark (.alias) and SQL (AS).

The testdata→reference shape mapping (FIXTURES.md §10): events → exchange
trades (txs_7) / dimension-update stream; part/supplier → asset dimension;
orders+lineitem → fact tables for join/agg coverage; documents/embeddings →
LLM-pipeline operators.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..constants import ALL_INTERVALS, CANDLE_CASCADE, INTERVALS, MAX_UID
from ..sources.tables import load_table
from ..functions import text as T
from ..functions import pii as PII
from ..operators import (
    bpe, clustering, contamination, dedup, encoding, graph, layout,
    multimodal, packing, pca, pq, sampling, similarity, stats, temporal,
)
from ..operators.candles import (
    full_cascade_fixedpoint_onepass,
    minute_candles,
    scale_prices,
)
from ..operators.scd import chain_superseded_by, current_snapshot
from ..operators.uids import assign_uids
from ..streaming.reorg import rollback_scd, squash_microblocks

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------- helpers


def _t(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fanout: bool | None = None,
) -> DataFrame:
    """Catalog table loader.  ``fanout`` overrides the loader's adaptive
    scan fan-out (sources/tables.py) per QUERY: the fan-out exchange only
    pays for itself when heavy per-row work sits BEFORE the plan's first
    exchange (Arrow kernels, vector folds, md5/tokenize chains) — per-row
    intensity is workload knowledge the loader cannot infer from bytes
    (guide §8).  ``fanout=False`` is set exactly on the call sites where
    an interleaved on/off A/B measured the fan-out as a net cost at BOTH
    bench scales (sf0.1 and the deterministic local sf1) — light JVM
    scans (hash/length/quota shapes), aggregation-after-first-exchange
    shapes (the AQE coalesce floor already parallelizes those stages),
    and per-round rescans (kmeans_train re-pays the exchange every Lloyd
    round).  Queries whose two scales disagreed keep the default ON —
    the sf1 signal outranks the sf0.1 one (scale posture first).
    Numbers: OPTIMIZATION_r10.md, session-6 fan-out calibration."""
    return load_table(spark, sf_dir, name, fanout=fanout)


def _cents(col, mul: int = 100):  # Column -> Column
    """Money double -> exact fixed-point long in ONE codegen'd expression.

    ``cast(x*mul + 0.5 as long)`` is half-up rounding for non-negative x,
    and for 2-decimal money stored as double the product ``x*mul`` lands
    within ~1e-9 of the true integer — never near the .5 boundary — so the
    result equals ``cast(x as decimal(18,2)) * mul`` exactly.  The decimal
    route costs a per-row double->BigDecimal conversion plus a BigDecimal
    multiply; this is a double FMA + cast (guide §2.3 narrower types).
    Round-11 A/B (OPTIMIZATION_r11.md; interleaved, parity-gated):
    pricing_summary sf1 1.42->0.88 s, assets_view 2.42->1.58 s,
    top_orders 1.39->1.24 s, winning every adjacent pass at both scales."""
    return ((col * mul) + F.lit(0.5)).cast("long")


def _arr_str(col):  # Column -> Column
    """Serialize an array column to a deterministic comma-joined string.

    The external driver's correctness gate canonicalizes through a pandas
    multi-column sort, which hash-factorizes cells — raw ArrayType output
    columns raise ``unhashable type: 'list'`` and the query records ``err``
    (CORRECTNESS_r06).  Gate-window queries therefore project arrays
    through this helper; the DuckDB oracle mirrors it with
    ``array_to_string(list_transform(arr, x -> CAST(x AS VARCHAR)), ',')``.
    Operator APIs are unchanged — only registered query projections.
    """
    return F.array_join(F.transform(col, lambda x: x.cast("string")), ",")


def _dd_trunc(expr: str, interval: str) -> str:
    """DuckDB SQL mirroring operators.candles.trunc_ts (tz-free)."""
    kind, arg = INTERVALS[interval]
    if kind == "secs":
        return (
            f"TIMESTAMP '1970-01-01' + INTERVAL "
            f"(CAST(floor(epoch({expr}) / {arg}) AS BIGINT) * {arg}) SECOND"
        )
    # CAST: DuckDB date_trunc('day'|'week'|'month') yields DATE; Spark yields
    # timestamp — align the textual form.
    return f"CAST(date_trunc('{arg}', {expr}) AS TIMESTAMP)"


#: events → txs_7-shaped trades (FIXTURES.md §10). Deterministic arithmetic
#: derivations give the candle agg real group keys: 5 event types × 3 price
#: assets × 2 matchers ≈ 30 pairs.
def _trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("uid"),
        F.col("ts").alias("time_stamp"),
        F.col("event_type").alias("amount_asset_id"),
        F.when(F.col("user_id") % 3 == 0, F.lit("USD"))
        .when(F.col("user_id") % 3 == 1, F.lit("EUR"))
        .otherwise(F.lit("BTC"))
        .alias("price_asset_id"),
        F.concat(F.lit("M"), (F.col("user_id") % 2).cast("string")).alias("sender"),
        F.floor(F.unix_timestamp(F.col("ts")) / 3600).cast("int").alias("height"),
        (F.col("event_id") % 97 + 1).alias("amount"),
        F.col("value").cast("decimal(18,2)").alias("price"),
        (F.col("event_id") % 4 + 1).cast("int").alias("tx_version"),
    )


_TRADES_SQL = """
    SELECT event_id AS uid,
           ts AS time_stamp,
           event_type AS amount_asset_id,
           CASE user_id % 3 WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR' ELSE 'BTC' END
               AS price_asset_id,
           'M' || CAST(user_id % 2 AS VARCHAR) AS sender,
           CAST(floor(epoch(ts) / 3600) AS INT) AS height,
           event_id % 97 + 1 AS amount,
           CAST(value AS DECIMAL(18,2)) AS price,
           CAST(event_id % 4 + 1 AS INT) AS tx_version
    FROM events
"""

def _floor_div_sql(a: str, b: str) -> str:
    """Exact decimal floor division (mirrors operators.candles.floor_div_exact):
    ``a - a % b`` is an exact multiple of ``b``, so the HUGEINT integer
    division is the true floor — no float64 rounding once sums pass 2^53."""
    return (
        f"CAST(CAST({a} - ({a} % {b}) AS HUGEINT) // CAST({b} AS HUGEINT) AS BIGINT)"
    )


_C1M_PQ = "sum(CAST(amount AS DECIMAL(10,0)) * CAST(price AS DECIMAL(28,10)))"
_C1M_VOL = "sum(CAST(amount AS DECIMAL(10,0)))"

_C1M_SQL = f"""
    SELECT {_dd_trunc('time_stamp', '1m')} AS time_start,
           amount_asset_id, price_asset_id, sender AS matcher_address,
           min(CAST(price AS DECIMAL(28,10))) AS low,
           max(CAST(price AS DECIMAL(28,10))) AS high,
           sum(CAST(amount AS DECIMAL(10,0))) AS volume,
           sum(CAST(amount AS DECIMAL(10,0)) * CAST(price AS DECIMAL(28,10)))
               AS quote_volume,
           max(height) AS max_height,
           CAST(count(*) AS BIGINT) AS txs_count,
           {_floor_div_sql(_C1M_PQ, _C1M_VOL)}
               AS weighted_average_price,
           arg_min(CAST(price AS DECIMAL(28,10)), uid) AS open,
           arg_max(CAST(price AS DECIMAL(28,10)), uid) AS close
    FROM trades
    GROUP BY 1, 2, 3, 4
"""

#: safe (case-insensitive-unique) CTE names per interval; '1m' vs '1M' would
#: collide as SQL identifiers.
_SAFE = {
    "1m": "m1", "5m": "m5", "15m": "m15", "30m": "m30", "1h": "h1",
    "2h": "h2", "3h": "h3", "4h": "h4", "6h": "h6", "12h": "h12",
    "1d": "d1", "1w": "w1", "1M": "mo1",
}

_CANDLE_OUT = (
    "CAST(time_start AS VARCHAR) AS time_start, amount_asset_id, "
    "price_asset_id, matcher_address, CAST(low AS DOUBLE) AS low, "
    "CAST(high AS DOUBLE) AS high, CAST(volume AS BIGINT) AS volume, "
    "CAST(quote_volume AS DOUBLE) AS quote_volume, max_height, "
    "CAST(txs_count AS BIGINT) AS txs_count, "
    "CAST(weighted_average_price AS BIGINT) AS weighted_average_price, "
    "CAST(open AS DOUBLE) AS open, CAST(close AS DOUBLE) AS close"
)


def _rollup_sql(src: str, dst: str) -> str:
    return f"""
    SELECT {_dd_trunc('time_start', dst)} AS time_start,
           amount_asset_id, price_asset_id, matcher_address,
           min(low) AS low,
           max(high) AS high,
           sum(volume) AS volume,
           sum(quote_volume) AS quote_volume,
           max(max_height) AS max_height,
           CAST(sum(txs_count) AS BIGINT) AS txs_count,
           {_floor_div_sql(
               "sum(CAST(weighted_average_price AS DECIMAL(20,0))"
               " * CAST(volume AS DECIMAL(18,0)))",
               "sum(CAST(volume AS DECIMAL(18,0)))")}
               AS weighted_average_price,
           arg_min(open, time_start) AS open,
           arg_max(close, time_start) AS close
    FROM c_{_SAFE[src]}
    GROUP BY 1, 2, 3, 4
"""


def _cascade_oracle_sql() -> str:
    ctes = [f"trades AS ({_TRADES_SQL})", f"c_m1 AS ({_C1M_SQL})"]
    for src, dst in CANDLE_CASCADE:
        ctes.append(f"c_{_SAFE[dst]} AS ({_rollup_sql(src, dst)})")
    unions = " UNION ALL ".join(
        f"SELECT {_CANDLE_OUT}, '{ivl}' AS interval FROM c_{_SAFE[ivl]}"
        for ivl in ALL_INTERVALS
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


def _candles_final(df: DataFrame, with_interval: bool) -> DataFrame:
    cols = [
        F.col("time_start").cast("string").alias("time_start"),
        "amount_asset_id", "price_asset_id", "matcher_address",
        F.col("low").cast("double").alias("low"),
        F.col("high").cast("double").alias("high"),
        F.col("volume").cast("long").alias("volume"),
        F.col("quote_volume").cast("double").alias("quote_volume"),
        "max_height",
        F.col("txs_count").cast("long").alias("txs_count"),
        F.col("weighted_average_price").cast("long").alias("weighted_average_price"),
        F.col("open").cast("double").alias("open"),
        F.col("close").cast("double").alias("close"),
    ]
    if with_interval:
        cols.append("interval")
    return df.select(*cols)


# ---------------------------------------------------------------- queries


def q_candles_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A4/W2: the reference's minute-candle hash-agg (pg.rs:680-738).

    Uses the long fixed-point hot path (fixedpoint_frac=2): here price is
    DECIMAL(18,2) by construction and amount <= 97, so amount*price*100 <
    10^9 per row and a minute-pair group of even 10^9 rows stays under
    2^63 — the documented bound holds with eight orders of margin.  Output
    is bit-identical to the exact-decimal default (asserted by
    test_candles_fixedpoint_parity)."""
    return _candles_final(
        minute_candles(_trades(spark, sf_dir), fixedpoint_frac=2),
        with_interval=False,
    )


def q_candles_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: full 13-interval hierarchical rollup (pg.rs:740-815).

    Long fixed-point end-to-end and ONE pandas stage for all 12 rollups
    (full_cascade_fixedpoint_onepass): the minute agg is the only corpus
    shuffle; one exchange on the pair key then lets a single Arrow task walk
    the cascade DAG for its pair — collapsing the 12-stage critical path to
    a 2-exchange plan (~1.3s quiet-box at sf0.1, vs ~4.5s for the per-level
    Catalyst form with AQE exchange reuse, ~7s for persist-per-level, ~20s
    for the pair-repartitioned narrow form).  Bit-identical to the decimal
    cascade under the documented bounds (test_cascade_fixedpoint_parity,
    test_cascade_onepass_parity).  Use the per-level Catalyst cascade
    (operators.candles.full_cascade / full_cascade_fixedpoint) when pair
    cardinality is tiny or a single pair dominates — the one-pass form's
    parallelism is bounded by distinct pairs."""
    return _candles_final(
        full_cascade_fixedpoint_onepass(_trades(spark, sf_dir), f=2),
        True,
    )


def q_scd2_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: superseded_by chaining (mod.rs:623-647) over the event stream as
    a dimension-update log (user_id = the SCD key)."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("asset_id"), F.col("event_id").alias("uid")
    )
    out = chain_superseded_by(ev, key="asset_id", uid="uid")
    return out.select(
        F.col("asset_id").cast("long").alias("asset_id"),
        F.col("uid").cast("long").alias("uid"),
        F.col("superseded_by").alias("superseded_by"),
    )


def q_scd2_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (DISTINCT ON): latest row per key by uid — tickers view semantics
    (up.sql:432-435)."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("asset_id"),
        F.col("event_id").alias("uid"),
        F.col("event_type"),
        F.col("value"),
    )
    return current_snapshot(ev, key="asset_id", uid="uid").select(
        F.col("asset_id").cast("long"), F.col("uid"), "event_type", "value"
    )


def q_deterministic_uid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: uid = height*100000 + seq (convert.rs:45-72); height ≙ user_id."""
    ev = _t(spark, sf_dir, "events").select("event_id", F.col("user_id").alias("height"))
    return assign_uids(ev, height_col="height", order_cols=["event_id"]).select(
        "event_id", F.col("height").cast("long").alias("height"), "uid"
    )


def q_decimals_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: dimension ∪ constant sentinel row (decimals view, up.sql:420-430)."""
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("string").alias("asset_id"),
        (F.col("p_size") % 9).cast("int").alias("decimals"),
    )
    waves = spark.range(1).select(
        F.lit("WAVES").alias("asset_id"), F.lit(8).cast("int").alias("decimals")
    )
    return part.unionByName(waves)


def q_assets_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+J4+A9: left-join enrichment ∪ synthetic sentinel row carrying a
    scalar 'supply' (assets view, up.sql:437-485)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    # per-part volume in fixed-point cents: rows-per-part is bounded
    # (~30 per SF unit of lineitem density) and qty <= 50, so the long
    # partial stays far under 2^63; the double division by 100 returns
    # the correctly-rounded value == cast(decimal sum as double)
    origins = li.groupBy("l_partkey").agg(
        F.min("l_orderkey").alias("origin_order"),
        F.sum(_cents(F.col("l_quantity"))).alias("_volc"),
    )
    # origins is a per-part aggregate — it scales with SF, so no forced
    # broadcast (a hint would override Spark's size check and OOM at 100x);
    # AQE/CBO picks broadcast vs shuffle from the actual aggregate size
    base = (
        part.join(origins, part.p_partkey == origins.l_partkey, "left")
        .select(
            F.col("p_partkey").cast("string").alias("asset_id"),
            F.col("p_name").alias("asset_name"),
            F.col("origin_order").cast("long").alias("origin_order"),
            (F.col("_volc").cast("double") / F.lit(100.0)).alias("total_volume"),
            F.col("p_retailprice").alias("retail_price"),
        )
    )
    # global supply: two-level exact accumulation like pricing_summary
    # (long cents partial per scan partition, decimal merge) so the total
    # stays exact at any SF while the hot per-row stage is integer adds
    supply = (
        orders.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("_sc"))
        .agg((F.sum(F.col("_sc").cast("decimal(38,0)")) / 100).alias("_supply"))
    )
    waves = supply.select(
        F.lit("WAVES").alias("asset_id"),
        F.lit("Waves").alias("asset_name"),
        F.lit(None).cast("long").alias("origin_order"),
        F.col("_supply").cast("double").alias("total_volume"),
        F.lit(None).cast("double").alias("retail_price"),
    )
    return base.unionByName(waves)


def q_ticker_parse_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8+A8: key parse (frag_parse '%s%s', mod.rs:548-581) + latest-per-key:
    extract k from the props JSON-ish payload, keep newest per user."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.col("event_id").alias("uid"),
        F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("long").alias("ticker_k"),
    )
    return current_snapshot(ev, key="user_id", uid="uid").select(
        F.col("user_id").cast("long"), "uid", "ticker_k"
    )


def q_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: lease-cancel-style lookup (pg.rs:472-505): resolve each fact row
    against a lookup side; unmatched stays NULL.  The lookup side here
    (projected orders) scales with SF, so the strategy is left to AQE —
    broadcast when it fits, shuffled hash join otherwise; a forced
    broadcast hint would OOM at 100x.  (The reference's real lease-cancel
    lookup resolves against the in-batch lease set, which IS bounded.)"""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return li.join(orders, li.l_orderkey == orders.o_orderkey, "left").select(
        "l_orderkey", "l_linenumber", "o_custkey"
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7-style global agg with exact decimal money math (TPC-H Q1 shape).

    Two-level exact accumulation: the hot per-row stage sums fixed-point
    LONGS (qty x100, price x100, disc-price x10^4, charge x10^6 — pure
    whole-stage-codegen integer adds; Spark's BigDecimal sum on the same
    rows measures ~3x slower), grouped by (key, partition id) so the
    map-side partial collapses to one row per key per task; the tiny merge
    stage then sums those partials as DECIMAL(38,0), so the grand totals —
    and their double casts the oracle hashes — are exactly the full-decimal
    result.  Overflow bound: a task's partial is rows_per_task x max charge
    x10^6; with 128 MB input partitions (~10^6 rows) and 10^5 money values
    that is ~10^13, eight orders below 2^63 — document-checked, not
    hoped."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp")
    )
    qty_c = _cents(F.col("l_quantity"))
    price_c = _cents(F.col("l_extendedprice"))
    disc_c = _cents(F.col("l_discount"))
    tax_c = _cents(F.col("l_tax"))
    pd_i = price_c * (F.lit(100) - disc_c)              # scale 4
    sc_i = pd_i * (F.lit(100) + tax_c)                  # scale 6
    partial = li.groupBy(
        "l_returnflag", "l_linestatus", F.spark_partition_id().alias("_pid")
    ).agg(
        F.sum(qty_c).alias("_q"),
        F.sum(price_c).alias("_bp"),
        F.sum(pd_i).alias("_dp"),
        F.sum(sc_i).alias("_ch"),
        F.count(F.lit(1)).alias("_n"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    out = partial.groupBy("l_returnflag", "l_linestatus").agg(
        (F.sum(dec("_q")) / 100).alias("_sq"),
        (F.sum(dec("_bp")) / 100).alias("_sbp"),
        (F.sum(dec("_dp")) / 10000).alias("_sdp"),
        (F.sum(dec("_ch")) / 1000000).alias("_sc"),
        F.sum("_n").alias("count_order"),
    )
    return out.select(
        "l_returnflag", "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sbp").cast("double").alias("sum_base_price"),
        F.col("_sdp").cast("double").alias("sum_disc_price"),
        F.col("_sc").cast("double").alias("sum_charge"),
        (F.col("_sq").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("_sbp").cast("double") / F.col("count_order")).alias("avg_price"),
        F.col("count_order"),
    )


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-k (TPC-H Q3 shape; exercises broadcast
    dim joins and exact-decimal ordering)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    # scale-4 fixed point (price cents x discount-complement cents): the
    # per-order sum is bounded by lineitems-per-order (<= 7) x ~1e9, far
    # under 2^63 at any SF, so a plain long sum is exact and ordering by
    # the long == ordering by the decimal it represents (guide §2.3)
    rev_i = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    # customer scales with SF — no forced broadcast; AQE decides
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(rev_i).alias("_ri")
    )
    top = agg.orderBy(F.col("_ri").desc(), F.col("l_orderkey").asc()).limit(10)
    # _ri < 2^53, so long->double is exact and the IEEE division returns
    # the correctly-rounded quotient == cast(decimal as double)
    return top.select(
        "l_orderkey",
        (F.col("_ri").cast("double") / F.lit(10000.0)).alias("revenue"),
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
        "o_orderpriority",
    )


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop broadcast dim joins (TPC-H Q5 shape): revenue by supplier
    nation within one region."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # scale-4 fixed-point revenue (see _cents) with the two-level exact
    # pattern: only 25 nation groups, so per-group totals exceed 2^63 at
    # extreme SF — long partials per (n_name, scan partition), decimal
    # merge.  Round-11 A/B: sf1 1.10 -> 0.90 s
    rev_i = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    partial = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", F.spark_partition_id().alias("_pid"))
        .agg(F.sum(rev_i).alias("_ri"), F.count(F.lit(1)).alias("_n"))
    )
    out = partial.groupBy("n_name").agg(
        (F.sum(F.col("_ri").cast("decimal(38,0)")) / 10000).alias("_rev"),
        F.sum("_n").alias("n_items"),
    )
    return out.select(
        "n_name", F.col("_rev").cast("double").alias("revenue"), "n_items"
    )


def q_tumbling_window_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: tumbling event-time window agg via F.window (the streaming
    primitive, run in batch mode here)."""
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy(
        F.window(F.col("ts"), "5 minutes").alias("w"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("_sv"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    return out.select(
        F.col("w.start").cast("string").alias("window_start"),
        "event_type", "n_events",
        F.col("_sv").cast("double").alias("sum_value"),
        "min_value", "max_value",
    )


def q_order_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical exchange-order JSON serialization (models.rs:101-189):
    structured orders synthesized deterministically from events are
    serialized with the reference's version-dependent field set, 0x-hex
    eip712 signature and priceMode decode; the oracle builds the identical
    byte strings.  Covers all four version shapes, empty/missing assets,
    empty proofs, and the matcherFee default in one oracle-hashed query."""
    from ..functions.orders import canonical_order_json

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    ts_ms = (F.floor(F.unix_timestamp(F.col("ts"))) * 1000).cast("long")
    o = F.struct(
        F.concat(F.lit("ord-"), F.col("event_id").cast("string")).alias("id"),
        (F.col("event_id") % 4 + 1).cast("int").alias("version"),
        F.concat(F.lit("3P"), (F.col("user_id") % 100).cast("string")).alias("sender"),
        F.concat(F.lit("PK"), (F.col("user_id") % 7).cast("string")).alias("sender_public_key"),
        F.lit("MPK").alias("matcher_public_key"),
        F.col("event_type").alias("amount_asset_id"),
        F.when(F.col("user_id") % 2 == 0, F.lit("")).otherwise(F.lit("USD")).alias("price_asset_id"),
        (F.col("event_id") % 2).cast("int").alias("order_side"),
        (F.col("event_id") % 1000 + 1).cast("long").alias("amount"),
        F.floor(F.col("value") * 100).cast("long").alias("price"),
        ts_ms.alias("timestamp"),
        (ts_ms + 86400000).cast("long").alias("expiration"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("long"))
        .otherwise((F.col("event_id") % 10000).cast("long")).alias("matcher_fee"),
        F.when(F.col("event_id") % 3 == 0, F.lit("FEE1")).otherwise(F.lit("")).alias("matcher_fee_asset_id"),
        F.when(F.col("event_id") % 7 == 0, F.array().cast("array<string>"))
        .otherwise(F.array(F.concat(F.lit("sig-"), F.col("event_id").cast("string")), F.lit("p2")))
        .alias("proofs"),
        F.when(
            F.col("event_id") % 2 == 1,
            F.base64(F.encode(F.concat(F.lit("es"), F.col("event_id").cast("string")), "utf-8")),
        ).alias("eip712_signature"),
        (F.col("event_id") % 3).cast("int").alias("price_mode"),
    )
    return ev.select(
        F.col("event_id").alias("order_id"),
        canonical_order_json(o).alias("order_json"),
    )


def q_json_field_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 jsonb ``->>`` surface (order-doc indexes, up.sql:670-676):
    extract a JSON field with the Catalyst built-in get_json_object (no UDF)
    and aggregate on it — the reference's "filter/index on a field inside a
    JSON document" workload."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select(k.alias("k"), "event_type")
        .groupBy((F.col("k") % 10).alias("k_bucket"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


#: the reference's full-text workload: GIN index over
#: to_tsvector('simple', asset name) on current assets (up.sql:703-705) —
#: i.e. token-level term search over names, modeled as a match-count score.
_SEARCH_TERMS = ("red", "widget", "bolt")


def q_asset_name_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 tsvector analog: tokenize asset names, score by query-term hit
    count, keep matches — pure Catalyst (split + filter + array_contains);
    at scale the filter pushes the scan down to rows whose name contains any
    term before tokenization."""
    part = _t(spark, sf_dir, "part")
    terms = F.array(*[F.lit(t) for t in _SEARCH_TERMS])
    score = F.size(
        F.filter(F.split(F.col("p_name"), " "), lambda t: F.array_contains(terms, t))
    )
    return (
        part.select(
            F.col("p_partkey").cast("long").alias("asset_id"),
            F.col("p_name").alias("asset_name"),
            score.cast("long").alias("match_score"),
        )
        .filter(F.col("match_score") > 0)
    )


def q_latest_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/P1: top-1-by-order scalar per group (waves supply in the assets
    view, up.sql:478-481)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_type", F.col("value").alias("latest_value"),
                F.col("event_id").alias("latest_event_id"))
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy."""
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents", fanout=False))


def q_dedup_tokenset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup on sorted-distinct-token fingerprints."""
    return dedup.tokenset_duplicates(_t(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (12 hashes, 4 bands, 3-token shingles)."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=12, shingle_size=3)
    return dedup.lsh_candidate_pairs(sigs, num_hashes=12, bands=4)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-vs-index dedup: the 20% of documents with doc_id % 10 >= 8
    arrive as a new batch and LSH-match against the other 80% (the
    already-ingested index); best index match per incoming doc by MinHash
    signature agreement (>= 50)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.incremental_lsh_matches(
        docs.filter(F.col("doc_id") % 10 >= 8),
        docs.filter(F.col("doc_id") % 10 < 8),
        num_hashes=12, shingle_size=3, bands=4, min_agree=0.5,
    )


def q_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate removal applied to the corpus: 3-token spans
    occurring >= 2 times corpus-wide are dropped and each document is
    rebuilt (surviving spans + remainder tokens, original order)."""
    return dedup.boilerplate_scrub(
        _t(spark, sf_dir, "documents"), span_tokens=3, min_count=2
    )


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training-mixture table for a 100k-token budget: source
    inventory -> planned tokens -> hash_sample rate / epoch count."""
    return sampling.mixture_plan(
        _t(spark, sf_dir, "documents", fanout=False), token_budget=100_000
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split keyed on the near-dup CLUSTER id (min member),
    so no near-duplicate pair ever straddles a split boundary; unclustered
    docs keep exactly their dataset_split assignment.  Oracle: recursive-
    CTE connected components + the same md5 hash banding."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=12, shingle_size=3)
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=12, bands=4)
    clusters = dedup.duplicate_clusters(pairs)
    return sampling.leakage_safe_split(
        docs.select("doc_id", "source"), clusters
    ).select("doc_id", "source", "cluster_id", "split")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components (min-label contraction loop)
    over the MinHash-LSH candidate-pair graph; cluster_id = min doc in the
    component.  Oracle: DuckDB recursive CTE (transitive closure + MIN)."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=12, shingle_size=3)
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=12, bands=4)
    return dedup.duplicate_clusters(pairs)


def q_dedup_kept_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup payoff: the corpus after dropping every clustered
    doc except its cluster representative (min-id member) — broadcast
    anti-join of the bounded drop-list against the full corpus."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=12, shingle_size=3)
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=12, bands=4)
    clusters = dedup.duplicate_clusters(pairs)
    return dedup.keep_representatives(docs, clusters).select("doc_id", "source")


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (operators/dedup.py::soft_dedup_weights): downweight
    near-dup cluster members by inverse cluster size instead of dropping
    them — the reweighting alternative to dedup_kept_corpus.  Exact
    integer weights; oracle reuses the recursive-CTE component closure."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=12, shingle_size=3)
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=12, bands=4)
    clusters = dedup.duplicate_clusters(pairs)
    return dedup.soft_dedup_weights(docs.select("doc_id"), clusters).select(
        "doc_id", "cluster_size", "weight_x1000"
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.5 pairs via shingle-postings join.

    Round-11 measured decision (r10 verdict item 3 CHALLENGED and
    rejected on fresh numbers): the AllPairs/PPJoin prefix plan was
    swapped in under this name, proven output-identical (oracle hash at
    sf0.1, pair-set diff at both SFs; OPTIMIZATION_r11.md), and
    A/B'd — the prefix form LOSES at both scales on this corpus (sf1
    interleaved min 44.2 s vs 9.8 s; sf0.1 1.33 vs 1.09).  The verdict's
    71.5 s premise was the stale pre-fan-out/AQE-floor SCALE_CHECK_r10
    row; on round-10 HEAD the full expansion's map-side partial
    aggregation beats the prefix form's candidate-verification tail
    (distinct + two id joins + per-pair array_intersect) because the
    31-word vocabulary makes candidates near-quadratic ANYWAY while the
    t=0.5 prefix keeps ~half of every posting.  So the full form stays;
    the prefix plan remains declared as ngram_jaccard_prefix."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents", fanout=False), shingle_size=3, threshold=0.5
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/quality stats (integer-exact) per document."""
    docs = _t(spark, sf_dir, "documents")
    ratios = T.quality_ratios(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in ratios.items()])


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors (ranks only — float
    scores stay internal; ranking ties broken on neighbor_id)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk(emb, queries, k=10, dim=64)
    return out.select("query_id", "rank", "neighbor_id")


def q_pairs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `pairs` market summary (up.sql:387-402) as a rollup over minute
    candles — the companion API's derived table, reproduced as a view."""
    from .views import pairs_view

    out = pairs_view(minute_candles(_trades(spark, sf_dir)))
    return out.select(
        "amount_asset_id", "price_asset_id", "matcher_address",
        F.col("first_price").cast("double").alias("first_price"),
        F.col("last_price").cast("double").alias("last_price"),
        F.col("volume").cast("long").alias("volume"),
        F.col("quote_volume").cast("double").alias("quote_volume"),
        F.col("high").cast("double").alias("high"),
        F.col("low").cast("double").alias("low"),
        F.col("weighted_average_price").cast("long").alias("weighted_average_price"),
        "txs_count",
    )


def q_candles_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+J7: decimal price scaling via the broadcast decimals dim before the
    minute agg (pg.rs:708-713, get_decimals_or_exception).  Decimals are a
    deterministic function of asset_id so the oracle reproduces the dim."""
    trades = _trades(spark, sf_dir)
    # the decimals dim is a deterministic function of asset_id, so derive it
    # relationally: explode both asset columns, distinct, project the
    # decimals expression — stays a DataFrame end-to-end (no driver collect
    # in the query lineage); scale_prices broadcasts it like any dimension
    decimals = (
        trades.select(
            F.explode(F.array("amount_asset_id", "price_asset_id")).alias("asset_id")
        )
        .distinct()
        .select(
            "asset_id",
            (F.length("asset_id") * 3 % 9).cast("int").alias("decimals"),
        )
        # the dim feeds TWO broadcast lookups (amount + price side); without
        # materialization each consumer re-runs the corpus scan + explode +
        # distinct, making the query scan the corpus 3x.  Asset-count-sized
        # frame -> localCheckpoint (house diamond pattern) caps it at 2 scans,
        # matching the reference's single decimals lookup (pg.rs:708-713).
        .localCheckpoint(eager=False)
    )
    scaled = scale_prices(trades, decimals)
    return _candles_final(minute_candles(scaled), with_interval=False)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (60-bit) locality fingerprints, pure Catalyst bit votes."""
    return dedup.simhash64(_t(spark, sf_dir, "documents"))


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at cosine >= 0.4 via the distributed
    block-grid kernel (no driver collect, no corpus broadcast; bit-identical
    scores to the Catalyst fold — see embedding_neardup_pairs_grid)."""
    return dedup.embedding_neardup_pairs_grid(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (4 bits, multi-probe own+1-bit-flip
    buckets) — the scale path next to ann_bruteforce."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.lsh_topk(emb, queries, k=10, bits=4, dim=64, seed=42)
    return out.select("query_id", "rank", "neighbor_id")


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN (16 deterministic centroids, probe 4 nearest cells)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4)
    return out.select("query_id", "rank", "neighbor_id")


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed per-label embedding centroids: posexplode -> groupBy
    (label, dim) — the scale pattern for vector aggregation (each dimension
    sums independently; one shuffle keyed on (label, pos)).  Values are
    quantized to 2^-20 BEFORE summing so the aggregation is exact integer
    math — order-insensitive, hence engine-independent (a float sum across
    a shuffle is not)."""
    emb = _t(spark, sf_dir, "embeddings", fanout=False)
    pos = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "label",
        "pos",
        F.floor(F.col("val").cast("double") * 1048576.0).cast("long").alias("q"),
    )
    out = pos.groupBy("label", "pos").agg(
        F.sum("q").alias("_s"), F.count(F.lit(1)).alias("n_vectors")
    )
    return out.select(
        "label",
        "pos",
        F.floor(F.col("_s").cast("double") / F.col("n_vectors").cast("double"))
        .cast("long").alias("centroid_q"),
        "n_vectors",
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID with deterministic argmax tie-break."""
    docs = _t(spark, sf_dir, "documents")
    pred, score = T.language_id(F.col("text"))
    return docs.select(
        "doc_id", pred.alias("lang_pred"), score.alias("lang_score")
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (polynomial fold)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.rolling_fingerprint(F.col("text")).alias("fingerprint")
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep: docs with doc_id % 20 == 0 play the
    eval set; every other doc reports its most-contaminating benchmark doc
    at 3-gram containment >= 5%.  Benchmark postings broadcast; the corpus
    never self-joins."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return contamination.benchmark_contamination(
        corpus, bench, shingle_size=3, min_containment=0.05
    )


def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document shingle-sharing stats (boilerplate signal): one
    groupBy(shingle) exchange, doc stats from re-exploded posting lists."""
    return contamination.shingle_novelty(
        _t(spark, sf_dir, "documents"), shingle_size=3
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document duplicate n-gram ratios (gopher-style repetition
    signals), integer-exact, pure per-row Catalyst — zero shuffles."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())

    def dup_x100(n: int) -> F.Column:
        # distinctness only needs gram IDENTITY — hashed keys skip the
        # per-position gram-string builds (accepted 2^-64 collision family)
        sh = T.hashed_token_shingles(F.col("text"), n)
        total = F.size(sh)
        distinct = F.size(F.array_distinct(sh))
        return F.floor(
            (total - distinct).cast("double") * 100.0 / total.cast("double")
        ).cast("long")

    return docs.select(
        "doc_id",
        dup_x100(2).alias("dup_2gram_x100"),
        dup_x100(3).alias("dup_3gram_x100"),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact over the corpus: per-doc match counts and the
    md5 of the redacted text (hash-checks the full rewrite, not just the
    counts).  Codegen regex — no Python in the scan."""
    docs = _t(spark, sf_dir, "documents")
    counts = PII.pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        F.md5(PII.redact_pii(F.col("text"))).alias("redacted_md5"),
    )


def q_corpus_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus cardinalities: docs, distinct contents (md5),
    distinct tokens, total tokens.  Exercises Spark's multi-distinct
    aggregation (Expand-based: one pass, per-distinct-column duplication)
    — the exact counterpart of the sketch you switch to at 100 TB when
    ~5% suffices: the in-repo hash-checkable HLL (q_hll_cardinality /
    operators/stats.py::hll_cardinality), or approx_count_distinct when
    cross-engine determinism doesn't matter."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "lang", F.md5("text").alias("digest"), "doc_id",
        F.explode(T.tokens(F.col("text"))).alias("tok"),
    )
    return toks.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("digest").alias("n_distinct_contents"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


#: documents → opaque-binary media rows (multimodal plumbing over testdata):
#: payload = utf-8 text bytes, kind cycles image/audio/video by doc_id.
def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents", fanout=False)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.col("doc_id") % 640 + 16).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 16).cast("int").alias("height"),
        (F.col("doc_id") % 4000 + 500).cast("long").alias("duration_ms"),
    )


def q_media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas image decode/feature stage (stub codec, real plumbing;
    the REAL-decode variant is q_media_image_real)."""
    return multimodal.image_features(_media(spark, sf_dir))


def q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas audio decode/feature stage (stub codec, real plumbing;
    the REAL-decode variant is q_media_audio_real);
    mfcc coefficients flattened to scalar columns for the hash compare."""
    out = multimodal.audio_features(_media(spark, sf_dir), n_mfcc=4)
    return out.select(
        "media_id", "duration_ms", "n_bytes", "rms",
        *[F.col("mfcc")[k].alias(f"mfcc_{k}") for k in range(4)],
    )


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas video frame sampling (1 row per sampled frame)."""
    out = multimodal.sample_frames(_media(spark, sf_dir), every_ms=1000)
    return out.select("media_id", "frame_index", "frame_ts_ms")


#: REAL-codec media path (round-3 verdict item 3): payloads are genuine PNG
#: and WAV bytes synthesized deterministically per doc_id, and the features
#: come out of the stdlib DECODERS (zlib inflate + scanline unfilter / wave
#: PCM parse) — not the FNV stub.  Metadata columns are NULL on purpose:
#: width/height/duration can only come from actually decoding the payload.
def _media_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents", fanout=False).select("doc_id")

    def gen(batches):
        import numpy as np
        import pandas as pd

        from ..operators.multimodal import (
            encode_png_stdlib, encode_wav_stdlib,
        )

        for pdf in batches:
            out = {
                "media_id": [], "kind": [], "payload": [], "mime": [],
                "width": [], "height": [], "duration_ms": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 2 == 0:
                    w, h = did % 13 + 4, did % 11 + 4
                    px = bytes((did + i) % 256 for i in range(w * h))
                    out["payload"].append(encode_png_stdlib(w, h, px))
                    out["kind"].append("image")
                    out["mime"].append("image/png")
                else:
                    n = did % 400 + 100
                    s = (did * 7 + np.arange(n, dtype=np.int64)) % 2001 - 1000
                    out["payload"].append(encode_wav_stdlib(s, rate=8000))
                    out["kind"].append("audio")
                    out["mime"].append("audio/wav")
                out["media_id"].append(did)
                out["width"].append(None)
                out["height"].append(None)
                out["duration_ms"].append(None)
            yield pd.DataFrame(out)

    return docs.mapInPandas(gen, multimodal.MEDIA_SCHEMA)


def q_media_image_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image_features over REAL PNG payloads with the stdlib decoder in the
    codec seam: width/height/mean come from IHDR + inflated scanlines.  The
    oracle recomputes the same features analytically from the pixel rule
    (pixel[i] = (doc_id + i) % 256), so a green row certifies the decode."""
    out = multimodal.image_features(
        _media_real(spark, sf_dir), codec=multimodal.decode_png_stdlib
    )
    return out.select("media_id", "width", "height", "mean_intensity")


def q_media_audio_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """audio_features over REAL 16-bit PCM WAV payloads with the stdlib
    decoder: duration from the frame count, rms from the decoded samples.
    Sample rule s_k = (doc_id*7 + k) % 2001 - 1000 keeps every float64
    partial sum exactly representable (|s| <= 1000, n <= 500 => sum of
    s^2/2^30 terms carries < 2^53 numerator), so spark/duckdb rms agree
    bit-for-bit regardless of summation order."""
    out = multimodal.audio_features(
        _media_real(spark, sf_dir), codec=multimodal.decode_wav_stdlib
    )
    return out.select("media_id", "duration_ms", "rms")


def q_rollback_scd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3+A6: rollback to a boundary block + SCD chain reopen
    (mod.rs:794-858).  The reopen repair (lowest deleted uid per key regains
    MAX_UID) falls out of re-deriving superseded_by from survivors; the
    boundary is a deterministic function of the data so the oracle agrees."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("asset_id"),
        F.col("event_id").cast("long").alias("uid"),
        F.floor(F.col("event_id") / 10).cast("long").alias("block_uid"),
    )
    max_id = ev.agg(F.max("uid")).collect()[0][0]
    boundary = (int(max_id) // 10) * 7 // 10
    return rollback_scd(ev, boundary).select(
        "asset_id", "uid", "block_uid", "superseded_by"
    )


def q_rollback_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 candle repair (pg.rs:817-838 via mod.rs:794-863): rolling back to
    a boundary block uid deletes the trade tail, and candles are re-derived
    ONLY from the first affected minute — ``min(time_stamp)`` of the
    deleted trades, minute-truncated (the watermark ``apply_rollback``
    returns) — while every minute below the watermark keeps its
    pre-rollback candle row untouched.

    The returned plan is literally that patch: pre-rollback candles
    filtered to ``< watermark`` UNION a recompute of survivors ``>=
    watermark`` (two scans by design — the first stands in for the
    STORED candles table the pipeline reads, streaming/pipeline.py:219).
    The oracle is the one-shot recompute over survivors, so the hash check
    certifies the A4 watermark invariant: patch == full recompute.
    Boundary is the same deterministic function of the data as
    ``rollback_scd`` (block_uid = uid DIV 10; boundary = 70% of max)."""
    trades = _trades(spark, sf_dir)
    max_id = trades.agg(F.max("uid")).collect()[0][0]
    boundary = (int(max_id) // 10) * 7 // 10
    blk = F.expr("uid DIV 10")
    wm = (
        trades.filter(blk > boundary)
        .agg(F.date_trunc("minute", F.min("time_stamp")).alias("m"))
        .collect()[0]["m"]
    )
    old = minute_candles(trades, fixedpoint_frac=2)
    survivors = trades.filter(blk <= boundary)
    if wm is None:  # nothing deleted: patch is a no-op
        patched = old
    else:
        redo = minute_candles(
            survivors.filter(
                F.date_trunc("minute", F.col("time_stamp")) >= F.lit(wm)
            ),
            fixedpoint_frac=2,
        )
        patched = old.filter(F.col("time_start") < F.lit(wm)).unionByName(
            redo
        )
    return _candles_final(patched, with_interval=False)


#: events → blocks_microblocks-shaped ledger: 30% of rows are "microblocks"
#: (NULL time_stamp), ids are synthetic.
def _blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("long").alias("uid"),
        F.concat(F.lit("b"), F.col("event_id").cast("string")).alias("id"),
        F.when(F.col("event_id") % 10 < 7, F.col("ts")).alias("time_stamp"),
    )


def q_squash_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (blocks side): fold the pending microblock tail into the last key
    block — tail rows vanish, the key block takes the last total-block id
    (mod.rs:769-792, pg.rs:151-166)."""
    new_blocks, _ = squash_microblocks(_blocks(spark, sf_dir))
    return new_blocks.select(
        "uid", "id", F.col("time_stamp").cast("string").alias("time_stamp")
    )


def q_squash_repoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (txs side): re-point block_uid references from squashed microblocks
    to the surviving key block (pg.rs:216-223, 315-322, 383-390)."""
    blocks = _blocks(spark, sf_dir)
    txs = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("tx_uid"),
        F.col("event_id").cast("long").alias("block_uid"),  # 1 tx per block
    )
    _, tables = squash_microblocks(blocks, {"txs": txs})
    return tables["txs"].select("tx_uid", "block_uid")


def q_asof_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join: each 'trade' event picks the most recent
    'quote' event of the same user at or before its timestamp — the lookup
    the reference's rates/pairs consumers answer against candle history.
    Spark shape: union-tag + one window (operators/temporal.py::asof_join);
    oracle: DuckDB's native ASOF LEFT JOIN."""
    ev = _t(spark, sf_dir, "events")
    trades = ev.filter(F.col("event_id") % 5 == 0).select("event_id", "user_id", "ts")
    quotes = ev.filter(F.col("event_id") % 5 != 0).select(
        "user_id",
        "ts",
        F.col("event_id").alias("quote_event_id"),
        F.col("value").alias("quote_value"),
    )
    out = temporal.asof_join(
        trades, quotes, on="user_id", value_cols=["quote_event_id", "quote_value"]
    )
    return out.select(
        "event_id", "user_id", F.col("ts").cast("string").alias("ts"),
        "quote_event_id", "quote_value",
    )


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization (6h) per user via Spark's native session_window —
    the batch twin of the streaming stateful session agg."""
    out = temporal.sessionize(_t(spark, sf_dir, "events"), gap="6 hours")
    return out.select(
        "user_id",
        F.col("session_start").cast("string").alias("session_start"),
        F.col("session_end").cast("string").alias("session_end"),
        "n_events", "first_event_id", "last_event_id",
    )


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (each event's value holds until
    the next event) — integer-exact weighted mean, one lead window + agg."""
    return temporal.twap(_t(spark, sf_dir, "events"))


def q_session_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (point-in-interval): attribute each 'trade' event to the
    6h activity session (built from the user's other events) containing it.
    Spark shape: bucketized equi-join + exact range filter
    (operators/temporal.py::range_join) — no nested-loop; oracle: DuckDB
    inequality join."""
    ev = _t(spark, sf_dir, "events")
    trades = ev.filter(F.col("event_id") % 5 == 0).select("event_id", "user_id", "ts")
    sessions = temporal.sessionize(
        ev.filter(F.col("event_id") % 5 != 0), gap="6 hours"
    ).select("user_id", "session_start", "session_end", "n_events")
    out = temporal.range_join(
        trades,
        sessions,
        on="user_id",
        point_time="ts",
        start_col="session_start",
        end_col="session_end",
        bucket_seconds=6 * 3600,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts"),
        F.col("session_start").cast("string").alias("session_start"),
        "n_events",
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length distribution: exact rank-pick order
    statistics (p25/p50/p75/p95) — engine-independent, unlike approximate
    or interpolating quantiles.  One exchange (window + agg share the
    source partitioning)."""
    return stats.order_statistics(
        _t(spark, sf_dir, "documents", fanout=False),
        group_col="source",
        value_col="n_chars",
        order_tiebreak="doc_id",
    )


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-15 bigram frequencies — the LM-corpus vocabulary
    pass.  Explode + map-side-combined count, then a window over only the
    distinct vocabulary (operators/stats.py::ngram_topk)."""
    return stats.ngram_topk(
        _t(spark, sf_dir, "documents"), text_col="text", group_col="lang", n=2, k=15
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source quota sample (20 docs/stratum by content-hash
    order) — reproducible corpus subsampling, no RNG state."""
    out = sampling.stratified_quota(
        _t(spark, sf_dir, "documents", fanout=False), stratum_col="source", n_per_stratum=20
    )
    return out.select("doc_id", "source")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted without-replacement top-100 (priority
    sampling, weight = n_chars; operators/sampling.py::weighted_sample) —
    inclusion probability scales with document length, yet the draw is a
    pure function of (doc_id, n_chars).  Global top-n plans as
    TakeOrdered: per-partition heap + single-reduce merge, no sort
    shuffle."""
    docs = _t(spark, sf_dir, "documents", fanout=False).select(
        "doc_id", "source", "n_chars"
    )
    return sampling.weighted_sample(docs, "n_chars", n=100)


def q_weighted_sample_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted quota (10 docs/stratum by weighted priority) —
    the stratified leg of :func:`q_weighted_sample`; one window shuffle on
    the stratum key."""
    docs = _t(spark, sf_dir, "documents", fanout=False).select(
        "doc_id", "source", "n_chars"
    )
    return sampling.weighted_sample(
        docs, "n_chars", n=10, stratum_col="source"
    )


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical curation pipeline: quality gates (token bounds, mean
    token length, repetition floor) then a deterministic 50% hash sample —
    filter-only plan, every decision integer-exact and engine-independent."""
    docs = _t(spark, sf_dir, "documents", fanout=False)
    kept = sampling.curate(
        docs,
        min_tokens=20,
        max_tokens=5000,
        min_mean_token_len_x100=400,
        max_mean_token_len_x100=500,
        min_repetition_x100=35,
    )
    out = sampling.hash_sample(kept, rate=0.5)
    return out.select(
        "doc_id", "lang", "n_tokens", "mean_token_len_x100", "repetition_x100"
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: each document split into consecutive
    16-token windows — map-only explode, no shuffle (operators.packing)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return packing.doc_chunks(docs, chunk_tokens=16)


def q_doc_chunks_strided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking: 16-token windows every 8 tokens
    (long-context / retrieval layout) — still a map-only explode."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return packing.doc_chunks(docs, chunk_tokens=16, stride=8)


def q_pack_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing (GPT-style): per-language token
    stream cut every 64 tokens; one running-sum window per language."""
    docs = _t(spark, sf_dir, "documents", fanout=False).filter(F.col("text").isNotNull())
    return packing.pack_concat(docs, budget=64)


def q_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit bin packing (documents never split) — the reset-on-overflow
    recurrence is not windowable SQL, so this runs as an applyInPandas scan
    per language stream.  Hash-checked since round 8: the recurrence FOLDS
    per stream, and the oracle replays it via list_reduce with the (bin,
    fill) state as the tail of one plain BIGINT list (see ORACLES); also
    pinned by tests/test_packing.py::test_pack_greedy_matches_reference."""
    docs = _t(spark, sf_dir, "documents", fanout=False).filter(F.col("text").isNotNull())
    return packing.pack_greedy(docs, budget=64)


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (hash-threshold bands over
    md5(doc_id); operators/sampling.py::dataset_split) — map-only, stable
    under re-runs and row additions."""
    return sampling.dataset_split(
        _t(spark, sf_dir, "documents", fanout=False), val_frac=0.1, test_frac=0.1
    ).select("doc_id", "lang", "source", "split")


def q_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 df-normalized terms (exact-integer tf-idf cousin;
    operators/stats.py::salient_terms)."""
    return stats.salient_terms(_t(spark, sf_dir, "documents", fanout=False), top=5)


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution in integer-exact power-of-two buckets per
    language (operators/stats.py::length_histogram)."""
    return stats.length_histogram(_t(spark, sf_dir, "documents", fanout=False))


def q_pack_greedy_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened next-fit packing: streams above the row budget split
    into hash shards that pack independently, shard bin ids offset to stay
    dense per stream (operators/packing.py::pack_greedy_sharded).  The
    small budget forces real multi-shard execution on the test corpus;
    invariants pinned by tests/test_packing.py::
    test_pack_greedy_sharded_skewed_stream_invariants.  Hash-checked since
    round 8: the md5-h31 shard split is cross-engine exact and each
    (stream, shard) replays the same list_reduce fold as pack_greedy."""
    docs = _t(spark, sf_dir, "documents", fanout=False).filter(F.col("text").isNotNull())
    return packing.pack_greedy_sharded(docs, budget=64, max_stream_rows=64)


def q_quality_gate_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-gated curation: each language keeps its top half by token
    count (deterministic percent_rank cut, one window per stream)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    scored = docs.withColumn("n_tokens", T.token_count(F.col("text")).cast("long"))
    kept = packing.quality_percentile_gate(
        scored, keep_frac=0.5, stream_col="lang", score_col="n_tokens"
    )
    return kept.select("doc_id", "lang", "n_tokens")


def q_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build: per-token counts (map-side combined) + dense ids
    by (count desc, token) rank (operators.encoding.build_vocab)."""
    docs = _t(spark, sf_dir, "documents", fanout=False)
    return encoding.build_vocab(docs, min_count=2)


def q_token_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-to-ids encode against the min_count=2 vocabulary; tail
    tokens encode as the OOV id (-1) (operators.encoding.encode_docs).

    Gate note: the external driver canonicalizes results through a pandas
    multi-column sort, which hash-factorizes every cell — raw ArrayType
    columns crash it (round-6 `err`).  The operator API still returns the
    array; this registered query serializes it to a deterministic
    comma-joined string, mirrored by array_to_string in the oracle.
    """
    docs = _t(spark, sf_dir, "documents")
    vocab = encoding.build_vocab(docs, min_count=2)
    return encoding.encode_docs(docs, vocab).withColumn(
        "token_ids", _arr_str(F.col("token_ids"))
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy quality score (gibberish/boilerplate
    detector) — fully in-row, no explode, no shuffle
    (functions.text.char_entropy_x1000)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return docs.select(
        "doc_id", T.char_entropy_x1000(F.col("text")).alias("entropy_x1000")
    )


def q_split_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage: train docs sharing shingles with the val/test
    holdout of the SAME hash-band split as `dataset_split`
    (operators/contamination.py::split_decontamination).  The holdout side
    collapses to a distinct shingle set before the join — no fan-out, no
    broadcast assumption (a 100 TB holdout is itself huge)."""
    return contamination.split_decontamination(
        _t(spark, sf_dir, "documents", fanout=False), val_frac=0.1, test_frac=0.1
    )


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation in one pass: ROLLUP(event_type, day) with a
    grouping_id disambiguating the levels (§2.7 set-op family widened to
    grouping sets — Expand feeds ONE hash-agg, vs 3 scans + UNION).
    Money-style sums in exact decimal, cast to double only at the edge."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.withColumn("day", F.to_date(F.date_trunc("day", F.col("ts"))))
        .rollup("event_type", "day")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_sv"),
        )
    )
    return out.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "gid",
        "n_events",
        F.col("_sv").cast("double").alias("sum_value"),
    )


def q_top_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (row_number window PARTITIONED by source — the
    bounded-output ranking pattern; contrast with `top_orders`' global
    top-k).  Partitioned window => parallel by group, no single-partition
    sort; ties broken by doc_id for determinism."""
    docs = _t(spark, sf_dir, "documents", fanout=False)
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        docs.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 10)
        .select("source", "doc_id", "n_chars", "rnk")
    )


def q_sliding_window_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (10 min width, 5 min slide) — the hopping
    aggregation Structured Streaming runs under a watermark, in batch form.
    F.window's slide expansion is a map-side explode (each event lands in
    exactly width/slide = 2 windows) followed by one hash-agg."""
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy(
        F.window(F.col("ts"), "10 minutes", "5 minutes").alias("w"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("_sv"),
    )
    return out.select(
        F.col("w.start").cast("string").alias("window_start"),
        "event_type",
        "n_events",
        F.col("_sv").cast("double").alias("sum_value"),
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric max-abs int8 quantization of every embedding
    (functions/vectors.py::quantize_int8) — map-only, pure Catalyst, zero
    shuffle; the full quantized vector is emitted so the oracle certifies
    every element, not a summary."""
    from ..functions import vectors as V

    emb = _t(spark, sf_dir, "embeddings")
    # materialize q_vec as a column FIRST: inlining the quantize fold into
    # the three consumers would evaluate it 3x per row (HOFs don't CSE) —
    # measured 2.8 s -> ~1 s at sf0.1
    with_q = emb.select(
        "vec_id",
        F.size("embedding").cast("int").alias("n_dims"),
        V.quantize_int8(F.col("embedding")).alias("q_vec"),
    )
    return with_q.select(
        "vec_id",
        "n_dims",
        # serialized for the driver gate's pandas canonicalizer (_arr_str);
        # the quantize operator itself still yields the int array
        _arr_str(F.col("q_vec")).alias("q_vec"),
        F.aggregate(
            F.col("q_vec"),
            F.lit(0).cast("long"),
            lambda acc, v: acc + F.abs(v).cast("long"),
        ).alias("q_l1"),
        F.aggregate(
            F.col("q_vec"),
            F.lit(0).cast("long"),
            lambda acc, v: acc + (v.cast("long") * v.cast("long")),
        ).alias("q_l2sq"),
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality score per document (integer-quantized surprisal;
    operators/stats.py::unigram_logprob) — the perplexity-style noise
    filter.  Two wide exchanges at any scale: vocab counts + per-doc fold;
    the model side broadcasts."""
    return stats.unigram_logprob(_t(spark, sf_dir, "documents", fanout=False))


def q_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-subquery decorrelated to a LEFT SEMI join (§2.2 widened):
    orders counted per priority when at least one returned lineitem
    (l_returnflag = 'R') exists — the TPC-H Q4 pattern.  The semi join
    short-circuits per probe row (no fan-out on multi-match keys) and the
    filter pushes to the lineitem scan."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(
            li.select(F.col("l_orderkey").alias("o_orderkey")),
            "o_orderkey",
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs at cosine >= 0.4: nearest-
    centroid cluster bucketing (map-only assignment, exchange-reused on
    both self-join branches), then cosine only WITHIN a cluster
    (operators/similarity.py::semantic_dedup_pairs)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup_pairs(
        emb, q_label_centroids(spark, sf_dir), threshold=0.4
    )


def q_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality summary per assigned centroid: majority true label,
    its share (purity_x100, integer-exact), and cluster size — the
    one-look health check of the embedding clustering (pure aggregation
    over the map-only assignment; ties break to the smallest label)."""
    assigned = q_centroid_assign(spark, sf_dir)
    per = assigned.groupBy("assigned_label", "label").agg(
        F.count(F.lit(1)).alias("_n")
    )
    best = per.groupBy("assigned_label").agg(
        F.max(
            F.struct(F.col("_n"), (-F.col("label")).alias("_nl"))
        ).alias("_b"),
        F.sum("_n").alias("n_vectors"),
    )
    return best.select(
        "assigned_label",
        (-F.col("_b._nl")).cast("int").alias("majority_label"),
        F.col("_b._n").cast("long").alias("n_majority"),
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.floor(
            F.col("_b._n").cast("double") * 100.0
            / F.col("n_vectors").cast("double")
        ).cast("long").alias("purity_x100"),
    )


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-label embedding-norm outliers: quantized-exact squared
    norm (Σ floor(x·2^20)², pure integer) filtered by the generic exact
    median/MAD rule (operators/stats.py::robust_outliers) — catches
    corrupt/degenerate vectors whose magnitude departs from their label's
    population.  Map-only scoring + one label-keyed window exchange."""
    emb = _t(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1048576.0).cast("long"),
    )
    n2q = F.aggregate(q, F.lit(0).cast("long"), lambda acc, v: acc + v * v)
    scored = emb.select("vec_id", "label", n2q.alias("n2q"))
    out = stats.robust_outliers(
        scored, group_col="label", value_col="n2q",
        tiebreak_col="vec_id", k_x100=250,
    )
    return out.select(
        "vec_id", "label", "n2q",
        F.col("_median").cast("long").alias("median_n2q"),
        F.col("_mad").cast("long").alias("mad_n2q"),
    )


def q_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata QA crosscheck: documents whose DECLARED lang column
    disagrees with the stopword-vote prediction (confident predictions
    only — unknowns carry no evidence).  The label-vs-content audit a
    corpus runs before trusting upstream metadata; in-row scoring + one
    filter, zero shuffle."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pred, score = T.language_id(F.col("text"))
    return (
        docs.select(
            "doc_id", "lang", pred.alias("lang_pred"),
            score.alias("lang_score"),
        )
        .filter(
            (F.col("lang_pred") != "unknown")
            & (F.col("lang_pred") != F.col("lang"))
        )
    )


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup (RAG/index hygiene): chunk every doc into
    16-token windows, keep the FIRST occurrence of each distinct chunk
    text (min (doc_id, chunk_idx) — deterministic), and report survivors.
    Map-only chunking + one digest-keyed min_by agg; the duplicate rate is
    visible as kept vs total chunk counts."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    chunks = packing.doc_chunks(docs, chunk_tokens=16)
    kept = (
        chunks.groupBy(F.md5("chunk_text").alias("_dig"))
        .agg(
            F.min(F.struct("doc_id", "chunk_idx")).alias("_first"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    return kept.select(
        F.col("_first.doc_id").alias("doc_id"),
        F.col("_first.chunk_idx").alias("chunk_idx"),
        F.col("_dig").alias("chunk_digest"),
        F.col("n_copies").cast("long").alias("n_copies"),
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix over the MinHash-LSH candidate
    pairs (operators/contamination.py::source_overlap) — which sources
    already contain each other's content."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=12, shingle_size=3)
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=12, bands=4)
    return contamination.source_overlap(pairs, docs)


def q_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly flags per event type (exact integer
    median/MAD, cross-multiplied threshold — no floats;
    operators/stats.py::daily_anomalies)."""
    return stats.daily_anomalies(_t(spark, sf_dir, "events"), k_x100=200)


def q_tfidf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase retrieval: MinHash-LSH candidate pairs reranked by EXACT
    integer tf-idf similarity (operators/encoding.py::tfidf_rerank) — the
    cheap-recall -> exact-precision shape; dot folds in-row via a
    map_from_arrays lookup, no (pair, token) shuffle."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=12, shingle_size=3)
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=12, bands=4)
    vectors = encoding.tfidf_vectorize(docs)
    return encoding.tfidf_rerank(pairs, vectors)


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by the Monday week of
    their FIRST event; cell (cohort, week_n) counts distinct users active
    week_n integer weeks later (exact epoch arithmetic, no calendar
    drift).  One user-keyed agg + one user join (co-partitioned — the
    first-event frame reuses the exchange) + one (cohort, week) agg."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("_first"))
    joined = ev.join(first, "user_id")
    return (
        joined.select(
            "user_id",
            F.date_trunc("week", F.col("_first")).cast("string").alias(
                "cohort_week"
            ),
            F.expr(
                "(unix_timestamp(ts) - unix_timestamp(_first)) div 604800"
            ).cast("int").alias("week_n"),
        )
        .groupBy("cohort_week", "week_n")
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup -> click -> purchase
    (operators/temporal.py::funnel): stage k is the user's earliest
    stage-k event strictly after stage k-1; one user-keyed shuffle, the
    stage chain folds in-row — no self-joins."""
    return temporal.funnel(
        _t(spark, sf_dir, "events"), ["signup", "click", "purchase"]
    )


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram-LM surprisal per document
    (operators/stats.py::bigram_logprob) — catches shuffled/word-salad text
    that unigram scoring cannot see."""
    return stats.bigram_logprob(_t(spark, sf_dir, "documents"))


def q_curated_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone pipeline — the full curation chain a training run consumes,
    composed from the engine's own operators in ONE lazy plan: quality
    gates (filter-only) -> exact-dup drop keyed on the NORMALIZED text
    digest (keep lowest doc_id) -> semantic near-dup drop (cluster-bucketed
    Arrow kernel losers anti-joined out) -> stable hash-band train split.
    Everything integer/digest-exact, so the surviving doc set is
    reproducible on any engine, any partitioning."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    kept = sampling.curate(docs, min_repetition_x100=20)
    dig = kept.withColumn("_dig", F.md5(T.normalize_text(F.col("text"))))
    # keep-lowest-doc_id per digest as ONE min_by aggregation (round 11,
    # guide §2.3/§2.4): the groupBy(min)+left_semi form scanned and
    # normalize+md5'd the corpus TWICE (the two column-pruned scan
    # branches could not share an exchange) and BROADCAST a digest
    # dimension that is corpus-sized — a 100 TB red flag.  doc_id is
    # unique, so min_by(struct, doc_id) picks exactly the row the semi
    # join kept (identical output, oracle green); only the three columns
    # the pipeline still needs cross the digest exchange.
    exact_kept = (
        dig.groupBy("_dig")
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "n_tokens"), F.col("doc_id")
            ).alias("_row")
        )
        .select("_row.doc_id", "_row.lang", "_row.n_tokens")
    )
    losers = (
        similarity.semantic_dedup_pairs(
            _t(spark, sf_dir, "embeddings"),
            q_label_centroids(spark, sf_dir),
            threshold=0.4,
        )
        .select(F.col("vec_id_b").alias("doc_id"))
        .distinct()
    )
    no_sem = exact_kept.join(losers, "doc_id", "left_anti")
    return (
        sampling.dataset_split(no_sem, val_frac=0.1, test_frac=0.1)
        .filter(F.col("split") == "train")
        .select("doc_id", "lang", "n_tokens")
    )


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization (functions/text.py::normalize_text) + the
    md5 a dedup pipeline would key on — in-row, zero shuffle; the length
    delta shows what normalization removed."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    norm = T.normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_digest"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        (F.length("text") - F.length(norm)).cast("long").alias("n_chars_removed"),
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite model-free quality classifier (functions/text.py::
    quality_score): five explainable integer sub-scores -> weighted
    quality_x100 + tier.  Entirely in-row — zero shuffle, scan-bound."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    qs = T.quality_score(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in qs.items()])


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC / backfill-validation diff (operators/scd.py::table_diff): the
    per-key current dimension state at uid <= 5000 vs the full log —
    added / removed / changed keys only, each side reduced to (key, hash)
    before one full-outer join (the minimal-width diff)."""
    from ..operators.scd import table_diff

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("asset_id"),
        F.col("event_id").alias("uid"),
        F.col("event_type"),
        F.col("value"),
    )
    before = current_snapshot(
        ev.filter(F.col("uid") <= 5000), key="asset_id", uid="uid"
    )
    after = current_snapshot(ev, key="asset_id", uid="uid")
    return table_diff(before, after, key="asset_id").select(
        F.col("asset_id").cast("long"), "status"
    )


def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — orphan counts per foreign-key
    relationship via LEFT ANTI joins, unioned into one report (the batch
    data-quality gate a pipeline runs before publishing a snapshot).
    Anti joins broadcast the key-only dimension side where Spark sizes it
    small; each relationship is one join, no row ever widens."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    customer = _t(spark, sf_dir, "customer")

    def orphans(child, ckey, parent, pkey, label):
        return (
            child.select(F.col(ckey).alias(pkey))
            .join(parent.select(pkey), pkey, "left_anti")
            .agg(
                F.lit(label).alias("relationship"),
                F.count(F.lit(1)).alias("n_orphans"),
            )
        )

    return (
        orphans(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders")
        .unionByName(
            orphans(li, "l_partkey", part, "p_partkey", "lineitem->part")
        )
        .unionByName(
            orphans(
                orders, "o_custkey", customer, "c_custkey", "orders->customer"
            )
        )
    )


def q_tfidf_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf document vectors over the distributed two-phase vocab
    (operators/encoding.py::tfidf_vectorize) — integer-exact weights, no
    libm dependence; arrays total-ordered by token_id, serialized to
    strings for the driver gate (_arr_str)."""
    out = encoding.tfidf_vectorize(_t(spark, sf_dir, "documents"))
    return out.withColumn(
        "token_ids", _arr_str(F.col("token_ids"))
    ).withColumn("weights_x1m", _arr_str(F.col("weights_x1m")))


def q_brand_revenue_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand revenue through the skew-salted join rewrite
    (operators/skew.py::salted_join): the probe side salts on a pure
    function of l_linenumber-composited row identity, the part side
    replicates 8x, and the result is ROW-IDENTICAL to the plain join (the
    oracle runs the UNSALTED SQL — equality IS the correctness claim).
    Exact fixed-point money math, double only at the edge."""
    from ..operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey",
        "l_extendedprice", "l_discount",
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(
        li.withColumn(
            "_rid",
            F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber"),
        ),
        part.withColumnRenamed("p_partkey", "l_partkey"),
        on="l_partkey",
        salt_from="_rid",
        salts=8,
    )
    # scale-4 fixed-point revenue (see _cents), two-level exact: 25 brand
    # groups, so long partials per (p_brand, scan partition) + decimal
    # merge.  Round-11 A/B: sf1 6.64 -> 3.14 s, sf0.1 1.49 -> 0.96 s,
    # new form won every adjacent pass at both scales
    rev_i = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    partial = joined.groupBy(
        "p_brand", F.spark_partition_id().alias("_pid")
    ).agg(F.sum(rev_i).alias("_ri"), F.count(F.lit(1)).alias("_n"))
    return (
        partial.groupBy("p_brand")
        .agg(
            F.sum("_n").alias("n_items"),
            (F.sum(F.col("_ri").cast("decimal(38,0)")) / 10000).alias("_rev"),
        )
        .select(
            "p_brand", "n_items",
            F.col("_rev").cast("double").alias("revenue"),
        )
    )


def q_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification over the exact quantized label
    centroids (operators/similarity.py::centroid_assign) — zero-shuffle
    scoring: centroids collapse to one broadcast row and the per-vector
    argmax folds IN-ROW over the centroid array (no k-times expansion)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.centroid_assign(emb, q_label_centroids(spark, sf_dir))


def q_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of true label vs nearest-centroid assignment — the
    clustering-quality summary on top of centroid_assign (one tiny
    hash-agg over the map-only scoring stream)."""
    return (
        q_centroid_assign(spark, sf_dir)
        .groupBy("label", "assigned_label")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


# ---------------------------------------------------------------- registry

_DOC_STATS_SQL = """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text,
               ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +', 0)) AS BIGINT)
               AS n_bpe_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_distinct_tokens,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS sum_token_len,
           CAST(floor(CAST(length(replace(text, ' ', '')) * 100 AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE)) AS BIGINT)
               AS mean_token_len_x100,
           CAST(floor(CAST(len(list_distinct(string_split(text, ' '))) * 100 AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE)) AS BIGINT)
               AS repetition_x100
    FROM documents
"""

_SHINGLES_SQL = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pos AS (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
            FROM toks),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
           FROM pos)
"""

#: md5-hex → integer (DuckDB-side), mirroring F.conv(substring(md5, 1, n), 16, 10)
def _hex_int_sql(expr: str, n: int) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {n}), "
        f"i -> CAST(strpos('0123456789abcdef', substr({expr}, i, 1)) - 1 "
        f"AS BIGINT)), (a, b) -> a*16 + b)"
    )


#: mirrors operators.dedup.minhash_signatures: one md5 per shingle → 60-bit
#: int → mod p, then k affine permutations (a_j*x + b_j) mod p with the
#: parameters regenerated from the seed index (minhash_affine_params).
_MINHASH_P = 2147483647

_MINHASH_SQL = f"""
    WITH {_SHINGLES_SQL},
    hv AS (
        SELECT doc_id,
               {_hex_int_sql('md5(shingle)', 15)} % {_MINHASH_P} AS hv
        FROM sh),
    seeded AS (
        SELECT doc_id, unnest(generate_series(0, 11)) AS seed, hv
        FROM hv),
    hashed AS (
        SELECT doc_id, seed,
               (((2654435761 * (seed + 1)) % {_MINHASH_P}) * hv
                + ((40503 * (seed + 7)) % {_MINHASH_P})) % {_MINHASH_P} AS h
        FROM seeded),
    sig AS (SELECT doc_id, seed, min(h) AS minhash
            FROM hashed GROUP BY doc_id, seed),
    banded AS (
        SELECT doc_id, CAST(floor(seed / 3.0) AS INT) AS band,
               md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed))
                   AS bucket
        FROM sig GROUP BY doc_id, CAST(floor(seed / 3.0) AS INT))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""

_JACCARD_SQL = f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    scored AS (
        SELECT id_a, id_b,
               CAST(floor(CAST(n_inter AS DOUBLE) * 100.0
                   / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)) AS BIGINT)
                   AS jaccard_x100
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b)
    SELECT id_a, id_b, jaccard_x100 FROM scored WHERE jaccard_x100 >= 50
"""

_SCALED_C1M_SQL = _C1M_SQL.replace("FROM trades", "FROM scaled")

#: exact 10^e literals for e in [-8, 8] (mirrors operators.candles._POW10):
#: the scaling exponent is pd - ad with Waves decimals 0..8.
_POW10_CASE = "CAST(CASE pd.decimals - ad.decimals " + " ".join(
    f"WHEN {e} THEN {10 ** e if e >= 0 else '0.' + '0' * (-e - 1) + '1'}"
    for e in range(-8, 9)
) + " END AS DECIMAL(17,8))"

_CANDLES_SCALED_SQL = f"""
    WITH trades AS ({_TRADES_SQL}),
    ids AS (SELECT DISTINCT amount_asset_id AS asset_id FROM trades
            UNION SELECT DISTINCT price_asset_id FROM trades),
    decs AS (SELECT asset_id, CAST(length(asset_id) * 3 % 9 AS INT) AS decimals
             FROM ids),
    scaled AS (
        SELECT t.uid, t.time_stamp, t.amount_asset_id, t.price_asset_id,
               t.sender, t.height, t.amount,
               CASE WHEN t.tx_version > 2
                    THEN CAST(CAST(t.price AS DECIMAL(38,10))
                              * {_POW10_CASE} AS DECIMAL(28,10))
                    ELSE CAST(t.price AS DECIMAL(28,10)) END AS price
        FROM trades t
        JOIN decs ad ON t.amount_asset_id = ad.asset_id
        JOIN decs pd ON t.price_asset_id = pd.asset_id),
    c AS ({_SCALED_C1M_SQL})
    SELECT {_CANDLE_OUT} FROM c
"""

_SIMHASH_SQL = f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    h AS (SELECT doc_id, {_hex_int_sql('md5(tok)', 15)} AS h60 FROM toks),
    bits AS (SELECT doc_id, unnest(generate_series(0, 59)) AS bit, h60 FROM h),
    votes AS (SELECT doc_id, bit,
                     sum(CASE WHEN (h60 >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM bits GROUP BY doc_id, bit)
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                         ELSE 0 END) AS BIGINT) AS simhash60
    FROM votes GROUP BY doc_id
"""

_FINGERPRINT_SQL = f"""
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                   t -> {_hex_int_sql('md5(t)', 8)})),
               (acc, h) -> (acc * {T.FP_BASE} + h) % {T.FP_MOD}) AS fingerprint
    FROM documents
"""


def _lang_id_oracle_sql() -> str:
    selects = []
    for lang, words in sorted(T.LANG_PROFILES.items()):
        inlist = ", ".join(f"'{w}'" for w in words)
        selects.append(
            f"SELECT doc_id, '{lang}' AS l, "
            f"CAST(len(list_filter(string_split(text, ' '), "
            f"x -> x IN ({inlist}))) AS BIGINT) AS s FROM documents"
        )
    union = " UNION ALL ".join(selects)
    return f"""
        SELECT doc_id, CASE WHEN s > 0 THEN l ELSE 'unknown' END AS lang_pred,
               s AS lang_score
        FROM (SELECT doc_id, l, s, ROW_NUMBER() OVER
                  (PARTITION BY doc_id ORDER BY s DESC, l DESC) AS rn
              FROM ({union}))
        WHERE rn = 1
    """


def _dot_sql(a: str, b: str) -> str:
    """Fixed-order float64 fold mirroring functions.vectors.dot."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform("
        f"generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(x, y) -> x + y)"
    )


_EMB_NEARDUP_SQL = f"""
    WITH pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(floor(({_dot_sql('a.embedding', 'b.embedding')}
                   / (sqrt({_dot_sql('a.embedding', 'a.embedding')})
                      * sqrt({_dot_sql('b.embedding', 'b.embedding')})))
                   * 1000.0) AS BIGINT) AS cos_x1000
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, cos_x1000 FROM pairs WHERE cos_x1000 >= 400
"""


def _ann_lsh_oracle_sql() -> str:
    planes = similarity._hyperplanes(64, 4, 42)

    def plane_dot(vec: str, plane: list[float]) -> str:
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        return (
            f"list_reduce(list_prepend(0.0, list_transform("
            f"generate_series(1, 64), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({lit})[i])), (x, y) -> x + y)"
        )

    bucket = " + ".join(
        f"(CASE WHEN {plane_dot('embedding', p)} >= 0 THEN {1 << b} ELSE 0 END)"
        for b, p in enumerate(planes)
    )
    return f"""
        WITH bucketed AS (
            SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket
            FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qe, bucket AS qb
              FROM bucketed WHERE vec_id < 5),
        probes AS (SELECT query_id, qe,
                          unnest([qb, xor(qb, 1), xor(qb, 2), xor(qb, 4),
                                  xor(qb, 8)]) AS bucket
                   FROM q),
        cand AS (SELECT p.query_id, p.qe, c.vec_id AS neighbor_id,
                        c.embedding AS ce
                 FROM probes p JOIN bucketed c USING (bucket)),
        scored AS (SELECT query_id, neighbor_id,
                          {_dot_sql('qe', 'ce')}
                          / (sqrt({_dot_sql('qe', 'qe')})
                             * sqrt({_dot_sql('ce', 'ce')})) AS cs
                   FROM cand)
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
        FROM (SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cs DESC, neighbor_id ASC) AS rank
              FROM scored)
        WHERE rank <= 10
    """


def _ann_ivf_sql(cent_cte: str, pre_ctes: str = "", n_probe: int = 4) -> str:
    """IVF oracle parameterized on the codebook CTE: ``cent_cte`` must
    yield (cid, cv); ``pre_ctes`` lets a caller chain codebook-producing
    CTEs (e.g. the unrolled k-means recurrence) ahead of it."""
    return f"""
    WITH {pre_ctes}cent AS ({cent_cte}),
    assigned AS (
        SELECT neighbor_id, cvec, cid FROM (
            SELECT e.vec_id AS neighbor_id, e.embedding AS cvec, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY {_dot_sql('e.embedding', 'c.cv')}
                           / (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                              * sqrt({_dot_sql('c.cv', 'c.cv')})) DESC,
                           c.cid ASC) AS rn
            FROM embeddings e, cent c) WHERE rn = 1),
    probes AS (
        SELECT query_id, qe, cid FROM (
            SELECT q.vec_id AS query_id, q.embedding AS qe, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {_dot_sql('q.embedding', 'c.cv')}
                           / (sqrt({_dot_sql('q.embedding', 'q.embedding')})
                              * sqrt({_dot_sql('c.cv', 'c.cv')})) DESC,
                           c.cid ASC) AS rn
            FROM embeddings q, cent c WHERE q.vec_id < 5) WHERE rn <= {n_probe}),
    cand AS (
        SELECT p.query_id, a.neighbor_id,
               {_dot_sql('p.qe', 'a.cvec')}
               / (sqrt({_dot_sql('p.qe', 'p.qe')})
                  * sqrt({_dot_sql('a.cvec', 'a.cvec')})) AS cs
        FROM probes p JOIN assigned a USING (cid))
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
    FROM (SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cs DESC, neighbor_id ASC) AS rank
          FROM cand)
    WHERE rank <= 10
"""


#: recursive connected-components closure over a ``pairs`` CTE (id_a, id_b):
#: symmetric edges -> transitive reachability -> MIN-label clusters.  ONE
#: definition shared by every cluster-consuming oracle (dedup_clusters,
#: dedup_kept_corpus, leakage_safe_split, soft_dedup_weights) so a closure
#: change can never silently diverge one of them.
_CC_REACH_SQL = """nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r)"""

_CC_CLUSTERS_SQL = _CC_REACH_SQL + """,
        clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id
                     FROM reach GROUP BY id)"""


_ANN_IVF_SQL = _ann_ivf_sql(
    "SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16"
)


#: FNV-1a-style 63-bit rolling hash over utf-8 text bytes (ASCII inputs ⇒
#: codepoint == byte), mirroring multimodal._fake_u64 exactly.
def _fnv_sql(salt: int) -> str:
    init = 1469598103934665603 ^ salt
    return (
        f"list_reduce(list_prepend(CAST({init} AS BIGINT), "
        f"list_transform(generate_series(1, length(text)), "
        f"i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))), "
        f"(a, b) -> CAST((CAST(xor(a, b) AS HUGEINT) * 1099511628211) "
        f"% CAST(9223372036854775808 AS HUGEINT) AS BIGINT))"
    )


_MEDIA_IMAGE_SQL = f"""
    SELECT doc_id AS media_id,
           CAST(doc_id % 640 + 16 AS INT) AS width,
           CAST(doc_id % 480 + 16 AS INT) AS height,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(CAST(({_fnv_sql(1)} % 256000) AS DOUBLE) / 1000.0 AS FLOAT)
               AS mean_intensity,
           {_fnv_sql(2)} AS phash64
    FROM documents WHERE doc_id % 3 = 0
"""

# audio stub: h = fnv(salt=4) (63-bit, non-negative, so >> == //);
# rms = (h % 1000)/1000; mfcc_k = ((h >> 8k) % 997)/100  — see
# operators/multimodal.py::audio_features
_MEDIA_AUDIO_SQL = f"""
    WITH h AS (SELECT doc_id, length(text) AS n_bytes, {_fnv_sql(4)} AS h4
               FROM documents WHERE doc_id % 3 = 1)
    SELECT doc_id AS media_id,
           CAST(doc_id % 4000 + 500 AS BIGINT) AS duration_ms,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(CAST((h4 % 1000) AS DOUBLE) / 1000.0 AS FLOAT) AS rms,
           CAST(CAST((h4 % 997) AS DOUBLE) / 100.0 AS FLOAT) AS mfcc_0,
           CAST(CAST(((h4 // 256) % 997) AS DOUBLE) / 100.0 AS FLOAT) AS mfcc_1,
           CAST(CAST(((h4 // 65536) % 997) AS DOUBLE) / 100.0 AS FLOAT) AS mfcc_2,
           CAST(CAST(((h4 // 16777216) % 997) AS DOUBLE) / 100.0 AS FLOAT) AS mfcc_3
    FROM h
"""

_MEDIA_FRAMES_SQL = """
    SELECT doc_id AS media_id, CAST(i AS INT) AS frame_index,
           CAST(i * 1000 AS BIGINT) AS frame_ts_ms
    FROM (SELECT doc_id,
                 unnest(generate_series(0,
                     CAST((doc_id % 4000 + 500 - 1) // 1000 AS INT))) AS i
          FROM documents WHERE doc_id % 3 = 2)
"""

_MEDIA_IMAGE_REAL_SQL = """
    WITH g AS (SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h
               FROM documents WHERE doc_id % 2 = 0)
    SELECT doc_id AS media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
                    i -> (doc_id + i) % 256)) AS DOUBLE) / (w*h) AS FLOAT)
               AS mean_intensity
    FROM g
"""

_MEDIA_AUDIO_REAL_SQL = """
    WITH g AS (SELECT doc_id, doc_id % 400 + 100 AS n
               FROM documents WHERE doc_id % 2 = 1)
    SELECT doc_id AS media_id,
           CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(sqrt(list_sum(list_transform(generate_series(0, n - 1),
                    k -> pow(CAST((doc_id*7 + k) % 2001 - 1000 AS DOUBLE)
                             / 32768.0, 2))) / n)
               AS FLOAT) AS rms
    FROM g
"""

_ROLLBACK_SCD_SQL = f"""
    WITH survivors AS (
        SELECT CAST(user_id AS BIGINT) AS asset_id,
               CAST(event_id AS BIGINT) AS uid,
               CAST(event_id // 10 AS BIGINT) AS block_uid
        FROM events
        WHERE event_id // 10 <=
              (SELECT (max(event_id) // 10) * 7 // 10 FROM events))
    SELECT asset_id, uid, block_uid,
           CAST(COALESCE(LEAD(uid) OVER
               (PARTITION BY asset_id ORDER BY uid), {MAX_UID}) AS BIGINT)
               AS superseded_by
    FROM survivors
"""

_SQUASH_BLOCKS_SQL = """
    WITH blocks AS (
        SELECT CAST(event_id AS BIGINT) AS uid,
               'b' || CAST(event_id AS VARCHAR) AS id,
               CASE WHEN event_id % 10 < 7 THEN ts END AS time_stamp
        FROM events),
    k AS (SELECT max(uid) AS key_uid FROM blocks WHERE time_stamp IS NOT NULL),
    t AS (SELECT max(uid) AS total_uid FROM blocks)
    SELECT b.uid,
           CASE WHEN t.total_uid > k.key_uid AND b.uid = k.key_uid
                THEN 'b' || CAST(t.total_uid AS VARCHAR) ELSE b.id END AS id,
           CAST(b.time_stamp AS VARCHAR) AS time_stamp
    FROM blocks b, k, t
    WHERE b.uid <= k.key_uid
"""

_SQUASH_REPOINT_SQL = """
    WITH k AS (SELECT max(event_id) AS key_uid FROM events
               WHERE event_id % 10 < 7)
    SELECT CAST(event_id AS BIGINT) AS tx_uid,
           CAST(CASE WHEN event_id > k.key_uid THEN k.key_uid
                     ELSE event_id END AS BIGINT) AS block_uid
    FROM events, k
"""

def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training support (operators/bpe.py): top-20 first-
    iteration BPE merge candidates — frequency-weighted adjacent character
    pairs over the corpus word-frequency table.  One corpus scan + two
    vocab-sized shuffles; deterministic (count desc, left, right) order."""
    return bpe.top_merges(_t(spark, sf_dir, "documents"), k=20)


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table, 10 steps (operators/bpe.py::bpe_train).
    Upgraded from rows-only in round 7: every step of the driver-side
    iterative loop is deterministic integer/string work (pair counts,
    (count desc, left, right) argmax, one-pass merge rewrite), so the
    recurrence unrolls to a DuckDB CTE chain exactly like kmeans_train's
    — the whole learned table hash-checks.  Semantics also pinned against
    a pure-Python BPE reference in tests/test_bpe.py."""
    return bpe.bpe_train(_t(spark, sf_dir, "documents", fanout=False), n_merges=10)


def q_bpe_encode_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus segmented with the learned merge table
    (operators/bpe.py::bpe_encode_dict): per document the BPE pieces in
    order, comma-serialized for the gate.  Dictionary form — the merge
    fold runs once per DISTINCT word (vocab-sized), documents reassemble
    by join (17.4 s -> 6.3 s at sf0.1 including the 10-round training;
    row-parity pinned by test_bpe_encode_dict_matches_rowwise).
    Train->encode round-trips, so the oracle reads each word's final
    segmentation straight off the unrolled train chain's last word
    table."""
    docs = _t(spark, sf_dir, "documents")
    # fused train+encode (round-10): one vocab-sized collect feeds the
    # driver merge loop AND the dictionary segmentation — row-identical to
    # bpe_encode_dict(docs, collect(bpe_train(docs))) (test_bpe.py pin)
    out = bpe.bpe_train_encode_dict(docs, n_merges=10)
    return out.select(
        "doc_id",
        F.array_join(F.col("pieces"), ",").alias("pieces"),
        F.size("pieces").cast("long").alias("n_pieces"),
    )


def q_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval primitive (operators/stats.py::score_auc): exact
    tie-aware ROC-AUC of the composite quality score against the
    lang=='en' label — the standard bias probe for curation filters (does
    the 'quality' score just rank English higher?).  One corpus scan, one
    score-domain-bounded shuffle, integer-exact output."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    qs = T.quality_score(F.col("text"))
    scored = docs.select(
        qs["quality_x100"].alias("score"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return stats.score_auc(scored, "score", "is_en")


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-resampling weights (operators/sampling.py::dsir_weights):
    log-likelihood ratio of the lang=='en' seed model over the rest, hashed
    token-bigram features, 10k buckets — the domain-upsampling primitive.
    Model build + scoring reuse one checkpointed rollup; the model side is
    bucket-bounded (a true dimension), so the join always broadcasts."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "_is_en", F.col("lang") == "en"
    )
    return sampling.dsir_weights(docs, "_is_en", n_buckets=10_000)


def q_quality_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point table (operators/stats.py::threshold_sweep): exact
    per-threshold confusion counts + floor-scaled precision/recall of the
    composite quality score against the lang=='en' label — curve form of
    `quality_auc` (pick a filter threshold from actual tradeoffs)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    qs = T.quality_score(F.col("text"))
    scored = docs.select(
        qs["quality_x100"].alias("score"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return stats.threshold_sweep(scored, "score", "is_en")


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means training (operators/clustering.py::kmeans_train):
    k=8, two Lloyd rounds + final assignment over the embeddings table.
    Integer-exact spec (quantized inputs, re-quantized centroids, exact
    floor-div means) makes the whole iteration bit-reproducible in SQL —
    the oracle unrolls the identical recurrence.  Per iteration: one
    map-side assignment scan + one k*dim-row partial-agg shuffle; only
    model state (k*dim ints) ever reaches the driver."""
    emb = _t(spark, sf_dir, "embeddings", fanout=False)
    assigned, cents = clustering.kmeans_train(
        emb, k=8, iters=2, id_col="vec_id", vec_col="embedding"
    )
    dig = spark.createDataFrame(
        [(j, sum(c), sum(abs(v) for v in c)) for j, c in cents],
        "cluster_id int, centroid_sum long, centroid_l1 long",
    )
    return (
        assigned.groupBy(F.col("cluster").cast("int").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_points"))
        .join(F.broadcast(dig), "cluster_id")
        .select("cluster_id", "n_points", "centroid_sum", "centroid_l1")
    )


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-balanced corpus sampling: learn k-means clusters over the
    embeddings (operators/clustering.py), then draw an equal hash-order
    quota from each cluster (operators/sampling.py::stratified_quota) —
    the cluster-balanced selection step of data-curation pipelines (equal
    representation across semantic regions instead of raw frequency).
    Composition of two hash-checked primitives; the oracle chains their
    SQL mirrors."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned, _ = clustering.kmeans_train(
        emb, k=8, iters=2, id_col="vec_id", vec_col="embedding"
    )
    return sampling.stratified_quota(
        assigned, stratum_col="cluster", n_per_stratum=10, key_col="vec_id"
    ).select("vec_id", F.col("cluster").cast("int").alias("cluster_id"))


def q_ann_ivf_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a LEARNED codebook: kmeans_train's integer centroids
    (exact, oracle-reproducible — unlike the MLlib k-means|| path of
    similarity.ivf_fit) become the IVF cells; probe the 3 nearest of 8.
    Centroids hand off as float32 on BOTH sides (the corpus-dtype route
    the assignment kernel takes), so cell scores stay bit-identical to
    the oracle's chained recurrence + float-rounded codebook."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    _, cents = clustering.kmeans_train(
        emb, k=8, iters=2, id_col="vec_id", vec_col="embedding"
    )
    cent = spark.createDataFrame(
        [
            (j, [float(np.float32(v / 1000.0)) for v in c])
            for j, c in cents
        ],
        "cid int, _cent array<float>",
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(emb, queries, k=10, n_probe=3, centroids=cent)
    return out.select("query_id", "rank", "neighbor_id")


def _bf_exact(emb: DataFrame, k: int = 10) -> DataFrame:
    """The exact brute-force top-k ground-truth leg of the recall/MRR
    probes — (query_id, neighbor_id) for the bounded query set
    (vec_id < 5) — MATERIALIZED via an eager localCheckpoint so a probe
    whose approximate leg needs model training first can compute the
    ground truth on a driver thread CONCURRENTLY with that training
    (guide §2.6, round 11: the bf leg depends only on the parquet
    corpus, so sequencing it after the trainings was pure scheduler
    idle time).  Deterministic output (cosine ranks, id tie-break), so
    materializing changes nothing; callers without a training phase
    keep the lazy in-plan leg (AQE already runs it concurrently with
    their approximate leg's stages)."""
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return (
        similarity.brute_force_topk(emb, queries, k=k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )


def _ann_recall(
    emb: DataFrame,
    approx: DataFrame,
    k: int = 10,
    exact: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of an approximate ANN result against the exact
    brute-force top-k (both: (query_id, neighbor_id) for queries
    vec_id < 5).  Join of two bounded per-query rank lists; the
    denominator is the EXACT list's actual size per query (== k on any
    corpus with >= k vectors), so a perfect result always reads 100.
    ``exact`` lets a caller pass the :func:`_bf_exact` ground truth it
    overlapped with its model training."""
    if exact is None:
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = similarity.brute_force_topk(emb, queries, k=k).select(
            "query_id", "neighbor_id"
        )
    approx = approx.select("query_id", F.col("neighbor_id").alias("_n"))
    hit = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["_n"]),
        "left",
    ).select(exact["query_id"], approx["_n"].isNotNull().alias("_hit"))
    return (
        hit.groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("_hit"), 1).otherwise(0))
            .cast("long")
            .alias("hits"),
            F.count(F.lit(1)).alias("_n_exact"),
        )
        .select(
            "query_id",
            "hits",
            F.expr("CAST(hits * 100 DIV _n_exact AS BIGINT)").alias(
                "recall_x100"
            ),
        )
    )


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality metric: recall@10 of the deterministic-codebook IVF
    path against the exact brute-force top-10 — the tuning probe for
    n_centroids/n_probe at scale (run on a sample, read the recall).
    Integer recall_x100."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return _ann_recall(
        emb, similarity.ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4)
    )


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the hyperplane-LSH path vs exact brute force — the
    bits/multi-probe tuning probe, same shape as ann_ivf_recall."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return _ann_recall(
        emb, similarity.lsh_topk(emb, queries, k=10, bits=4, dim=64, seed=42)
    )


def q_kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round k-means inertia (exact integer total within-cluster
    squared distance) — the elbow-method diagnostic for choosing k.
    Tracking rides the training rounds' own shuffles (no extra jobs);
    the oracle reads the same totals off the unrolled recurrence."""
    emb = _t(spark, sf_dir, "embeddings")
    hist: list = []
    clustering.kmeans_train(
        emb, k=8, iters=2, id_col="vec_id", vec_col="embedding",
        history=hist,
    )
    return spark.createDataFrame(
        [(int(h["round"]), int(h["inertia"])) for h in hist],
        "round int, inertia long",
    )


#: PQ model hyperparameters shared by the three pq_* queries and their
#: oracles: m=4 subspaces over the 64-dim embeddings (16 dims each), k=8
#: codewords per subspace, one Lloyd round.
_PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM = 4, 8, 1, 64


def _pq_model(spark: SparkSession, sf_dir: str):
    emb = _t(spark, sf_dir, "embeddings")
    books = pq.pq_train(emb, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
    return emb, books


def _ivfpq_model(spark: SparkSession, sf_dir: str, with_bf: bool = False):
    """PQ codebooks + coarse k-means cells + the bounded query batch for
    the IVF+PQ queries.

    The two trainings and the query-batch collect are INDEPENDENT
    driver-coordinated job chains (each training: quantize scan + seed
    TakeOrdered + one assign/update round); run sequentially their tiny
    per-job floors add up — the dominant cost of these queries at bench
    SF.  Submitting them from driver threads overlaps the chains (guide
    §2.6: Spark happily runs several jobs at once; actions are only
    sequential because driver code calls them sequentially), so the
    later jobs of one chain back-fill the scheduler gaps of the others.
    Results are byte-identical to the sequential calls — all three are
    pure derivations of the parquet inputs (asserted equal in the A/B
    harness).  Interleaved in-session A/B, min-of-3 at sf0.1: ann_ivfpq
    4.60 -> 2.85 s, ann_ivfpq_recall 4.87 -> 2.98 s (two-way overlap);
    the query batch joined the pool in the round-10 session.
    ``with_bf=True`` (round 11) additionally materializes the recall
    probes' brute-force ground truth (:func:`_bf_exact`) on a fourth
    thread — the bf leg needs no trained model, so it too was pure
    idle time after the trainings."""
    from concurrent.futures import ThreadPoolExecutor

    emb = _t(spark, sf_dir, "embeddings")
    with ThreadPoolExecutor(max_workers=4) as pool:
        f_books = pool.submit(
            pq.pq_train, emb, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS
        )
        f_km = pool.submit(clustering.kmeans_train, emb, k=8, iters=1)
        f_q = pool.submit(_pq_query_batch, emb)
        f_bf = pool.submit(_bf_exact, emb) if with_bf else None
        books = f_books.result()
        _, cents = f_km.result()
        queries = f_q.result()
        exact = f_bf.result() if f_bf is not None else None
    if with_bf:
        return emb, books, cents, queries, exact
    return emb, books, cents, queries


def _pq_model_q(spark: SparkSession, sf_dir: str, with_bf: bool = False):
    """PQ codebooks + the bounded query batch, overlapped on two driver
    threads (guide §2.6, same rationale as :func:`_ivfpq_model`): the
    query-batch collect is independent of training, so its job fills the
    training chain's scheduler gaps instead of queueing after it.
    ``with_bf=True``: see :func:`_ivfpq_model`."""
    from concurrent.futures import ThreadPoolExecutor

    emb = _t(spark, sf_dir, "embeddings")
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_books = pool.submit(
            pq.pq_train, emb, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS
        )
        f_q = pool.submit(_pq_query_batch, emb)
        f_bf = pool.submit(_bf_exact, emb) if with_bf else None
        books = f_books.result()
        queries = f_q.result()
        exact = f_bf.result() if f_bf is not None else None
    if with_bf:
        return emb, books, queries, exact
    return emb, books, queries


def _pq_query_batch(emb: DataFrame) -> list[tuple[int, list[int]]]:
    """The bounded query sample (vec_id < 5) quantized driver-side with
    the house x1000 round-half-up rule — ONE definition for every pq_*
    query (quantize_vectors' spec; the collected values already carry
    Spark's float32-to-double rounding)."""
    import math

    return [
        (
            int(r.vec_id),
            [int(math.floor(float(x) * 1000.0 + 0.5)) for x in r.embedding],
        )
        for r in emb.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding")
        .collect()
    ]


def q_pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization training digest (operators/pq.py::pq_train):
    per (subspace, code) the member count plus centroid sum/L1 — the same
    certificate shape as kmeans_train, across all m jointly-trained
    subspaces.  Per round: ONE m-argmin assignment scan + ONE k*dim-row
    shuffle (m separate kmeans runs would scan the corpus m times)."""
    emb, books = _pq_model(spark, sf_dir)
    dig = spark.createDataFrame(
        [
            (s, j, sum(c), sum(abs(v) for v in c))
            for s in books
            for j, c in books[s]
        ],
        "subspace int, code int, centroid_sum long, centroid_l1 long",
    )
    counts = (
        pq.pq_encode(emb, books)
        .select(F.posexplode("codes").alias("subspace", "code"))
        .groupBy(
            F.col("subspace").cast("int").alias("subspace"),
            F.col("code").cast("int").alias("code"),
        )
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    return counts.join(F.broadcast(dig), ["subspace", "code"]).select(
        "subspace", "code", "n_points", "centroid_sum", "centroid_l1"
    )


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector compressed to its m per-subspace codes
    (operators/pq.py::pq_encode) — map-only, the 64x storage reduction
    that makes a 100 TB embedding corpus ADC-scannable.  Codes serialized
    to a comma string for the driver gate (_arr_str)."""
    emb, books = _pq_model(spark, sf_dir)
    return pq.pq_encode(emb, books).select(
        "vec_id", _arr_str(F.col("codes")).alias("codes")
    )


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 per query over the PQ-encoded corpus
    (operators/pq.py::pq_adc_topk): queries vec_id < 5 score every row
    through per-query (m x k) integer LUTs — m lookups per row, no
    reconstruction; exact squared distance to each row's codeword
    reconstruction, ties to the smaller vec_id."""
    emb, books, queries = _pq_model_q(spark, sf_dir)
    enc = pq.pq_encode(emb, books)
    return pq.pq_adc_topk(enc, books, queries, topk=10).select(
        "query_id", "vec_id", "rank", "adc"
    )


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ ANN (operators/pq.py::ivfpq_topk): coarse k-means cells
    prune the corpus to n_probe=3 of 8 buckets per query, then PQ ADC
    scores only those rows — the FAISS-style sub-linear serving
    composition.  Index built in ONE map-only pass (cell + m codes);
    the probe restriction is a broadcast equi-join on cell.  The two
    independent model trainings overlap on driver threads
    (_ivfpq_model, guide §2.6)."""
    emb, books, cents, queries = _ivfpq_model(spark, sf_dir)
    index = pq.ivfpq_index(emb, cents, books)
    return pq.ivfpq_topk(
        index, books, cents, queries, topk=10, n_probe=3
    ).select("query_id", "vec_id", "rank", "adc")


def q_scrub_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus rewritten with cross-document repeated spans removed
    (operators/dedup.py::scrub_repeated_spans — the applied half of
    repeated_spans, certifying every document's rebuilt text)."""
    return dedup.scrub_repeated_spans(
        _t(spark, sf_dir, "documents"), k=3, min_docs=2
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery decorrelation (TPC-H Q17 shape): revenue
    of lineitems whose quantity is below 0.2x their part's average, for
    one brand's small parts.  The correlated ``avg per partkey`` becomes
    a per-part aggregate joined back on the SAME key — both sides shuffle
    on partkey once; the part dim pre-filters via broadcast.  The
    threshold compares EXACTLY in integers: ``l_qty < 0.2 * (sum/cnt)``
    is ``qty_c * cnt * 5 < sum_c`` (qty centi-units; no float division
    anywhere), and revenue sums as decimal, double only at the edge."""
    part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 20))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("_qc"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("_price"),
    )
    sel = li.join(
        F.broadcast(part.withColumnRenamed("p_partkey", "l_partkey")),
        "l_partkey",
    )
    # per-part avg attached via ONE window over the same rows instead of a
    # groupBy + join-back (round 11, guide §2.4): the join form scanned
    # lineitem TWICE (the agg branch exchanges on l_partkey; the probe
    # branch takes the per-part aggregate as a broadcast, so no exchange
    # is shared and the corpus-side scan + broadcast-join runs per
    # branch).  A whole-partition window needs one exchange of only the
    # brand-filtered rows and one scan; same rows, same integer-exact
    # comparison, oracle hash unchanged.
    w = Window.partitionBy("l_partkey")
    small = sel.select(
        "_qc",
        "_price",
        F.sum("_qc").over(w).alias("_sq"),
        F.count(F.lit(1)).over(w).alias("_cnt"),
    ).filter(F.col("_qc") * F.col("_cnt") * F.lit(5) < F.col("_sq"))
    # exact decimal sum; ONE double division at the edge (decimal / 7
    # would round at Spark's result scale and diverge from the oracle)
    return small.agg(
        (F.sum("_price").cast("decimal(38,2)").cast("double") / F.lit(7.0))
        .alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring spans at 3-token granularity
    (operators/dedup.py::repeated_spans — the ExactSubstr dedup leg):
    maximal token runs whose every 3-gram occurs in >= 2 distinct
    documents.  One tokenize scan, gram-keyed DF agg + semi-join on the
    same exchange, gaps-and-islands run merge."""
    return dedup.repeated_spans(
        _t(spark, sf_dir, "documents"), k=3, min_docs=2
    )


def q_difficulty_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum difficulty buckets: per-language thirds of the composite
    quality score (easy/medium/hard for curriculum-ordered training),
    with exact ntile(3)-over-(quality_x100, doc_id) semantics.

    Scale shape: the bucket assignment lives in
    ``operators/stats.py::difficulty_buckets_from_scores`` — tercile cut
    ranks derived on the BOUNDED per-(lang, score) counts frame
    (quality_x100 is integer-bounded 0..100 by construction), broadcast
    back, with only straddling score runs consulting a doc_id rank
    window that is additionally BANDED by a monotone function of doc_id
    (round-10 hardening: even a point-mass score distribution — one
    (lang, score) run = a whole language — never collapses to a single
    sorting task; bands are exact, see the operator docstring).  One
    coalesce plan, not a clean/straddle branch split — a split re-scans
    and re-scores the corpus per branch (the round-4 diamond lesson).
    Net: ONE wide scan, one narrow-row shuffle, zero corpus-keyed skew.
    Oracle-identical to ntile(3): first n%3 buckets get the extra row."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    qs = T.quality_score(F.col("text"))
    # scored feeds THREE consumers (the run-counts agg, the band-counts
    # agg, and the final assignment join) and quality_score's feature
    # extraction is the dominant cost of the whole query (10 s of 20 at
    # sf1, half of it char-entropy) — materialize the 3-narrow-column
    # frame ONCE instead of re-scoring the corpus per consumer (profiled
    # 20.1 -> 11.4 s at sf1; ~24 bytes/doc, far smaller than a second
    # corpus scan at any scale)
    scored = docs.select(
        "doc_id", "lang", qs["quality_x100"].alias("quality_x100")
    ).localCheckpoint(eager=False)
    return stats.difficulty_buckets_from_scores(scored)


def q_ann_pq_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reciprocal-rank probe of the PQ ADC scan: per query the rank
    of the FIRST approximate result that belongs to the exact brute-force
    top-10, as integer rr_x1e6 = 1e6 // rank (0 when no hit) — the
    ranking-quality companion of the recall@k probes (recall counts hits,
    MRR rewards putting them first)."""
    emb, books, queries, exact = _pq_model_q(spark, sf_dir, with_bf=True)
    approx = pq.pq_adc_topk(
        pq.pq_encode(emb, books), books, queries, topk=10
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), "rank")
    qframe = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    first = (
        approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.min("rank").alias("_fr"))
    )
    return (
        qframe.select("query_id")
        .join(first, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("_fr"), F.lit(0)).cast("int").alias(
                "first_hit_rank"
            ),
            F.when(
                F.col("_fr").isNotNull(),
                F.expr("CAST(1000000 DIV _fr AS BIGINT)"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("rr_x1e6"),
        )
    )


def q_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation (multiword-unit) extraction: top-100 adjacent bigrams
    by integer PMI-rank-equivalent lift (operators/stats.py::bigram_lift)
    — one tokenize scan, in-row pair zip, broadcast unigram lookups,
    TakeOrdered top-k."""
    return stats.bigram_lift(
        _t(spark, sf_dir, "documents", fanout=False), min_pair=5, top=100
    )


def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ ADC scan vs the exact brute-force top-10 — the
    m/k distortion-vs-recall tuning probe, same shape as ann_ivf_recall."""
    emb, books, queries, exact = _pq_model_q(spark, sf_dir, with_bf=True)
    approx = pq.pq_adc_topk(
        pq.pq_encode(emb, books), books, queries, topk=10
    ).select("query_id", F.col("vec_id").alias("neighbor_id"))
    return _ann_recall(emb, approx, exact=exact)


def q_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF+PQ path vs the exact brute-force top-10 — the
    end-to-end probe for the composed index (coarse-cell pruning losses +
    PQ distortion together), the number an n_probe/m/k tuning sweep
    reads.  The two independent model trainings overlap on driver
    threads (_ivfpq_model, guide §2.6)."""
    emb, books, cents, queries, exact = _ivfpq_model(
        spark, sf_dir, with_bf=True
    )
    index = pq.ivfpq_index(emb, cents, books)
    approx = pq.ivfpq_topk(
        index, books, cents, queries, topk=10, n_probe=3
    ).select("query_id", F.col("vec_id").alias("neighbor_id"))
    return _ann_recall(emb, approx, exact=exact)


def q_pq_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector PQ distortion (operators/pq.py::pq_reconstruction_error):
    exact integer squared error between each quantized vector and its
    codeword reconstruction — certifies every row of the compression,
    map-only."""
    emb, books = _pq_model(spark, sf_dir)
    return pq.pq_reconstruction_error(emb, books)


#: Ordering note: the external driver's per-round correctness gate compares
#: only the FIRST 50 entries against DuckDB (frozen cap).  Window policy
#: (round-7, after the round-6 lesson where rotating the whole window at
#: once left the entire reference surface without driver signal AND put
#: un-checkable queries in the window):
#:
#: 1. A PERMANENT CORE of reference-surface queries (candles/SCD-2/
#:    rollback/squash/views — the pg.rs:660-815 / mod.rs:583-767 surface)
#:    stays pinned in the window every round.
#: 2. The remaining ~40 slots rotate through queries with the least driver
#:    signal (round 8: the 17 round-7 additions — PQ/IVFPQ family, BPE
#:    train+encode, weighted sampling, bigram_lift, difficulty_buckets,
#:    repeated/scrubbed spans, small_qty_revenue — plus the two
#:    newly-hash-checkable pack_greedy queries, the new rollback_candles,
#:    the 14 reference-surface queries last green in round 5, and six
#:    r6-green refreshers; no query's driver signal should age past ~2
#:    rounds — the rotation schedule lives in COVERAGE.md).
#: 3. ROWS_ONLY_QUERIES (no SQL oracle — the driver can only record
#:    `err: no_oracle` for them) and raw-array-output projections are
#:    NEVER placed in the first 50 (the set is EMPTY since round 8, but
#:    the rule stays for future additions).
#:
#: Rotated-out queries keep full coverage via tools/driver_sim.py (sf0.01,
#: both TZs) and tests/test_catalog_oracle.py (sf0.001), run every round.


def q_pagerank_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (4 iterations, damping 0.85 in micros) over
    the MinHash-LSH near-duplicate graph (operators/graph.py::pagerank):
    rank documents by centrality INSIDE the redundancy neighborhood —
    the canonical-copy / repetition-weight signal.  Oracle = the same
    recurrence unrolled to a DuckDB CTE chain (the bpe_train_merges
    technique); every division is integer, so results hash-match."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=12, shingle_size=3)
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=12, bands=4)
    return graph.pagerank(pairs, iters=4).select(
        F.col("node").cast("long").alias("doc_id"),
        "degree",
        "pagerank_x1e6",
    )


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (functions/text.py::cdc_chunk_spans):
    token-level FastCDC — boundaries where a rolling 3-token polynomial
    hash divides, so an edit shifts ONE chunk instead of every downstream
    fixed-stride chunk.  Map-only, zero shuffle; chunk digests feed
    chunk-level dedup (cdc_dedup)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # STAGED CDC pipeline: each stage lands in a named column before the
    # next consumes it, because cdc_window_hashes / cdc_spans_from_ends
    # reference their input 3x and HOFs don't CSE — the one-expression
    # cdc_chunk_spans form re-runs the per-token md5 ~8x per row
    # (sf1 A/B: 48.8 s -> this form; chunk digests are also built IN-ROW
    # before the explode so no chunk row carries the token array)
    s_tok = docs.select(
        "doc_id", T.tokens(F.col("text")).alias("_t")
    )
    s_th = s_tok.select(
        "doc_id", "_t", T.cdc_token_hashes(F.col("_t")).alias("_th")
    )
    s_z2 = s_th.select(
        "doc_id", "_t", T.cdc_window_hashes(F.col("_th")).alias("_z2")
    )
    s_ends = s_z2.select(
        "doc_id",
        "_t",
        T.cdc_ends(F.col("_z2"), F.size("_t")).alias("_ends"),
    )
    staged = s_ends.select(
        "doc_id",
        "_t",
        T.cdc_spans_from_ends(F.col("_ends")).alias("_sp"),
    )
    chunked = staged.select(
        "doc_id",
        F.transform(
            "_sp",
            lambda s: F.struct(
                s["len"].cast("long").alias("n_tokens"),
                F.md5(
                    F.array_join(
                        F.slice(F.col("_t"), s["start"], s["len"]), " "
                    )
                ).alias("digest"),
            ),
        ).alias("_ch"),
    )
    # posexplode_OUTER, deliberately: InferFiltersFromGenerate adds
    # `size(input) > 0` for inner generators and predicate pushdown then
    # INLINES the whole staged CDC chain into one scan-level monster
    # predicate (~27 md5-chain copies; measured 41 s vs 7 s at sf1).
    # Outer generators are exempt from that inference, and the span list
    # is never empty (every non-null-text doc has >= 1 chunk), so outer
    # and inner explode are row-identical here.
    return chunked.select(
        "doc_id", F.posexplode_outer("_ch").alias("_i", "_c")
    ).select(
        "doc_id",
        (F.col("_i") + 1).cast("long").alias("chunk_idx"),
        F.col("_c.n_tokens").alias("n_tokens"),
        F.col("_c.digest").alias("digest"),
    )


def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup over the CDC chunks: every chunk digest occurring
    more than once, with occurrence/document counts and the keeper
    (smallest doc id).  ONE hash aggregation on the digest — the
    boundary-shift-resistant complement of chunk_dedup's fixed strides."""
    chunks = q_cdc_chunks(spark, sf_dir)
    return (
        chunks.groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .select(
            "digest",
            F.col("n_occurrences").cast("long"),
            F.col("n_docs").cast("long"),
            F.col("keep_doc").cast("long"),
        )
    )


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-bitmap decontamination prefilter
    (operators/contamination.py::bloom_prefilter): the benchmark's shingle
    set folds into a fixed ~8 KB bitmap (eval-suite-size-INDEPENDENT
    broadcast — the 100 TB prefilter before the exact containment join);
    membership is two broadcast joins + bit tests, map-only.  False
    positives are deterministic bit math, identical across engines."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return contamination.bloom_prefilter(corpus, bench, shingle_size=3)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys over two document dimensions
    (operators/layout.py::zorder_key): interleaving (n_chars, doc_id) bits
    gives the single sort key whose range-partitioned layout keeps BOTH
    columns' per-file min/max ranges narrow — the Delta/Iceberg ZORDER BY
    primitive as a pure Catalyst expression.  The query emits the key and
    its 256-way range bucket; map-only, zero shuffle (the consuming
    writer's repartitionByRange pays the layout sort)."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    zk = layout.zorder_key(
        F.col("n_chars") % (1 << layout.ZORDER_BITS),
        F.col("doc_id") % (1 << layout.ZORDER_BITS),
    )
    staged = docs.select("doc_id", zk.alias("zkey"))
    return staged.select(
        "doc_id",
        "zkey",
        F.expr(
            f"zkey div {1 << (2 * layout.ZORDER_BITS - 8)}"
        ).cast("long").alias("z_bucket"),
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters with exact verification
    (operators/stats.py::cms_build/cms_estimate): the corpus token stream
    folds into a fixed 3x512-cell sketch (~12 KB broadcast, vocabulary-
    size-INDEPENDENT — the streaming heavy-hitter summary whose cells
    merge by addition across micro-batches), then the exact top-20 tokens
    are point-estimated against it.  Output carries the exact count, the
    sketch estimate, and the deterministic overcount — the sketch-error
    report, never an under-count.  Both passes are map-side-combined
    bounded aggregations; at scale the sketch rides the same scan as any
    token pass."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
    sketch = stats.cms_build(toks)
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    # unpartitioned window over the VOCABULARY frame only (the
    # rank_vocab / score_auc bounded-domain trade)
    w = Window.orderBy(F.col("exact_count").desc(), F.col("token").asc())
    top = (
        exact.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 20)
        .select("token", "exact_count")
    )
    est = stats.cms_estimate(sketch, top.select("token"))
    return top.join(est, "token").select(
        "token",
        F.col("exact_count").cast("long"),
        F.col("cms_count").cast("long"),
        (F.col("cms_count") - F.col("exact_count")).cast("long").alias(
            "overcount"
        ),
    )


def q_quantile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length percentiles (p25/p50/p75/p95 of n_chars,
    percentile_disc semantics) via the bounded-domain counts trick
    (operators/stats.py::exact_quantiles) — no approxQuantile, no per-group
    sort; the window runs over the distinct-value frame only."""
    docs = _t(spark, sf_dir, "documents", fanout=False)
    return stats.exact_quantiles(docs, "n_chars", ["lang"]).select(
        "lang", "n_rows", "p25", "p50", "p75", "p95"
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS point-in-interval range join via the bounded-fanout bucket
    equi-join (operators/temporal.py::range_join — the same rewrite
    session_attribution drives in keyed form, here gated directly in its
    keyless half-open variant with the fanout cap ENFORCED): per
    "promo window" (days 2-5 of every epoch week present in orders —
    derived from the data, so the interval side is SCALE-INVARIANT,
    ~340 windows over the fixture's 6.5-year axis), how many orders and
    distinct customers landed inside it.  A naive ``ON start <= t AND t
    < end`` plans as a nested-loop/cartesian join — the bucket rewrite
    keeps it an equi join with the range predicate as a post-filter.

    The interval side is scale-invariant BY DESIGN: a keyless range
    join's candidate volume is sum-over-buckets |P_bin| x |I_bin| — with
    BOTH sides growing with the corpus it is inherently quadratic in sf
    regardless of rewrite (the round-10 first cut matched every order to
    every concurrent shipping window: ~162M true pairs at sf0.1, 208 s
    — the rewrite cannot beat the true match count).  Bounded interval
    sets (maintenance/promo/campaign windows) are the keyless range
    join's honest use case; data-scaled interval sets belong in the
    KEYED form (session_attribution)."""
    orders = _t(spark, sf_dir, "orders")
    # integer epoch-week (div, not float floor — exact at any epoch)
    wk = F.expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) div 604800")
    iv = (
        orders.select(wk.alias("wk"))
        .distinct()
        .select(
            "wk",
            F.timestamp_seconds(F.col("wk") * 604_800 + 172_800).alias(
                "start_ts"
            ),
            F.timestamp_seconds(F.col("wk") * 604_800 + 432_000).alias(
                "end_ts"
            ),
        )
    )
    pts = orders.select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").alias("pt_ts")
    )
    joined = temporal.range_join(
        pts, iv, on=None, point_time="pt_ts",
        start_col="start_ts", end_col="end_ts",
        bucket_seconds=86_400, end_exclusive=True,
        max_buckets_per_interval=4,
    )
    return joined.groupBy("wk").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.countDistinct("o_custkey").cast("long").alias("n_custs"),
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-family winnowing fingerprints (right-anchored window-min
    sampling of 3-gram md5 hashes, w=4) reduced per document — map-only
    Arrow kernel, zero shuffles (operators/dedup.py::winnow_fingerprints).
    """
    return dedup.winnow_fingerprints(
        _t(spark, sf_dir, "documents"), k=3, w=4
    )


#: power-iteration rounds for the pca_project catalog query.  The synthetic
#: embeddings are near-isotropic (top-eigenvalue gap ~1.3% at sf0.01), the
#: adversarial case for power iteration (rate (λ2/λ1)^t) — real embedding
#: corpora with a dominant direction converge in <10 rounds; here 64 rounds
#: give >0.95 alignment with the float eigensolver at the test SFs (pinned
#: in tests/test_pca.py).  The oracle unrolls the same 64 rounds; each is a
#: 64-row integer matvec, so the unroll costs the oracle nothing.
PCA_QUERY_ITERS = 64


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (operators/pca.py): exact integer Gram reduce (one
    Arrow map pass + one decimal38 exchange), driver-side integer power
    iteration (bounded 64x64 model state, the kmeans_train pattern), then
    a map-only statically-unrolled projection scan.  Bit-exact replay in
    the oracle's unrolled HUGEINT CTE chain."""
    emb = _t(spark, sf_dir, "embeddings")
    proj, _v = pca.pca_project(
        emb, dims=64, iters=PCA_QUERY_ITERS, keep_cols=["label"]
    )
    return proj.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.col("pc1_proj").cast("long").alias("pc1_proj"),
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation-split OOV rate against the train split's >=5-count
    vocabulary, per language — both splits pre-aggregated before the
    distributed vocab join (operators/stats.py::vocab_coverage)."""
    return stats.vocab_coverage(_t(spark, sf_dir, "documents", fanout=False))




#: the fixed lexical query for the BM25 gate entry — four corpus terms
#: spanning the df spectrum of the synthetic vocabulary
BM25_QUERY_TERMS = ["spark", "vector", "merge", "stream"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 lexical retrieval for a fixed 4-term query
    (operators/encoding.py::bm25_topk) — integer-exact Okapi scoring
    (idf quantized floor(1000*ln(.)), rational tf/length terms as exact
    integer arithmetic), map-only tf/dl via size+array_remove, one 1-row
    stats broadcast, TakeOrdered top-k.  Zero corpus shuffle."""
    return encoding.bm25_topk(
        _t(spark, sf_dir, "documents"), BM25_QUERY_TERMS, k=20
    )


def q_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-3-shingle cardinality through the HLL sketch
    (operators/stats.py::hll_cardinality) next to the exact count — the
    accuracy probe of the third mergeable sketch (Bloom = membership,
    CMS = frequency, HLL = cardinality).  The exact leg exists only as
    ground truth, like the ann_*_recall probes; at 100 TB you deploy the
    sketch alone: one (lang, bucket) hash-agg, <= 512 register rows per
    language cross the shuffle, registers merge by MAX across
    partitions/micro-batches.

    Round-10 session 7: both legs consume ONE shared distinct
    (lang, shingle) aggregation instead of re-running the shingle kernel
    + explode on a second corpus scan each.  Identical output by
    construction — HLL registers are max(rho) per bucket, so duplicates
    never change them, and countDistinct(shingle) == count(shingle) over
    the distinct pairs.  The exact leg's (lang, shingle) exchange already
    existed inside countDistinct's expansion; hoisting it into the shared
    frame lets AQE stage reuse collapse the kernel branch (final plan:
    1 ArrowEvalPython / 1 scan, was 2/2), while the est leg's register
    agg now reads pre-dedup'd pairs through one extra byte-light
    register-row exchange."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sh = docs.select(
        "lang", F.explode(T.token_shingles(F.col("text"))).alias("shingle")
    )
    dist = sh.select("lang", "shingle").distinct()
    est = stats.hll_cardinality(dist, "shingle", ["lang"])
    exact = dist.groupBy("lang").agg(
        F.count("shingle").alias("n_exact")
    )
    return exact.join(est, "lang").select(
        "lang",
        "n_exact",
        "n_registers_set",
        "hll_est",
        F.expr("(abs(hll_est - n_exact) * 10000) div n_exact")
        .cast("long")
        .alias("err_x10000"),
    )


def q_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.5 pairs through the AllPairs/PPJoin
    prefix-filter plan (operators/dedup.py::ngram_jaccard_pairs_prefix):
    only each doc's hash-order prefix enters the posting expansion, and
    candidates verify by in-row array_intersect.  IDENTICAL output to
    q_ngram_jaccard (same oracle).  Round-11 re-measurement: on THIS
    synthetic corpus (31-word vocabulary, t=0.5) the prefix plan loses
    to the full expansion at both local SFs (sf1 interleaved min 44.2 vs
    9.8 s — the round-10 "wins 1.5x at sf1" note predates the fan-out /
    AQE-floor changes that made the full form's partial aggregation
    cheap).  It stays declared as the high-threshold / Zipfian-corpus
    form, where the prefix keeps (1-t)|X|+1 elements and candidate
    volume actually collapses."""
    return dedup.ngram_jaccard_pairs_prefix(
        _t(spark, sf_dir, "documents"), shingle_size=3, threshold=0.5
    )


def q_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator accuracy on its own LSH candidate pairs
    (operators/dedup.py::minhash_jaccard_probe): 12-hash signature-
    agreement estimate vs exact shingle-set Jaccard, with signed error —
    the num_hashes/bands tuning probe of the dedup family (the
    ann_*_recall counterpart on the pair side)."""
    return dedup.minhash_jaccard_probe(
        _t(spark, sf_dir, "documents"),
        num_hashes=12,
        shingle_size=3,
        bands=4,
    )


CATALOG: dict[str, QueryFn] = {
    # ==== ROUND-11 GATE WINDOW (first 50) ================================
    # -- permanent reference-surface core (pinned every round) -----------
    "candles_1m": q_candles_1m,
    "candles_cascade": q_candles_cascade,
    "candles_scaled": q_candles_scaled,
    "scd2_chain": q_scd2_chain,
    "scd2_current": q_scd2_current,
    "assets_view": q_assets_view,
    "rollback_scd": q_rollback_scd,
    "squash_blocks": q_squash_blocks,
    "deterministic_uid": q_deterministic_uid,
    "lookup_join": q_lookup_join,
    # -- kernels changed AFTER the round-10 window rotation (the r10
    #    verdict caveat: the asNondeterministic marking on the entropy /
    #    contamination-argmax kernels landed in the final r10 commit,
    #    after these three had rotated out — their only r10 verification
    #    is in-repo; COVERAGE.md's kernel-changed-outranks-stale rule
    #    puts them at the head of this window) ----------------------------
    "contamination": q_contamination,
    "quality_auc": q_quality_auc,
    "quality_pr_curve": q_quality_pr_curve,
    # -- kernels/plans CHANGED in round 11 (optimization round 2:
    #    ngram_jaccard ships the prefix-filter algorithm under the
    #    declared name; the spans pair path, the TPC-ish decimal shapes,
    #    and the job-floor compositions are this round's targets) ---------
    "ngram_jaccard": q_ngram_jaccard,
    "repeated_spans": q_repeated_spans,
    "scrub_repeated_spans": q_scrub_repeated_spans,
    "small_qty_revenue": q_small_qty_revenue,
    "pricing_summary": q_pricing_summary,
    "top_orders": q_top_orders,
    "curated_training_corpus": q_curated_training_corpus,
    "ann_ivfpq_recall": q_ann_ivfpq_recall,
    # -- displaced r7 block (led the round-11 queue since the r10
    #    rotation; untouched text/map-only scans) -------------------------
    "boilerplate_scrub": q_boilerplate_scrub,
    "text_repetition": q_text_repetition,
    "doc_fingerprint": q_doc_fingerprint,
    "lang_id": q_lang_id,
    "dedup_tokenset": q_dedup_tokenset,
    "dedup_exact": q_dedup_exact,
    "dedup_embedding": q_dedup_embedding,
    "dsir_weights": q_dsir_weights,
    "mixture_plan": q_mixture_plan,
    "bpe_merge_pairs": q_bpe_merge_pairs,
    # -- r7-green remainder (ANN probes, temporal, media, encoding —
    #    none touched since round 7; oldest remaining driver signal) ------
    "ann_bruteforce": q_ann_bruteforce,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_recall": q_ann_ivf_recall,
    "ann_lsh_recall": q_ann_lsh_recall,
    "label_centroids": q_label_centroids,
    "pii_scrub": q_pii_scrub,
    "asof_quotes": q_asof_quotes,
    "session_windows": q_session_windows,
    "twap": q_twap,
    "media_image_features": q_media_image_features,
    "media_audio_features": q_media_audio_features,
    "media_frame_sample": q_media_frame_sample,
    "media_image_real": q_media_image_real,
    "media_audio_real": q_media_audio_real,
    "token_encode": q_token_encode,
    "embedding_quantize": q_embedding_quantize,
    # -- r8-green fill (oldest of the r8 block) ---------------------------
    "rollback_candles": q_rollback_candles,
    "pack_greedy": q_pack_greedy,
    # ==== end of driver gate window (first 50) ==========================
    # -- r8-green remainder (next in line for the round-12 window;
    #    all remain oracle-diffed in-repo each round by
    #    test_catalog_oracle.py and the full tz_gauntlet driver sim) ------
    "pack_greedy_sharded": q_pack_greedy_sharded,
    "weighted_sample": q_weighted_sample,
    "weighted_sample_strata": q_weighted_sample_strata,
    "decimals_view": q_decimals_view,
    "ticker_parse_latest": q_ticker_parse_latest,
    "regional_revenue": q_regional_revenue,
    "tumbling_window_5m": q_tumbling_window_5m,
    "latest_supply": q_latest_supply,
    "json_field_agg": q_json_field_agg,
    "order_json": q_order_json,
    "asset_name_search": q_asset_name_search,
    "text_stats": q_text_stats,
    "pairs_view": q_pairs_view,
    "corpus_cardinality": q_corpus_cardinality,
    "squash_repoint": q_squash_repoint,
    "cdc_chunks": q_cdc_chunks,
    "cdc_dedup": q_cdc_dedup,
    "quantile_summary": q_quantile_summary,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    # -- driver-green in round 9 (rotated out) ----------------------------
    "zorder_layout": q_zorder_layout,
    "semantic_dedup": q_semantic_dedup,
    "shingle_novelty": q_shingle_novelty,
    "stratified_sample": q_stratified_sample,
    "corpus_curation": q_corpus_curation,
    "corpus_stats": q_corpus_stats,
    "ngram_topk": q_ngram_topk,
    "session_attribution": q_session_attribution,
    "doc_chunks": q_doc_chunks,
    "doc_chunks_strided": q_doc_chunks_strided,
    "pack_concat": q_pack_concat,
    "salient_terms": q_salient_terms,
    "dataset_split": q_dataset_split,
    "split_decontamination": q_split_decontamination,
    "event_rollup": q_event_rollup,
    "top_docs_per_source": q_top_docs_per_source,
    "sliding_window_rate": q_sliding_window_rate,
    "unigram_logprob": q_unigram_logprob,
    "order_priority_exists": q_order_priority_exists,
    "centroid_assign": q_centroid_assign,
    "label_confusion": q_label_confusion,
    "brand_revenue_salted": q_brand_revenue_salted,
    "snapshot_diff": q_snapshot_diff,
    "quality_score": q_quality_score,
    "bigram_logprob": q_bigram_logprob,
    "event_funnel": q_event_funnel,
    "retention_cohorts": q_retention_cohorts,
    "daily_anomalies": q_daily_anomalies,
    "source_overlap": q_source_overlap,
    "chunk_dedup": q_chunk_dedup,
    "lang_mismatch": q_lang_mismatch,
    "embedding_outliers": q_embedding_outliers,
    "label_purity": q_label_purity,
    "integrity_audit": q_integrity_audit,
    # -- driver-green in round 10 (freshest signal, rotated out; the
    #    round-10 kernel work they carry was driver-verified in r10) ------
    "pq_codebooks": q_pq_codebooks,
    "pq_encode": q_pq_encode,
    "ann_pq": q_ann_pq,
    "ann_ivfpq": q_ann_ivfpq,
    "ann_pq_recall": q_ann_pq_recall,
    "ann_pq_mrr": q_ann_pq_mrr,
    "pq_reconstruction_error": q_pq_reconstruction_error,
    "difficulty_buckets": q_difficulty_buckets,
    "bigram_lift": q_bigram_lift,
    "bloom_prefilter": q_bloom_prefilter,
    "pagerank_sim": q_pagerank_sim,
    "range_join": q_range_join,
    "winnow_fingerprints": q_winnow_fingerprints,
    "vocab_coverage": q_vocab_coverage,
    "pca_project": q_pca_project,
    "bm25_topk": q_bm25_topk,
    "hll_cardinality": q_hll_cardinality,
    "minhash_jaccard_est": q_minhash_jaccard_est,
    "ngram_jaccard_prefix": q_ngram_jaccard_prefix,
    "length_histogram": q_length_histogram,
    "quality_gate_pct": q_quality_gate_pct,
    "char_entropy": q_char_entropy,
    "normalize_text": q_normalize_text,
    "kmeans_train": q_kmeans_train,
    "kmeans_inertia": q_kmeans_inertia,
    "cluster_balanced_sample": q_cluster_balanced_sample,
    "ann_ivf_learned": q_ann_ivf_learned,
    "tfidf_rerank": q_tfidf_rerank,
    "dedup_clusters": q_dedup_clusters,
    "soft_dedup_weights": q_soft_dedup_weights,
    "leakage_safe_split": q_leakage_safe_split,
    "bpe_train_merges": q_bpe_train_merges,
    "bpe_encode_pieces": q_bpe_encode_pieces,
    "token_vocab": q_token_vocab,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_kept_corpus": q_dedup_kept_corpus,
    "dedup_simhash": q_dedup_simhash,
    "dedup_incremental": q_dedup_incremental,
    "tfidf_vectorize": q_tfidf_vectorize,
}

#: queries with no SQL-expressible oracle (the driver records a rows-only
#: check for these; each must carry a pytest pinning its semantics instead —
#: see the query docstring for the test reference).  EMPTY since round 8:
#: bpe_train_merges left in round 7 (recurrence unrolled to CTEs like
#: kmeans_train's in round 6), pack_greedy{,_sharded} in round 8 (next-fit
#: state folds through a plain-list list_reduce accumulator — the
#: bpe_train_merges DuckDB-bug workaround; the sharded form additionally
#: switched shard_streams to the cross-engine md5 h31 hash).  Every catalog
#: query now carries a full DuckDB hash-check oracle.
ROWS_ONLY_QUERIES: frozenset[str] = frozenset()

#: Shared CTE chain for the nearest-centroid oracle: exact quantized label
#: centroids (mirrors the label_centroids oracle) -> per-label double arrays
#: + norms -> per-(vector, label) cosine replaying the Spark fold's
#: left-to-right float sequence -> deterministic argmax (score DESC, label
#: ASC == the fold's ascending-label strict-> replacement).
_CENTROID_ASSIGN_SQL = """
        WITH cent AS (
            SELECT label, i,
                   CAST(floor(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE)
                       * 1048576.0) AS BIGINT)) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cq
            FROM embeddings, unnest(generate_series(1, 64)) AS g(i)
            GROUP BY label, i),
        carr AS (
            SELECT label, list(CAST(cq AS DOUBLE) ORDER BY i) AS c
            FROM cent GROUP BY label),
        cn AS (
            SELECT label, c,
                   sqrt(list_reduce(list_transform(c, v -> v * v),
                        (a, b) -> a + b)) AS n
            FROM carr),
        scored AS (
            SELECT e.vec_id, e.label AS tl, e.embedding AS emb, cn.label AS cand,
                   list_reduce(list_transform(generate_series(1, len(e.embedding)),
                       i -> CAST(e.embedding[i] AS DOUBLE) * cn.c[i]),
                       (a, b) -> a + b)
                   / (sqrt(list_reduce(list_transform(
                          generate_series(1, len(e.embedding)),
                          i -> CAST(e.embedding[i] AS DOUBLE)
                               * CAST(e.embedding[i] AS DOUBLE)),
                          (a, b) -> a + b))
                      * cn.n) AS s
            FROM embeddings e, cn),
        assigned AS (
            SELECT vec_id, CAST(tl AS INT) AS label, emb,
                   CAST(cand AS INT) AS assigned_label,
                   CAST(floor(s * 1000000.0) AS BIGINT) AS score_x1m
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY vec_id ORDER BY s DESC, cand ASC) AS rn
                  FROM scored)
            WHERE rn = 1)
"""

ORACLES: dict[str, str] = {
    "candles_1m": f"WITH trades AS ({_TRADES_SQL}), c AS ({_C1M_SQL}) "
                  f"SELECT {_CANDLE_OUT} FROM c",
    # rollback_candles: the oracle is the ONE-SHOT recompute over surviving
    # trades — the engine's watermark patch (old < wm UNION redo >= wm)
    # must hash-match it exactly (A4 invariant).
    "rollback_candles": f"""
        WITH trades_all AS ({_TRADES_SQL}),
        b AS (SELECT (max(uid) // 10) * 7 // 10 AS boundary
              FROM trades_all),
        trades AS (SELECT t.* FROM trades_all t, b
                   WHERE t.uid // 10 <= b.boundary),
        c AS ({_C1M_SQL})
        SELECT {_CANDLE_OUT} FROM c
    """,
    "candles_cascade": _cascade_oracle_sql(),
    "scd2_chain": f"""
        SELECT CAST(user_id AS BIGINT) AS asset_id,
               CAST(event_id AS BIGINT) AS uid,
               CAST(COALESCE(LEAD(event_id) OVER
                   (PARTITION BY user_id ORDER BY event_id), {MAX_UID}) AS BIGINT)
                   AS superseded_by
        FROM events
    """,
    "scd2_current": """
        SELECT CAST(user_id AS BIGINT) AS asset_id,
               CAST(event_id AS BIGINT) AS uid, event_type, value
        FROM (SELECT *, ROW_NUMBER() OVER
                  (PARTITION BY user_id ORDER BY event_id DESC) AS rn
              FROM events)
        WHERE rn = 1
    """,
    "deterministic_uid": """
        SELECT event_id, CAST(user_id AS BIGINT) AS height,
               CAST(user_id * 100000 + ROW_NUMBER() OVER
                   (PARTITION BY user_id ORDER BY event_id) - 1 AS BIGINT) AS uid
        FROM events
    """,
    "decimals_view": """
        SELECT CAST(p_partkey AS VARCHAR) AS asset_id,
               CAST(p_size % 9 AS INT) AS decimals
        FROM part
        UNION ALL SELECT 'WAVES', 8
    """,
    "assets_view": """
        WITH origins AS (
            SELECT l_partkey, CAST(min(l_orderkey) AS BIGINT) AS origin_order,
                   sum(CAST(l_quantity AS DECIMAL(18,2))) AS vol
            FROM lineitem GROUP BY l_partkey),
        supply AS (
            SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s FROM orders)
        SELECT CAST(p_partkey AS VARCHAR) AS asset_id,
               p_name AS asset_name,
               origin_order,
               CAST(vol AS DOUBLE) AS total_volume,
               p_retailprice AS retail_price
        FROM part LEFT JOIN origins ON p_partkey = l_partkey
        UNION ALL
        SELECT 'WAVES', 'Waves', NULL, CAST(s AS DOUBLE), NULL FROM supply
    """,
    "ticker_parse_latest": """
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(event_id AS BIGINT) AS uid,
               CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS ticker_k
        FROM (SELECT *, ROW_NUMBER() OVER
                  (PARTITION BY user_id ORDER BY event_id DESC) AS rn
              FROM events)
        WHERE rn = 1
    """,
    "lookup_join": """
        SELECT l_orderkey, l_linenumber, o_custkey
        FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))
                   * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*) AS avg_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*) AS avg_price,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "top_orders": """
        SELECT l_orderkey, CAST(rev AS DOUBLE) AS revenue,
               CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_orderpriority
        FROM (
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY rev DESC, l_orderkey ASC
            LIMIT 10)
    """,
    "regional_revenue": """
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """,
    "tumbling_window_5m": f"""
        SELECT CAST({_dd_trunc('ts', '5m')} AS VARCHAR) AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
               min(value) AS min_value,
               max(value) AS max_value
        FROM events
        GROUP BY 1, 2
    """,
    "latest_supply": """
        SELECT event_type, value AS latest_value,
               CAST(event_id AS BIGINT) AS latest_event_id
        FROM (SELECT *, ROW_NUMBER() OVER
                  (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
        WHERE rn = 1
    """,
    "order_json": """
        WITH src AS (
            SELECT event_id,
                   event_id % 4 + 1 AS version,
                   '3P' || (user_id % 100) AS sender,
                   'PK' || (user_id % 7) AS spk,
                   event_type AS aa,
                   CASE WHEN user_id % 2 = 0 THEN 'null' ELSE '"USD"' END AS pa_tok,
                   CASE WHEN event_id % 2 = 1 THEN 'sell' ELSE 'buy' END AS otype,
                   event_id % 1000 + 1 AS amount,
                   CAST(floor(value * 100) AS BIGINT) AS price,
                   CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS tsm,
                   CASE WHEN event_id % 5 = 0 THEN 0
                        ELSE event_id % 10000 END AS mfee,
                   CASE WHEN event_id % 7 = 0 THEN '[]'
                        ELSE '["sig-' || event_id || '","p2"]' END AS proofs_j,
                   CASE WHEN event_id % 7 = 0 THEN ''
                        ELSE 'sig-' || event_id END AS sig,
                   CASE WHEN event_id % 3 = 0 THEN '"FEE1"'
                        ELSE 'null' END AS mfa_tok,
                   CASE WHEN event_id % 2 = 1
                        THEN '"0x' || lower(hex('es' || event_id)) || '"'
                        ELSE 'null' END AS eip_tok,
                   CASE event_id % 3 WHEN 1 THEN '"fixedDecimals"'
                                     WHEN 2 THEN '"assetDecimals"'
                                     ELSE 'null' END AS pmode_tok
            FROM events WHERE event_id < 500)
        SELECT event_id AS order_id,
               '{"id":"ord-' || event_id || '","version":' || version
               || ',"sender":"' || sender
               || '","senderPublicKey":"' || spk
               || '","matcherPublicKey":"MPK","assetPair":{"amountAsset":"'
               || aa || '","priceAsset":' || pa_tok
               || '},"orderType":"' || otype
               || '","amount":' || amount
               || ',"price":' || price
               || ',"timestamp":' || tsm
               || ',"expiration":' || (tsm + 86400000)
               || ',"matcherFee":' || mfee
               || ',"proofs":' || proofs_j
               || ',"signature":"' || sig || '"'
               || CASE WHEN version >= 3
                       THEN ',"matcherFeeAssetId":' || mfa_tok ELSE '' END
               || CASE WHEN version >= 4
                       THEN ',"eip712Signature":' || eip_tok
                            || ',"priceMode":' || pmode_tok
                       ELSE '' END
               || '}' AS order_json
        FROM src
    """,
    "json_field_agg": """
        WITH k AS (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                          event_type
                   FROM events)
        SELECT k % 10 AS k_bucket, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               min(k) AS min_k, max(k) AS max_k
        FROM k GROUP BY 1, 2
    """,
    "asset_name_search": """
        SELECT * FROM (
            SELECT CAST(p_partkey AS BIGINT) AS asset_id,
                   p_name AS asset_name,
                   CAST(len(list_filter(string_split(p_name, ' '),
                       t -> list_contains(['red','widget','bolt'], t)))
                       AS BIGINT) AS match_score
            FROM part)
        WHERE match_score > 0
    """,
    "dedup_exact": """
        SELECT md5(text) AS fingerprint,
               CAST(min(doc_id) AS BIGINT) AS keep_id,
               CAST(count(*) AS BIGINT) AS dup_count
        FROM documents GROUP BY md5(text)
    """,
    "dedup_tokenset": """
        SELECT md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fingerprint,
               CAST(min(doc_id) AS BIGINT) AS keep_id,
               CAST(count(*) AS BIGINT) AS dup_count
        FROM documents
        GROUP BY 1
    """,
    "dedup_minhash_lsh": _MINHASH_SQL,
    # the prefix-filtered plan lands on the IDENTICAL pair set — same
    # oracle as ngram_jaccard by construction (equality also pinned in
    # tests/test_sketches.py)
    "ngram_jaccard_prefix": _JACCARD_SQL,
    "dedup_clusters": f"""
        WITH RECURSIVE pairs AS ({_MINHASH_SQL}),
        {_CC_REACH_SQL}
        SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    """,
    "dedup_kept_corpus": f"""
        WITH RECURSIVE pairs AS ({_MINHASH_SQL}),
        {_CC_CLUSTERS_SQL}
        SELECT d.doc_id, d.source FROM documents d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters
                               WHERE doc_id <> cluster_id)
    """,
    "ngram_jaccard": _JACCARD_SQL,
    "text_stats": _DOC_STATS_SQL,
    "ann_bruteforce": """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                   FROM embeddings WHERE vec_id < 5),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   list_reduce(list_transform(generate_series(1, len(qe)),
                       i -> CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                       (a, b) -> a + b)
                   / (sqrt(list_reduce(list_transform(generate_series(1, len(qe)),
                          i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)),
                          (a, b) -> a + b))
                      * sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
                          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                          (a, b) -> a + b)))
                   AS cosine_sim
            FROM embeddings e, q)
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
        FROM (SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
              FROM scored)
        WHERE rank <= 10
    """,
    "pairs_view": f"""
        WITH trades AS ({_TRADES_SQL}), c AS ({_C1M_SQL})
        SELECT amount_asset_id, price_asset_id, matcher_address,
               CAST(arg_min(open, time_start) AS DOUBLE) AS first_price,
               CAST(arg_max(close, time_start) AS DOUBLE) AS last_price,
               CAST(sum(volume) AS BIGINT) AS volume,
               CAST(sum(quote_volume) AS DOUBLE) AS quote_volume,
               CAST(max(high) AS DOUBLE) AS high,
               CAST(min(low) AS DOUBLE) AS low,
               {_floor_div_sql("sum(quote_volume)", "sum(volume)")}
                   AS weighted_average_price,
               CAST(sum(txs_count) AS BIGINT) AS txs_count
        FROM c GROUP BY 1, 2, 3
    """,
    "candles_scaled": _CANDLES_SCALED_SQL,
    "dedup_simhash": _SIMHASH_SQL,
    "dedup_embedding": _EMB_NEARDUP_SQL,
    "ann_lsh": _ann_lsh_oracle_sql(),
    "ann_ivf": _ANN_IVF_SQL,
    "label_centroids": """
        SELECT label, CAST(i - 1 AS INT) AS pos,
               CAST(floor(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE)
                   * 1048576.0) AS BIGINT)) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE)) AS BIGINT) AS centroid_q,
               CAST(count(*) AS BIGINT) AS n_vectors
        FROM embeddings, unnest(generate_series(1, 64)) AS g(i)
        GROUP BY label, i
    """,
    "lang_id": _lang_id_oracle_sql(),
    "doc_fingerprint": _FINGERPRINT_SQL,
    "contamination": f"""
        WITH {_SHINGLES_SQL},
        bench AS (SELECT doc_id AS bid, shingle FROM sh WHERE doc_id % 20 = 0),
        corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_doc
                  FROM corp GROUP BY doc_id),
        hits AS (SELECT c.doc_id, b.bid, CAST(count(*) AS BIGINT) AS n_inter
                 FROM corp c JOIN bench b USING (shingle)
                 GROUP BY c.doc_id, b.bid),
        scored AS (
            SELECT h.doc_id, h.bid,
                   CAST(floor(CAST(h.n_inter AS DOUBLE) * 100.0
                       / CAST(s.n_doc AS DOUBLE)) AS BIGINT) AS cx,
                   row_number() OVER (PARTITION BY h.doc_id
                                      ORDER BY CAST(floor(CAST(h.n_inter AS DOUBLE) * 100.0
                                          / CAST(s.n_doc AS DOUBLE)) AS BIGINT) DESC,
                                          h.bid ASC) AS rn
            FROM hits h JOIN sizes s ON s.doc_id = h.doc_id)
        SELECT doc_id, CAST(bid AS BIGINT) AS bench_id,
               cx AS containment_x100
        FROM scored WHERE rn = 1 AND cx >= 5
    """,
    "shingle_novelty": f"""
        WITH {_SHINGLES_SQL},
        counts AS (SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
                   FROM sh GROUP BY shingle)
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared,
               CAST(floor(CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END)
                       AS DOUBLE) * 100.0 / CAST(count(*) AS DOUBLE)) AS BIGINT)
                   AS shared_x100
        FROM sh s JOIN counts c USING (shingle)
        GROUP BY s.doc_id
    """,
    "text_repetition": """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents WHERE text IS NOT NULL),
        grams AS (
            SELECT doc_id,
                   list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                                  i -> array_to_string(t[i:i+1], ' ')) AS g2,
                   list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                                  i -> array_to_string(t[i:i+2], ' ')) AS g3
            FROM toks)
        SELECT doc_id,
               CAST(floor(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                   * 100.0 / CAST(len(g2) AS DOUBLE)) AS BIGINT)
                   AS dup_2gram_x100,
               CAST(floor(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                   * 100.0 / CAST(len(g3) AS DOUBLE)) AS BIGINT)
                   AS dup_3gram_x100
        FROM grams
    """,
    "corpus_cardinality": """
        WITH toks AS (
            SELECT lang, md5(text) AS digest, doc_id,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE text IS NOT NULL)
        SELECT lang,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT digest) AS BIGINT) AS n_distinct_contents,
               CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
               CAST(count(*) AS BIGINT) AS n_tokens
        FROM toks GROUP BY lang
    """,
    "pii_scrub": """
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+'))
                   AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text,
                   '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}'))
                   AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(text,
                   '[+][0-9]{7,15}|[0-9]{3}-[0-9]{3}-[0-9]{4}'))
                   AS BIGINT) AS n_phones,
               md5(regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+',
                   '<EMAIL>', 'g'),
                   '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}',
                   '<IP>', 'g'),
                   '[+][0-9]{7,15}|[0-9]{3}-[0-9]{3}-[0-9]{4}',
                   '<PHONE>', 'g')) AS redacted_md5
        FROM documents
    """,
    "media_image_features": _MEDIA_IMAGE_SQL,
    "media_audio_features": _MEDIA_AUDIO_SQL,
    "media_frame_sample": _MEDIA_FRAMES_SQL,
    "media_image_real": _MEDIA_IMAGE_REAL_SQL,
    "media_audio_real": _MEDIA_AUDIO_REAL_SQL,
    "asof_quotes": """
        WITH t AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_id % 5 = 0),
        q AS (SELECT user_id, ts, event_id AS quote_event_id,
                     value AS quote_value
              FROM events WHERE event_id % 5 <> 0)
        SELECT t.event_id, t.user_id, CAST(t.ts AS VARCHAR) AS ts,
               q.quote_event_id, q.quote_value
        FROM t ASOF LEFT JOIN q
            ON t.user_id = q.user_id AND q.ts <= t.ts
    """,
    "session_windows": """
        WITH o AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL 6 HOUR
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (
            SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sess
            FROM o)
        SELECT user_id,
               CAST(min(ts) AS VARCHAR) AS session_start,
               CAST(max(ts) + INTERVAL 6 HOUR AS VARCHAR) AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               min(event_id) AS first_event_id,
               max(event_id) AS last_event_id
        FROM s GROUP BY user_id, sess
    """,
    "twap": """
        WITH d AS (
            SELECT user_id,
                   CAST(floor(value * 1000000.0) AS BIGINT) AS vm,
                   CAST(floor(epoch(lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id))) AS BIGINT)
                   - CAST(floor(epoch(ts)) AS BIGINT) AS dur
            FROM events),
        g AS (
            SELECT user_id,
                   sum(CAST(vm * dur AS DECIMAL(38,0))) AS wsum,
                   sum(CAST(dur AS DECIMAL(38,0))) AS dsum,
                   CAST(count(*) AS BIGINT) AS n_intervals
            FROM d WHERE dur IS NOT NULL GROUP BY user_id)
        SELECT user_id,
               CASE WHEN dsum > 0 THEN
                   CAST(floor(CAST(wsum AS DOUBLE) / CAST(dsum AS DOUBLE))
                        AS BIGINT) END AS twap_micros,
               CAST(dsum AS BIGINT) AS total_seconds,
               n_intervals
        FROM g
    """,
    "session_attribution": """
        WITH q AS (SELECT user_id, ts, event_id FROM events
                   WHERE event_id % 5 <> 0),
        o AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL 6 HOUR
                        THEN 1 ELSE 0 END AS brk
            FROM q
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        g AS (
            SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sess
            FROM o),
        s AS (
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 6 HOUR AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM g GROUP BY user_id, sess),
        t AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 5 = 0)
        SELECT t.event_id, t.user_id, CAST(t.ts AS VARCHAR) AS ts,
               CAST(s.session_start AS VARCHAR) AS session_start, s.n_events
        FROM t JOIN s ON t.user_id = s.user_id
                     AND t.ts >= s.session_start AND t.ts <= s.session_end
    """,
    "ngram_topk": """
        WITH toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents
                      WHERE text IS NOT NULL),
        pos AS (SELECT lang, t,
                       unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
                FROM toks),
        g AS (SELECT lang, array_to_string(t[i:i+1], ' ') AS gram FROM pos),
        c AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS n_occurrences
              FROM g GROUP BY lang, gram),
        r AS (SELECT *, CAST(row_number() OVER (
                  PARTITION BY lang
                  ORDER BY n_occurrences DESC, gram ASC) AS INT) AS rank
              FROM c)
        SELECT lang, gram, n_occurrences, rank FROM r WHERE rank <= 15
    """,
    "corpus_stats": """
        WITH r AS (
            SELECT source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars, doc_id) - 1 AS rn,
                   count(*) OVER (PARTITION BY source) AS n
            FROM documents)
        SELECT source,
               CAST(max(n) AS BIGINT) AS n_docs,
               min(n_chars) AS min_n_chars,
               max(n_chars) AS max_n_chars,
               max(CASE WHEN rn = (1 * (n - 1)) // 4 THEN n_chars END)
                   AS p25_n_chars,
               max(CASE WHEN rn = (1 * (n - 1)) // 2 THEN n_chars END)
                   AS p50_n_chars,
               max(CASE WHEN rn = (3 * (n - 1)) // 4 THEN n_chars END)
                   AS p75_n_chars,
               max(CASE WHEN rn = (19 * (n - 1)) // 20 THEN n_chars END)
                   AS p95_n_chars
        FROM r GROUP BY source
    """,
    "stratified_sample": f"""
        WITH h AS (
            SELECT doc_id, source,
                   {_hex_int_sql("md5(CAST(doc_id AS VARCHAR))", 15)}
                       % 2147483647 AS h31
            FROM documents),
        r AS (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY h31, doc_id) AS rk
            FROM h)
        SELECT doc_id, source FROM r WHERE rk <= 20
    """,
    "corpus_curation": f"""
        WITH s AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(floor(CAST(length(replace(text, ' ', '')) * 100
                        AS DOUBLE) / len(string_split(text, ' '))) AS BIGINT)
                       AS mean_token_len_x100,
                   CAST(floor(CAST(len(list_distinct(string_split(text, ' ')))
                        * 100 AS DOUBLE) / len(string_split(text, ' ')))
                        AS BIGINT) AS repetition_x100
            FROM documents)
        SELECT doc_id, lang, n_tokens, mean_token_len_x100, repetition_x100
        FROM s
        WHERE n_tokens BETWEEN 20 AND 5000
          AND mean_token_len_x100 BETWEEN 400 AND 500
          AND repetition_x100 >= 35
          AND {_hex_int_sql("md5(CAST(doc_id AS VARCHAR))", 15)}
              % 2147483647 < CAST(floor(0.5 * 2147483647) AS BIGINT)
    """,
    "rollback_scd": _ROLLBACK_SCD_SQL,
    "squash_blocks": _SQUASH_BLOCKS_SQL,
    "squash_repoint": _SQUASH_REPOINT_SQL,
    "doc_chunks": """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents WHERE text IS NOT NULL)
        SELECT doc_id,
               CAST(i AS BIGINT) AS chunk_idx,
               CAST(len(t[i*16+1 : i*16+16]) AS BIGINT) AS n_chunk_tokens,
               array_to_string(t[i*16+1 : i*16+16], ' ') AS chunk_text
        FROM toks,
             UNNEST(generate_series(
                 0, CAST(greatest(ceil(len(t) / 16.0), 1) AS BIGINT) - 1))
             AS u(i)
    """,
    "doc_chunks_strided": """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents WHERE text IS NOT NULL)
        SELECT doc_id,
               CAST(i AS BIGINT) AS chunk_idx,
               CAST(len(t[i*8+1 : i*8+16]) AS BIGINT) AS n_chunk_tokens,
               array_to_string(t[i*8+1 : i*8+16], ' ') AS chunk_text
        FROM toks,
             UNNEST(generate_series(
                 0, CAST(greatest(ceil((len(t) - 16) / 8.0) + 1, 1)
                     AS BIGINT) - 1)) AS u(i)
    """,
    # next-fit packing: the reset-on-overflow recurrence has no window
    # form, but it FOLDS — per stream, list_reduce over the doc_id-ordered
    # token counts with the (bin, fill) state encoded as the tail of one
    # PLAIN BIGINT list [0,0, b0,f0, b1,f1, ...] (DuckDB 1.0 silently
    # mis-executes struct-with-list accumulators — the bpe_train_merges
    # workaround, see that oracle).  Each doc then reads its (bin, fill)
    # pair back by its within-stream rank.  Upgraded from rows-only in
    # round 8.
    "pack_greedy": """
        WITH d AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                       AS rk
            FROM documents WHERE text IS NOT NULL),
        folded AS (
            SELECT lang,
                   list_reduce(
                       [[CAST(0 AS BIGINT), CAST(0 AS BIGINT)]] ||
                       list_transform(list(n_tokens ORDER BY doc_id),
                                      c -> [c]),
                       (acc, x) -> acc ||
                           [CASE WHEN acc[-1] > 0 AND acc[-1] + x[1] > 64
                                 THEN acc[-2] + 1 ELSE acc[-2] END,
                            CASE WHEN acc[-1] > 0 AND acc[-1] + x[1] > 64
                                 THEN x[1] ELSE acc[-1] + x[1] END]
                   ) AS st
            FROM d GROUP BY lang)
        SELECT d.doc_id, d.lang, d.n_tokens,
               f.st[2 * d.rk + 1] AS bin_id,
               f.st[2 * d.rk + 2] AS bin_fill
        FROM d JOIN folded f USING (lang)
    """,
    # sharded next-fit: same fold per (stream, shard); the shard split is
    # the house md5-derived h31 (cross-engine exact — the reason
    # shard_streams does NOT use Spark's murmur3 F.hash), offsets are the
    # running sum of lower shards' bin counts (st[-2] + 1 = last bin id
    # + 1 = the shard's bin count, read straight off the fold state).
    "pack_greedy_sharded": f"""
        WITH base AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   {_hex_int_sql("md5(CAST(doc_id AS VARCHAR))", 15)}
                       % 2147483647 AS h31
            FROM documents WHERE text IS NOT NULL),
        ns AS (SELECT lang, CAST(ceil(count(*) / 64.0) AS INT) AS n_shards
               FROM base GROUP BY lang),
        d AS (
            SELECT b.doc_id, b.lang, b.n_tokens,
                   CAST(b.h31 % ns.n_shards AS INT) AS shard,
                   row_number() OVER (
                       PARTITION BY b.lang, b.h31 % ns.n_shards
                       ORDER BY b.doc_id) AS rk
            FROM base b JOIN ns USING (lang)),
        folded AS (
            SELECT lang, shard,
                   list_reduce(
                       [[CAST(0 AS BIGINT), CAST(0 AS BIGINT)]] ||
                       list_transform(list(n_tokens ORDER BY doc_id),
                                      c -> [c]),
                       (acc, x) -> acc ||
                           [CASE WHEN acc[-1] > 0 AND acc[-1] + x[1] > 64
                                 THEN acc[-2] + 1 ELSE acc[-2] END,
                            CASE WHEN acc[-1] > 0 AND acc[-1] + x[1] > 64
                                 THEN x[1] ELSE acc[-1] + x[1] END]
                   ) AS st
            FROM d GROUP BY lang, shard),
        offs AS (
            SELECT lang, shard,
                   COALESCE(SUM(st[-2] + 1) OVER (
                       PARTITION BY lang ORDER BY shard
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS off
            FROM folded)
        SELECT d.doc_id, d.lang, d.n_tokens,
               CAST(f.st[2 * d.rk + 1] + o.off AS BIGINT) AS bin_id,
               f.st[2 * d.rk + 2] AS bin_fill
        FROM d JOIN folded f USING (lang, shard)
             JOIN offs o USING (lang, shard)
    """,
    "pack_concat": """
        WITH s AS (SELECT doc_id, lang,
                          CAST(len(string_split(text, ' ')) AS BIGINT)
                              AS n_tokens
                   FROM documents WHERE text IS NOT NULL),
        c AS (SELECT doc_id, lang, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (
                         PARTITION BY lang ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS pre
              FROM s)
        SELECT doc_id, lang, n_tokens,
               CAST(pre // 64 AS BIGINT) AS bin_id,
               CAST(pre % 64 AS BIGINT) AS bin_offset
        FROM c
    """,
    "quality_gate_pct": """
        WITH s AS (SELECT doc_id, lang,
                          CAST(len(string_split(text, ' ')) AS BIGINT)
                              AS n_tokens
                   FROM documents WHERE text IS NOT NULL),
        r AS (SELECT doc_id, lang, n_tokens,
                     percent_rank() OVER (
                         PARTITION BY lang
                         ORDER BY n_tokens DESC, doc_id ASC) AS pr
              FROM s)
        SELECT doc_id, lang, n_tokens FROM r WHERE pr <= 0.5
    """,
    "char_entropy": """
        SELECT doc_id,
               CASE WHEN length(text) > 0 THEN
                   CAST(floor(((ln(length(text))
                       - list_sum(list_transform(
                             list_sort(list_distinct(string_split(text, ''))),
                             c -> (length(text) - length(replace(text, c, '')))
                                  * ln(length(text)
                                       - length(replace(text, c, '')))))
                         / length(text)) / ln(2)) * 1000) AS BIGINT)
               ELSE 0 END AS entropy_x1000
        FROM documents WHERE text IS NOT NULL
    """,
    "dataset_split": f"""
        WITH h AS (
            SELECT doc_id, lang, source,
                   {_hex_int_sql("md5(CAST(doc_id AS VARCHAR))", 15)}
                       % 2147483647 AS h31
            FROM documents)
        SELECT doc_id, lang, source,
               CASE WHEN h31 < 214748364 THEN 'val'
                    WHEN h31 < 429496728 THEN 'test'
                    ELSE 'train' END AS split
        FROM h
    """,
    "weighted_sample": f"""
        WITH p AS (
            SELECT doc_id, source, n_chars,
                   (CAST(n_chars AS BIGINT) * 2147483648)
                       // ({_hex_int_sql("md5(CAST(doc_id AS VARCHAR))", 15)}
                           % 2147483647 + 1) AS prio
            FROM documents)
        SELECT doc_id, source, n_chars
        FROM p ORDER BY prio DESC, doc_id ASC LIMIT 100
    """,
    "weighted_sample_strata": f"""
        WITH p AS (
            SELECT doc_id, source, n_chars,
                   (CAST(n_chars AS BIGINT) * 2147483648)
                       // ({_hex_int_sql("md5(CAST(doc_id AS VARCHAR))", 15)}
                           % 2147483647 + 1) AS prio
            FROM documents),
        r AS (SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                         ORDER BY prio DESC, doc_id ASC) AS rk
              FROM p)
        SELECT doc_id, source, n_chars FROM r WHERE rk <= 10
    """,
    "salient_terms": """
        WITH pairs AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents WHERE text IS NOT NULL
        ), tf AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          FROM pairs GROUP BY doc_id, term
        ), dfq AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
        )
        SELECT doc_id, term, tf, df,
               CAST((tf * 1000000) // df AS BIGINT) AS score_x1m,
               CAST(row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY (tf * 1000000) // df DESC, term ASC
               ) AS INT) AS rank
        FROM tf JOIN dfq USING (term)
        QUALIFY rank <= 5
    """,
    "length_histogram": """
        WITH src AS (
          SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
          FROM documents WHERE text IS NOT NULL
        )
        SELECT lang,
               CAST(length(bin(n)) - 1 AS INT) AS len_bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS total_tokens,
               CAST(min(n) AS BIGINT) AS min_tokens,
               CAST(max(n) AS BIGINT) AS max_tokens
        FROM src WHERE n > 0
        GROUP BY lang, len_bucket
    """,
    "token_vocab": """
        WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
                      FROM documents WHERE text IS NOT NULL),
        c AS (SELECT token, CAST(count(*) AS BIGINT) AS count
              FROM toks GROUP BY token HAVING count(*) >= 2)
        SELECT token,
               CAST(row_number() OVER (ORDER BY count DESC, token ASC) - 1
                   AS BIGINT) AS token_id,
               count
        FROM c
    """,
    "token_encode": """
        WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
                      FROM documents WHERE text IS NOT NULL),
        c AS (SELECT token, count(*) AS cnt
              FROM toks GROUP BY token HAVING count(*) >= 2),
        v AS (SELECT token,
                     CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) - 1
                         AS BIGINT) AS token_id
              FROM c),
        e AS (SELECT doc_id, u.i AS pos, t[u.i] AS tok
              FROM (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents WHERE text IS NOT NULL) d,
                   UNNEST(range(1, len(t) + 1)) AS u(i))
        SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               array_to_string(
                   list(CAST(COALESCE(v.token_id, -1) AS VARCHAR)
                        ORDER BY e.pos), ',') AS token_ids
        FROM e LEFT JOIN v ON e.tok = v.token
        GROUP BY e.doc_id
    """,
    "split_decontamination": f"""
        WITH banded AS (
            SELECT doc_id, text,
                   CASE WHEN {_hex_int_sql("md5(CAST(doc_id AS VARCHAR))", 15)}
                            % 2147483647 < 214748364 THEN 'val'
                        WHEN {_hex_int_sql("md5(CAST(doc_id AS VARCHAR))", 15)}
                            % 2147483647 < 429496728 THEN 'test'
                        ELSE 'train' END AS split
            FROM documents WHERE text IS NOT NULL),
        toks AS (SELECT doc_id, split, string_split(text, ' ') AS t
                 FROM banded),
        pos AS (SELECT doc_id, split, t,
                       unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
                FROM toks),
        sh AS (SELECT DISTINCT doc_id, split,
                      array_to_string(t[i:i+2], ' ') AS shingle
               FROM pos),
        holdout AS (SELECT DISTINCT shingle FROM sh WHERE split != 'train')
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN h.shingle IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_holdout_shared,
               CAST(floor(
                   CAST(sum(CASE WHEN h.shingle IS NOT NULL THEN 1 ELSE 0 END)
                       AS DOUBLE) * 100.0
                   / CAST(count(*) AS DOUBLE)) AS BIGINT) AS overlap_x100
        FROM sh s LEFT JOIN holdout h USING (shingle)
        WHERE s.split = 'train'
        GROUP BY s.doc_id
        HAVING sum(CASE WHEN h.shingle IS NOT NULL THEN 1 ELSE 0 END) > 0
    """,
    "event_rollup": """
        SELECT event_type,
               CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
               CAST(GROUPING(event_type, CAST(date_trunc('day', ts) AS DATE))
                   AS INT) AS gid,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY ROLLUP(event_type, CAST(date_trunc('day', ts) AS DATE))
    """,
    "top_docs_per_source": """
        SELECT source, doc_id, n_chars, rnk
        FROM (SELECT source, doc_id, n_chars,
                     CAST(row_number() OVER (
                         PARTITION BY source
                         ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rnk
              FROM documents)
        WHERE rnk <= 10
    """,
    "sliding_window_rate": """
        SELECT CAST(TIMESTAMP '1970-01-01' + INTERVAL (
                   CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - u.k * 300
               ) SECOND AS VARCHAR) AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events, UNNEST([0, 1]) AS u(k)
        GROUP BY 1, 2
    """,
    "embedding_quantize": """
        WITH s AS (
            SELECT vec_id, embedding,
                   CASE WHEN m = 0.0 THEN 1.0 ELSE m END AS scale
            FROM (SELECT vec_id, embedding,
                         list_aggregate(list_transform(embedding,
                             x -> abs(CAST(x AS DOUBLE))), 'max') AS m
                  FROM embeddings)),
        q AS (
            SELECT vec_id, embedding,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5)
                                 AS INTEGER)) AS q_vec
            FROM s)
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS n_dims,
               array_to_string(list_transform(q_vec,
                   v -> CAST(v AS VARCHAR)), ',') AS q_vec,
               CAST(list_sum(list_transform(q_vec,
                   v -> abs(CAST(v AS BIGINT)))) AS BIGINT) AS q_l1,
               CAST(list_sum(list_transform(q_vec,
                   v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS BIGINT)
                   AS q_l2sq
        FROM q
    """,
    "unigram_logprob": """
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                      FROM documents WHERE text IS NOT NULL),
        model AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM model),
        costed AS (SELECT term,
                          CAST(floor(ln(tot.n / CAST(cnt AS DOUBLE)) * 1000.0)
                              AS BIGINT) AS cost
                   FROM model, tot)
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(c.cost) AS BIGINT) AS cost_x1000,
               CAST(sum(c.cost) // count(*) AS BIGINT) AS avg_cost_x1000
        FROM toks t JOIN costed c USING (term)
        GROUP BY t.doc_id
    """,
    "order_priority_exists": """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_returnflag = 'R')
        GROUP BY o_orderpriority
    """,
    "centroid_assign": _CENTROID_ASSIGN_SQL + """
        SELECT vec_id, label, assigned_label, score_x1m FROM assigned
    """,
    "label_confusion": _CENTROID_ASSIGN_SQL + """
        SELECT label, assigned_label, CAST(count(*) AS BIGINT) AS n_vectors
        FROM assigned GROUP BY label, assigned_label
    """,
    "label_purity": _CENTROID_ASSIGN_SQL + """
        , per AS (
            SELECT assigned_label, label, CAST(count(*) AS BIGINT) AS n
            FROM assigned GROUP BY assigned_label, label),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY assigned_label
                       ORDER BY n DESC, label ASC) AS rn,
                   CAST(sum(n) OVER (PARTITION BY assigned_label) AS BIGINT)
                       AS n_vectors
            FROM per)
        SELECT assigned_label,
               CAST(label AS INT) AS majority_label,
               n AS n_majority, n_vectors,
               CAST(floor(CAST(n AS DOUBLE) * 100.0
                   / CAST(n_vectors AS DOUBLE)) AS BIGINT) AS purity_x100
        FROM ranked WHERE rn = 1
    """,
    "embedding_outliers": """
        WITH scored AS (
            SELECT vec_id, label,
                   CAST(list_sum(list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0)
                            AS BIGINT)
                            * CAST(floor(CAST(x AS DOUBLE) * 1048576.0)
                            AS BIGINT))) AS BIGINT) AS n2q
            FROM embeddings),
        med AS (
            SELECT *,
                   CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS n,
                   CAST(row_number() OVER (PARTITION BY label
                       ORDER BY n2q ASC, vec_id ASC) - 1 AS BIGINT) AS rn
            FROM scored),
        m1 AS (
            SELECT *, max(CASE WHEN rn = (n - 1) // 2 THEN n2q END)
                       OVER (PARTITION BY label) AS median_n2q
            FROM med),
        d AS (SELECT *, abs(n2q - median_n2q) AS dev FROM m1),
        m2 AS (
            SELECT *, CAST(row_number() OVER (PARTITION BY label
                       ORDER BY dev ASC, vec_id ASC) - 1 AS BIGINT) AS rn2
            FROM d),
        m3 AS (
            SELECT *, max(CASE WHEN rn2 = (n - 1) // 2 THEN dev END)
                       OVER (PARTITION BY label) AS mad_n2q
            FROM m2)
        SELECT vec_id, label, n2q,
               CAST(median_n2q AS BIGINT) AS median_n2q,
               CAST(mad_n2q AS BIGINT) AS mad_n2q
        FROM m3 WHERE dev * 100 > 250 * mad_n2q
    """,
    "lang_mismatch": f"""
        WITH p AS ({_lang_id_oracle_sql()})
        SELECT d.doc_id, d.lang, p.lang_pred, p.lang_score
        FROM documents d JOIN p USING (doc_id)
        WHERE d.text IS NOT NULL
          AND p.lang_pred != 'unknown' AND p.lang_pred != d.lang
    """,
    "chunk_dedup": """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents WHERE text IS NOT NULL),
        ch AS (SELECT doc_id,
                      CAST(i AS INT) AS chunk_idx,
                      array_to_string(t[(i*16+1):((i+1)*16)], ' ') AS chunk_text
               FROM toks,
                    unnest(generate_series(0,
                        CAST(ceil(len(t) / 16.0) AS BIGINT) - 1)) AS g(i)),
        k AS (SELECT md5(chunk_text) AS chunk_digest,
                     min(struct_pack(doc_id := doc_id, chunk_idx := chunk_idx)) AS first_rc,
                     CAST(count(*) AS BIGINT) AS n_copies
              FROM ch GROUP BY md5(chunk_text))
        SELECT CAST(first_rc.doc_id AS BIGINT) AS doc_id,
               CAST(first_rc.chunk_idx AS INT) AS chunk_idx,
               chunk_digest, n_copies
        FROM k
    """,
    "source_overlap": f"""
        WITH pairs AS ({_MINHASH_SQL}),
        srcd AS (SELECT doc_id, source FROM documents),
        sp AS (SELECT least(da.source, db.source) AS source_a,
                      greatest(da.source, db.source) AS source_b
               FROM pairs p
               JOIN srcd da ON da.doc_id = p.id_a
               JOIN srcd db ON db.doc_id = p.id_b),
        g AS (SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
              FROM sp GROUP BY source_a, source_b),
        tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                FROM documents GROUP BY source)
        SELECT g.source_a, g.source_b, g.n_pairs,
               ta.n AS n_docs_a, tb.n AS n_docs_b,
               CAST(floor(CAST(g.n_pairs AS DOUBLE) * 1000000.0
                   / CAST(least(ta.n, tb.n) AS DOUBLE)) AS BIGINT) AS rate_x1m
        FROM g JOIN tot ta ON ta.source = g.source_a
               JOIN tot tb ON tb.source = g.source_b
    """,
    "daily_anomalies": """
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2),
        med AS (
            SELECT *,
                   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                   CAST(row_number() OVER (PARTITION BY event_type
                       ORDER BY n_events ASC, day ASC) - 1 AS BIGINT) AS rn
            FROM daily),
        m1 AS (
            SELECT *,
                   max(CASE WHEN rn = (n - 1) // 2 THEN n_events END)
                       OVER (PARTITION BY event_type) AS median_n
            FROM med),
        d AS (SELECT *, abs(n_events - median_n) AS dev FROM m1),
        m2 AS (
            SELECT *,
                   CAST(row_number() OVER (PARTITION BY event_type
                       ORDER BY dev ASC, day ASC) - 1 AS BIGINT) AS rn2
            FROM d),
        m3 AS (
            SELECT *,
                   max(CASE WHEN rn2 = (n - 1) // 2 THEN dev END)
                       OVER (PARTITION BY event_type) AS mad
            FROM m2)
        SELECT event_type, CAST(day AS VARCHAR) AS day, n_events,
               CAST(median_n AS BIGINT) AS median_n,
               CAST(mad AS BIGINT) AS mad
        FROM m3 WHERE dev * 100 > 200 * mad
    """,
    "tfidf_rerank": f"""
        WITH pairs AS ({_MINHASH_SQL}),
        toks2 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents WHERE text IS NOT NULL),
        tf2 AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM toks2 GROUP BY doc_id, term),
        dfq2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                 FROM tf2 GROUP BY term),
        vocab2 AS (SELECT term FROM toks2 GROUP BY term HAVING count(*) >= 2),
        w AS (SELECT tf2.doc_id, tf2.term,
                     CAST((tf2.tf * 1000000) // dfq2.df AS BIGINT) AS w
              FROM tf2 JOIN dfq2 USING (term) JOIN vocab2 USING (term)),
        norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
                  FROM w GROUP BY doc_id),
        dots AS (SELECT p.id_a, p.id_b, CAST(sum(wa.w * wb.w) AS BIGINT) AS dot
                 FROM pairs p
                 JOIN w wa ON wa.doc_id = p.id_a
                 JOIN w wb ON wb.doc_id = p.id_b AND wb.term = wa.term
                 GROUP BY p.id_a, p.id_b)
        SELECT d.id_a, d.id_b, d.dot AS dot_w2,
               CAST(floor(CAST(d.dot AS DOUBLE) * 1000000.0
                   / (sqrt(CAST(na.n2 AS DOUBLE))
                      * sqrt(CAST(nb.n2 AS DOUBLE)))) AS BIGINT) AS cos_x1m
        FROM dots d
        JOIN norms na ON na.doc_id = d.id_a
        JOIN norms nb ON nb.doc_id = d.id_b
        WHERE d.dot > 0
    """,
    "retention_cohorts": f"""
        WITH f AS (SELECT user_id, min(ts) AS first_ts
                   FROM events GROUP BY user_id)
        SELECT CAST({_dd_trunc('f.first_ts', '1w')} AS VARCHAR) AS cohort_week,
               CAST((CAST(epoch(e.ts) AS BIGINT)
                     - CAST(epoch(f.first_ts) AS BIGINT)) // 604800 AS INT)
                   AS week_n,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        FROM events e JOIN f USING (user_id)
        GROUP BY 1, 2
    """,
    "event_funnel": """
        WITH t0 AS (
            SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
        t1 AS (
            SELECT e.user_id, min(e.ts) AS t FROM events e
            JOIN t0 ON e.user_id = t0.user_id AND e.ts > t0.t
            WHERE e.event_type = 'click' GROUP BY e.user_id),
        t2 AS (
            SELECT e.user_id, min(e.ts) AS t FROM events e
            JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t
            WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        SELECT CAST(0 AS INT) AS stage, 'signup' AS stage_name,
               CAST((SELECT count(*) FROM t0) AS BIGINT) AS n_users,
               CAST(NULL AS BIGINT) AS mean_secs_from_prev
        UNION ALL
        SELECT 1, 'click', CAST((SELECT count(*) FROM t1) AS BIGINT),
               (SELECT CAST(sum(CAST(epoch(t1.t) AS BIGINT)
                        - CAST(epoch(t0.t) AS BIGINT)) // count(*) AS BIGINT)
                FROM t1 JOIN t0 USING (user_id))
        UNION ALL
        SELECT 2, 'purchase', CAST((SELECT count(*) FROM t2) AS BIGINT),
               (SELECT CAST(sum(CAST(epoch(t2.t) AS BIGINT)
                        - CAST(epoch(t1.t) AS BIGINT)) // count(*) AS BIGINT)
                FROM t2 JOIN t1 USING (user_id))
    """,
    "bigram_logprob": """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents WHERE text IS NOT NULL),
        bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, t[i] AS w1
               FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
               WHERE len(t) >= 2),
        cbg AS (SELECT bg, w1, CAST(count(*) AS BIGINT) AS cbg
                FROM bg GROUP BY bg, w1),
        u AS (SELECT unnest(string_split(text, ' ')) AS w1
              FROM documents WHERE text IS NOT NULL),
        cw1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS cw1
                FROM u GROUP BY w1),
        model AS (SELECT bg,
                         CAST(floor(ln(CAST(cw1 AS DOUBLE)
                             / CAST(cbg AS DOUBLE)) * 1000.0) AS BIGINT)
                             AS cost
                  FROM cbg JOIN cw1 USING (w1))
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(m.cost) AS BIGINT) AS cost_x1000,
               CAST(sum(m.cost) // count(*) AS BIGINT) AS avg_cost_x1000
        FROM bg b JOIN model m USING (bg)
        GROUP BY b.doc_id
    """,
    "curated_training_corpus": _CENTROID_ASSIGN_SQL + f"""
        , pairs AS (
            SELECT a.vec_id AS va, b.vec_id AS vb,
                   CAST(floor(
                       list_reduce(list_transform(
                           generate_series(1, len(a.emb)),
                           i -> CAST(a.emb[i] AS DOUBLE)
                                * CAST(b.emb[i] AS DOUBLE)),
                           (x, y) -> x + y)
                       / (sqrt(list_reduce(list_transform(
                              generate_series(1, len(a.emb)),
                              i -> CAST(a.emb[i] AS DOUBLE)
                                   * CAST(a.emb[i] AS DOUBLE)),
                              (x, y) -> x + y))
                          * sqrt(list_reduce(list_transform(
                              generate_series(1, len(b.emb)),
                              i -> CAST(b.emb[i] AS DOUBLE)
                                   * CAST(b.emb[i] AS DOUBLE)),
                              (x, y) -> x + y)))
                       * 1000000.0) AS BIGINT) AS cos_x1m
            FROM assigned a JOIN assigned b
              ON a.assigned_label = b.assigned_label AND a.vec_id < b.vec_id),
        losers AS (SELECT DISTINCT vb FROM pairs WHERE cos_x1m >= 400000),
        g AS (
            SELECT doc_id, lang, text,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(floor(CAST(length(replace(text, ' ', '')) * 100
                        AS DOUBLE) / len(string_split(text, ' '))) AS BIGINT)
                       AS mtl,
                   CAST(floor(CAST(len(list_distinct(string_split(text, ' ')))
                        * 100 AS DOUBLE) / len(string_split(text, ' ')))
                        AS BIGINT) AS rep
            FROM documents WHERE text IS NOT NULL),
        gated AS (
            SELECT doc_id, lang, text, n_tokens FROM g
            WHERE n_tokens BETWEEN 20 AND 5000
              AND mtl BETWEEN 250 AND 1200 AND rep >= 20),
        d AS (SELECT *, md5(lower(trim(regexp_replace(regexp_replace(text, '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'), '[ \\t\\n\\r]+', ' ', 'g')))) AS dig FROM gated),
        reps AS (SELECT dig, min(doc_id) AS md FROM d GROUP BY dig),
        ek AS (SELECT d.doc_id, d.lang, d.n_tokens
               FROM d JOIN reps ON d.dig = reps.dig AND d.doc_id = reps.md)
        SELECT doc_id, lang, n_tokens
        FROM ek
        WHERE doc_id NOT IN (SELECT vb FROM losers)
          AND {_hex_int_sql("md5(CAST(doc_id AS VARCHAR))", 15)}
              % 2147483647 >= 429496728
    """,
    "normalize_text": """
        WITH n AS (
          SELECT doc_id, text,
                 lower(trim(regexp_replace(
                     regexp_replace(text, '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'),
                     '[ \\t\\n\\r]+', ' ', 'g'))) AS norm
          FROM documents WHERE text IS NOT NULL)
        SELECT doc_id, md5(norm) AS norm_digest,
               CAST(length(norm) AS BIGINT) AS n_chars_norm,
               CAST(length(text) - length(norm) AS BIGINT) AS n_chars_removed
        FROM n
    """,
    "quality_score": """
        WITH base AS (
          SELECT doc_id, text,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(floor(CAST(length(replace(text, ' ', '')) * 100 AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE)) AS BIGINT)
                     AS mtl,
                 CAST(floor(CAST(len(list_distinct(string_split(text, ' '))) * 100
                     AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE))
                     AS BIGINT) AS rep,
                 CASE WHEN length(text) > 0 THEN
                   CAST(floor(((ln(length(text))
                       - list_sum(list_transform(
                             list_sort(list_distinct(string_split(text, ''))),
                             c -> (length(text) - length(replace(text, c, '')))
                                  * ln(length(text)
                                       - length(replace(text, c, '')))))
                         / length(text)) / ln(2)) * 1000) AS BIGINT)
               ELSE 0 END AS ent_x1000,
                 len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das', 'und', 'ist', 'nicht'))) AS h_de, len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS h_en, len(list_filter(string_split(text, ' '), t -> t IN ('el', 'los', 'las', 'y', 'es', 'no'))) AS h_es, len(list_filter(string_split(text, ' '), t -> t IN ('le', 'la', 'les', 'et', 'est', 'ne'))) AS h_fr
          FROM documents WHERE text IS NOT NULL),
        scored AS (
          SELECT doc_id,
                 CASE WHEN n_tokens BETWEEN 20 AND 5000 THEN 100 ELSE 0 END
                     AS s_tokens,
                 CASE WHEN mtl BETWEEN 250 AND 1200 THEN 100 ELSE 0 END AS s_mtl,
                 least(rep, 100) AS s_repetition,
                 least(CAST(floor(CAST(ent_x1000 AS DOUBLE) / 40.0) AS BIGINT),
                       100) AS s_entropy,
                 least(greatest(h_de, h_en, h_es, h_fr) * 10, 100) AS s_stopword
          FROM base)
        SELECT doc_id,
               CAST(s_tokens AS BIGINT) AS s_tokens,
               CAST(s_mtl AS BIGINT) AS s_mtl,
               CAST(s_repetition AS BIGINT) AS s_repetition,
               CAST(s_entropy AS BIGINT) AS s_entropy,
               CAST(s_stopword AS BIGINT) AS s_stopword,
               CAST(floor(CAST(2*s_tokens + s_mtl + 2*s_repetition
                   + 2*s_entropy + s_stopword AS DOUBLE) / 8.0) AS BIGINT)
                   AS quality_x100,
               CASE WHEN floor(CAST(2*s_tokens + s_mtl + 2*s_repetition
                        + 2*s_entropy + s_stopword AS DOUBLE) / 8.0) >= 70
                        THEN 'high'
                    WHEN floor(CAST(2*s_tokens + s_mtl + 2*s_repetition
                        + 2*s_entropy + s_stopword AS DOUBLE) / 8.0) >= 40
                        THEN 'medium'
                    ELSE 'low' END AS tier
        FROM scored
    """,
    "snapshot_diff": """
        WITH src AS (SELECT user_id AS asset_id, event_id AS uid,
                            event_type, value
                     FROM events),
        bs AS (SELECT asset_id, event_type, value FROM
               (SELECT *, row_number() OVER (PARTITION BY asset_id
                    ORDER BY uid DESC) AS rn FROM src WHERE uid <= 5000)
               WHERE rn = 1),
        asn AS (SELECT asset_id, event_type, value FROM
                (SELECT *, row_number() OVER (PARTITION BY asset_id
                     ORDER BY uid DESC) AS rn FROM src)
                WHERE rn = 1)
        SELECT CAST(COALESCE(b.asset_id, a.asset_id) AS BIGINT) AS asset_id,
               CASE WHEN b.asset_id IS NULL THEN 'added'
                    WHEN a.asset_id IS NULL THEN 'removed'
                    ELSE 'changed' END AS status
        FROM bs b FULL OUTER JOIN asn a USING (asset_id)
        WHERE b.asset_id IS NULL OR a.asset_id IS NULL
           OR b.event_type != a.event_type OR b.value != a.value
           OR (b.event_type IS NULL) != (a.event_type IS NULL)
           OR (b.value IS NULL) != (a.value IS NULL)
    """,
    "integrity_audit": """
        SELECT 'lineitem->orders' AS relationship,
               CAST(count(*) AS BIGINT) AS n_orphans
        FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        UNION ALL
        SELECT 'lineitem->part',
               CAST(count(*) AS BIGINT)
        FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
        UNION ALL
        SELECT 'orders->customer',
               CAST(count(*) AS BIGINT)
        FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    """,
    "tfidf_vectorize": """
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                      FROM documents WHERE text IS NOT NULL),
        tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
               FROM toks GROUP BY doc_id, token),
        dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY token),
        c AS (SELECT token, count(*) AS cnt
              FROM toks GROUP BY token HAVING count(*) >= 2),
        v AS (SELECT token,
                     CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) - 1
                         AS BIGINT) AS token_id
              FROM c),
        s AS (SELECT tf.doc_id, v.token_id,
                     CAST((tf.tf * 1000000) // dfq.df AS BIGINT) AS w
              FROM tf JOIN dfq USING (token) JOIN v USING (token))
        SELECT doc_id,
               array_to_string(list(CAST(token_id AS VARCHAR)
                   ORDER BY token_id), ',') AS token_ids,
               array_to_string(list(CAST(w AS VARCHAR)
                   ORDER BY token_id), ',') AS weights_x1m,
               CAST(count(*) AS INT) AS n_terms
        FROM s GROUP BY doc_id
    """,
    "brand_revenue_salted": """
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(18,2))
                      - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
    "semantic_dedup": _CENTROID_ASSIGN_SQL + """
        , pairs AS (
            SELECT a.assigned_label AS cluster,
                   a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
                   CAST(floor(
                       list_reduce(list_transform(
                           generate_series(1, len(a.emb)),
                           i -> CAST(a.emb[i] AS DOUBLE)
                                * CAST(b.emb[i] AS DOUBLE)),
                           (x, y) -> x + y)
                       / (sqrt(list_reduce(list_transform(
                              generate_series(1, len(a.emb)),
                              i -> CAST(a.emb[i] AS DOUBLE)
                                   * CAST(a.emb[i] AS DOUBLE)),
                              (x, y) -> x + y))
                          * sqrt(list_reduce(list_transform(
                              generate_series(1, len(b.emb)),
                              i -> CAST(b.emb[i] AS DOUBLE)
                                   * CAST(b.emb[i] AS DOUBLE)),
                              (x, y) -> x + y)))
                       * 1000000.0) AS BIGINT) AS cos_x1m
            FROM assigned a JOIN assigned b
              ON a.assigned_label = b.assigned_label
             AND a.vec_id < b.vec_id)
        SELECT cluster, vec_id_a, vec_id_b, cos_x1m
        FROM pairs WHERE cos_x1m >= 400000
    """,
    "dedup_incremental": f"""
        WITH {_SHINGLES_SQL},
        hv AS (
            SELECT doc_id,
                   {_hex_int_sql('md5(shingle)', 15)} % {_MINHASH_P} AS hv
            FROM sh),
        seeded AS (
            SELECT doc_id, unnest(generate_series(0, 11)) AS seed, hv
            FROM hv),
        hashed AS (
            SELECT doc_id, seed,
                   (((2654435761 * (seed + 1)) % {_MINHASH_P}) * hv
                    + ((40503 * (seed + 7)) % {_MINHASH_P})) % {_MINHASH_P} AS h
            FROM seeded),
        sig AS (SELECT doc_id, seed, min(h) AS minhash
                FROM hashed GROUP BY doc_id, seed),
        sigarr AS (SELECT doc_id, list(minhash ORDER BY seed) AS s
                   FROM sig GROUP BY doc_id),
        banded AS (
            SELECT doc_id, CAST(floor(seed / 3.0) AS INT) AS band,
                   md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed))
                       AS bucket
            FROM sig GROUP BY doc_id, CAST(floor(seed / 3.0) AS INT)),
        cand AS (
            SELECT DISTINCT i.doc_id AS doc_id, x.doc_id AS index_id
            FROM banded i JOIN banded x
                ON i.band = x.band AND i.bucket = x.bucket
            WHERE i.doc_id % 10 >= 8 AND x.doc_id % 10 < 8),
        scored AS (
            SELECT c.doc_id, c.index_id,
                   CAST(floor(CAST(list_reduce(
                       list_transform(generate_series(1, 12),
                           j -> CASE WHEN si.s[j] = sx.s[j] THEN 1 ELSE 0 END),
                       (a, b) -> a + b) AS DOUBLE) * 100.0 / 12.0) AS BIGINT)
                       AS agree_x100
            FROM cand c
            JOIN sigarr si ON si.doc_id = c.doc_id
            JOIN sigarr sx ON sx.doc_id = c.index_id),
        best AS (
            SELECT doc_id, index_id, agree_x100,
                   row_number() OVER (PARTITION BY doc_id
                       ORDER BY agree_x100 DESC, index_id ASC) AS rn
            FROM scored)
        SELECT doc_id, index_id, agree_x100
        FROM best WHERE rn = 1 AND agree_x100 >= 50
    """,
    "boilerplate_scrub": """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents WHERE text IS NOT NULL),
        base AS (SELECT doc_id, t,
                        CAST(floor(len(t) / 3.0) AS BIGINT) AS nf
                 FROM toks),
        sp AS (
            SELECT doc_id, pos,
                   md5(array_to_string(t[pos * 3 + 1 : pos * 3 + 3], ' ')) AS h
            FROM (SELECT doc_id, t,
                         unnest(generate_series(0, nf - 1)) AS pos
                  FROM base WHERE nf > 0)),
        hot AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= 2),
        dr AS (SELECT doc_id, list(pos) AS dp,
                      CAST(count(*) AS BIGINT) AS n_dropped
               FROM sp JOIN hot USING (h) GROUP BY doc_id),
        rebuilt AS (
            SELECT b.doc_id, b.nf AS n_spans,
                   coalesce(dr.n_dropped, 0) AS n_dropped,
                   coalesce(array_to_string(
                       flatten(list_transform(
                           list_filter(
                               CASE WHEN b.nf > 0
                                    THEN generate_series(0, b.nf - 1)
                                    ELSE [] END,
                               p -> NOT list_contains(coalesce(dr.dp, []), p)),
                           p -> b.t[p * 3 + 1 : p * 3 + 3]))
                       || b.t[b.nf * 3 + 1 : len(b.t)], ' '), '')
                       AS clean_text
            FROM base b LEFT JOIN dr ON dr.doc_id = b.doc_id)
        SELECT doc_id, n_spans, n_dropped, clean_text FROM rebuilt
    """,
    "mixture_plan": """
        WITH per_source AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents WHERE text IS NOT NULL GROUP BY source),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM per_source),
        planned AS (
            SELECT p.source, p.n_docs, p.n_tokens,
                   CAST(floor(100000.0 / CAST(t.ns AS DOUBLE)) AS BIGINT)
                       AS planned_tokens
            FROM per_source p, tot t)
        SELECT source, n_docs, n_tokens, planned_tokens,
               CAST(floor(least(1.0, CAST(planned_tokens AS DOUBLE)
                   / CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
                   AS sample_rate_x1m,
               CAST(floor(CAST(planned_tokens AS DOUBLE)
                   / CAST(n_tokens AS DOUBLE) * 100.0) AS BIGINT)
                   AS epochs_x100
        FROM planned
    """,
    "leakage_safe_split": f"""
        WITH RECURSIVE pairs AS ({_MINHASH_SQL}),
        {_CC_CLUSTERS_SQL},
        keyed AS (
            SELECT d.doc_id, d.source, c.cluster_id,
                   {_hex_int_sql(
                       "md5(CAST(coalesce(c.cluster_id, d.doc_id)"
                       " AS VARCHAR))", 15)}
                       % 2147483647 AS h31
            FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id)
        SELECT doc_id, source, cluster_id,
               CASE WHEN h31 < 214748364 THEN 'val'
                    WHEN h31 < 429496728 THEN 'test'
                    ELSE 'train' END AS split
        FROM keyed
    """,
    "bpe_merge_pairs": """
        WITH words AS (
            SELECT word, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS word
                  FROM documents WHERE text IS NOT NULL)
            WHERE word != ''
            GROUP BY word),
        prs AS (
            SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r,
                   freq
            FROM words, UNNEST(range(1, length(word))) AS u(i))
        SELECT l AS left, r AS right,
               CAST(sum(freq) AS BIGINT) AS pair_count
        FROM prs
        GROUP BY l, r
        ORDER BY pair_count DESC, l ASC, r ASC
        LIMIT 20
    """,
    "dsir_weights": f"""
        WITH toks AS (
            SELECT doc_id, (lang = 'en') AS is_t,
                   string_split(text, ' ') AS t
            FROM documents WHERE text IS NOT NULL),
        pos AS (
            SELECT doc_id, is_t, t,
                   unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
            FROM toks),
        shs AS (
            -- materialize the shingle BEFORE _hex_int_sql: its digit-fold
            -- lambda binds a variable named i, which would capture the
            -- slice bound here
            SELECT doc_id, is_t, array_to_string(t[i:i+1], ' ') AS sh
            FROM pos),
        feats AS (
            SELECT doc_id, is_t,
                   {_hex_int_sql("md5(sh)", 15)} % 10000 AS bucket
            FROM shs),
        cnts AS (
            SELECT bucket,
                   CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
                       AS ct,
                   CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT)
                       AS cr
            FROM feats GROUP BY bucket),
        tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM cnts),
        model AS (
            SELECT bucket,
                   CAST(floor(ln(CAST((ct + 1) * (nr + 10000) AS DOUBLE)
                       / CAST((cr + 1) * (nt + 10000) AS DOUBLE)) * 1000.0)
                       AS BIGINT) AS lr
            FROM cnts, tot)
        SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
               CAST(sum(m.lr) AS BIGINT) AS importance_x1000
        FROM feats f JOIN model m USING (bucket)
        GROUP BY f.doc_id
    """,
}

# ROC-AUC over the composite quality score: the score CTE is the
# quality_score oracle verbatim (one definition, two consumers), joined
# back to documents for the language label; rank-sum AUC with tie-average
# ranks in exact HUGEINT arithmetic mirroring score_auc's decimal math.
ORACLES["quality_auc"] = f"""
    WITH q AS ({ORACLES["quality_score"]}),
    lab AS (
        SELECT q.quality_x100 AS s, (d.lang = 'en') AS y
        FROM q JOIN documents d USING (doc_id)
        WHERE d.lang IS NOT NULL),
    per AS (
        SELECT s, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p
        FROM lab GROUP BY s),
    rk AS (
        SELECT *, COALESCE(SUM(c) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum
        FROM per),
    t AS (
        SELECT SUM(CAST(p AS HUGEINT) * (2 * cum + c + 1)) AS r2,
               SUM(p) AS np, SUM(c - p) AS nn
        FROM rk)
    SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           CAST(CASE WHEN np > 0 AND nn > 0 THEN
                (r2 - CAST(np AS HUGEINT) * (np + 1)) * 1000000
                // (2 * CAST(np AS HUGEINT) * nn)
           END AS BIGINT) AS auc_x1000000
    FROM t
"""

# Threshold-sweep curve over the same score/label pairing: cumulative
# confusion counts from the top score down, floor-scaled ratios via
# HUGEINT integer division (mirrors threshold_sweep's decimal div).
ORACLES["quality_pr_curve"] = f"""
    WITH q AS ({ORACLES["quality_score"]}),
    lab AS (
        SELECT q.quality_x100 AS score, (d.lang = 'en') AS y
        FROM q JOIN documents d USING (doc_id)
        WHERE d.lang IS NOT NULL),
    per AS (
        SELECT score, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p
        FROM lab GROUP BY score),
    cum AS (
        SELECT score,
               SUM(p) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
               SUM(c - p) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
               SUM(p) OVER () AS npos, SUM(c - p) OVER () AS nneg
        FROM per)
    SELECT score, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(npos - tp AS BIGINT) AS fn,
           CAST(nneg - fp AS BIGINT) AS tn,
           CAST(CAST(tp AS HUGEINT) * 1000000 // (tp + fp) AS BIGINT)
               AS precision_x1000000,
           CAST(CASE WHEN npos > 0 THEN
                CAST(tp AS HUGEINT) * 1000000 // npos
           END AS BIGINT) AS recall_x1000000
    FROM cum
"""


def _kmeans_ctes(
    k: int,
    iters: int,
    dims: int,
    vec_expr: str = "embedding",
    tag: str = "",
) -> tuple[str, str]:
    """Unrolled Lloyd recurrence mirroring kmeans_train's integer spec:
    quantize -> hash-order seeds -> per round (floor-div re-quantized
    centroids, exact integer argmin assignment, per-dim member sums with
    empty-cluster carry) -> final assignment.  Every step is integer
    arithmetic, so the unroll is bit-exact vs Spark.  Returns
    ``(with_chain, final_assignment_cte)`` so consumers (the digest
    oracle, the cluster-balanced sample oracle) compose their own final
    SELECT on top.

    ``vec_expr`` is the input-vector SQL expression (default the raw
    embedding; PQ passes a 1-based inclusive slice
    ``embedding[a:b]``) and ``tag`` suffixes every CTE name so several
    chains — one per PQ subspace — compose in one WITH (the per-subspace
    recurrences are independent, so PQ == m tagged copies of this
    chain)."""
    h31 = _hex_int_sql("md5(CAST(vec_id AS VARCHAR))", 15)
    # exact floor division (a // b with sign-safe floor mod), a = 2*v + n,
    # b = 2*n: DuckDB % truncates like Spark's, so add-then-re-mod makes
    # the remainder nonnegative and the subtracted quotient exact.
    cdiv = (
        "CAST(((2*v + n) - ((((2*v + n) % (2*n)) + 2*n) % (2*n)))"
        " // (2*n) AS BIGINT)"
    )
    t = tag
    parts = [
        f"""q{t} AS (
            SELECT vec_id,
                   list_transform({vec_expr}, x ->
                       CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
                       AS xq
            FROM embeddings),
        seeds{t} AS (
            SELECT CAST(row_number() OVER
                       (ORDER BY {h31} % 2147483647, vec_id) AS INTEGER) AS j,
                   xq
            FROM q{t}
            QUALIFY row_number() OVER
                (ORDER BY {h31} % 2147483647, vec_id) <= {k}),
        st0{t} AS (SELECT j, xq AS s, CAST(1 AS BIGINT) AS n FROM seeds{t})"""
    ]
    for r in range(1, iters + 2):  # iters updates + one final assignment
        parts.append(
            f"""c{r}{t} AS (
            SELECT j, list_transform(s, v -> {cdiv}) AS ci FROM st{r - 1}{t})"""
        )
        parts.append(
            f"""a{r}{t} AS (
            SELECT q.vec_id, c.j AS cl
            FROM q{t} AS q, c{r}{t} AS c
            QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY
                list_sum(list_transform(generate_series(1, {dims}),
                    dd -> (q.xq[dd] - c.ci[dd]) * (q.xq[dd] - c.ci[dd]))),
                c.j) = 1)"""
        )
        if r <= iters:
            parts.append(
                f"""e{r}{t} AS (
            SELECT a.cl AS j, g.dd AS dd, CAST(sum(q.xq[g.dd]) AS BIGINT)
                       AS s, CAST(count(*) AS BIGINT) AS n
            FROM a{r}{t} AS a JOIN q{t} AS q ON a.vec_id = q.vec_id,
                 unnest(generate_series(1, {dims})) AS g(dd)
            GROUP BY a.cl, g.dd),
        u{r}{t} AS (
            SELECT j, list(s ORDER BY dd) AS s, max(n) AS n
            FROM e{r}{t} GROUP BY j),
        st{r}{t} AS (
            SELECT p.j, COALESCE(u.s, p.s) AS s, COALESCE(u.n, p.n) AS n
            FROM st{r - 1}{t} AS p LEFT JOIN u{r}{t} AS u ON p.j = u.j)"""
            )
    fin = iters + 1
    return ",\n        ".join(parts), f"a{fin}{t}"


def _kmeans_oracle(k: int, iters: int, dims: int) -> str:
    chain, afin = _kmeans_ctes(k, iters, dims)
    cfin = afin.replace("a", "c")
    return (
        "WITH " + chain
        + f""",
        cnt AS (
            SELECT cl AS cluster_id, CAST(count(*) AS BIGINT) AS n_points
            FROM {afin} GROUP BY cl),
        dig AS (
            SELECT j AS cluster_id, CAST(list_sum(ci) AS BIGINT)
                       AS centroid_sum,
                   CAST(list_sum(list_transform(ci, v -> abs(v))) AS BIGINT)
                       AS centroid_l1
            FROM {cfin})
        SELECT cluster_id, n_points, centroid_sum, centroid_l1
        FROM cnt JOIN dig USING (cluster_id)"""
    )


def _cluster_sample_oracle(k: int, iters: int, dims: int, quota: int) -> str:
    """Cluster-balanced sample: the kmeans recurrence + the house
    stratified-quota rank (md5-hash31 order, key tie-break) per cluster."""
    chain, afin = _kmeans_ctes(k, iters, dims)
    h31 = _hex_int_sql("md5(CAST(vec_id AS VARCHAR))", 15)
    return (
        "WITH " + chain
        + f""",
        rk AS (
            SELECT vec_id, cl,
                   row_number() OVER (PARTITION BY cl
                       ORDER BY {h31} % 2147483647, vec_id) AS rk
            FROM {afin})
        SELECT vec_id, CAST(cl AS INTEGER) AS cluster_id
        FROM rk WHERE rk <= {quota}"""
    )


ORACLES["kmeans_train"] = _kmeans_oracle(k=8, iters=2, dims=64)
ORACLES["cluster_balanced_sample"] = _cluster_sample_oracle(
    k=8, iters=2, dims=64, quota=10
)


def _pq_chains(m: int, k: int, iters: int, dim: int) -> tuple[str, list[str], list[str]]:
    """The m independent per-subspace Lloyd chains (tagged copies of
    _kmeans_ctes over embedding slices) composing one WITH clause.
    Returns (joined chains, [final assignment CTE per s],
    [final centroid CTE per s])."""
    sub = dim // m
    chains, afins, cfins = [], [], []
    for s in range(m):
        chain, afin = _kmeans_ctes(
            k, iters, sub,
            vec_expr=f"embedding[{s * sub + 1}:{(s + 1) * sub}]",
            tag=f"_p{s}",
        )
        chains.append(chain)
        afins.append(afin)
        cfins.append(f"c{iters + 1}_p{s}")
    return ",\n        ".join(chains), afins, cfins


def _pq_codebooks_oracle(m: int, k: int, iters: int, dim: int) -> str:
    chains, afins, cfins = _pq_chains(m, k, iters, dim)
    legs = [
        f"""SELECT {s} AS subspace, CAST(a.cl AS INTEGER) AS code,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(min(list_sum(c.ci)) AS BIGINT) AS centroid_sum,
               CAST(min(list_sum(list_transform(c.ci, v -> abs(v))))
                   AS BIGINT) AS centroid_l1
        FROM {afins[s]} AS a JOIN {cfins[s]} AS c ON a.cl = c.j
        GROUP BY a.cl"""
        for s in range(m)
    ]
    return "WITH " + chains + "\n        " + "\n        UNION ALL\n        ".join(legs)


def _pq_encode_oracle(m: int, k: int, iters: int, dim: int) -> str:
    chains, afins, _ = _pq_chains(m, k, iters, dim)
    joins = "".join(
        f" JOIN {afins[s]} AS a{s} USING (vec_id)" for s in range(1, m)
    )
    codes = " || ',' || ".join(
        f"CAST(a{s}.cl AS VARCHAR)" for s in range(m)
    )
    return (
        "WITH " + chains
        + f"""
        SELECT a0.vec_id, {codes} AS codes
        FROM {afins[0]} AS a0{joins}"""
    )


def _ann_pq_oracle(m: int, k: int, iters: int, dim: int, topk: int) -> str:
    """ADC == exact squared distance to the codeword reconstruction: per
    subspace join the vector's assigned code to its codeword and sum the
    per-dim squared deltas against the quantized query slice."""
    chains, afins, cfins = _pq_chains(m, k, iters, dim)
    sub = dim // m
    recon = ",\n        ".join(
        f"""recon{s} AS (
            SELECT a.vec_id, c.ci
            FROM {afins[s]} AS a JOIN {cfins[s]} AS c ON a.cl = c.j)"""
        for s in range(m)
    )
    joins = "".join(
        f" JOIN recon{s} AS r{s} ON r0.vec_id = r{s}.vec_id"
        for s in range(1, m)
    )
    dist = " + ".join(
        f"""list_sum(list_transform(generate_series(1, {sub}),
            dd -> (qq.qx[{s * sub} + dd] - r{s}.ci[dd])
                  * (qq.qx[{s * sub} + dd] - r{s}.ci[dd])))"""
        for s in range(m)
    )
    return (
        "WITH " + chains + ",\n        " + recon
        + f""",
        qq AS (
            SELECT vec_id AS query_id,
                   list_transform(embedding, x ->
                       CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
                       AS qx
            FROM embeddings WHERE vec_id < 5),
        scored AS (
            SELECT qq.query_id, r0.vec_id,
                   CAST({dist} AS BIGINT) AS adc
            FROM qq, recon0 AS r0{joins})
        SELECT query_id, vec_id,
               CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adc, vec_id) AS INTEGER) AS rank,
               adc
        FROM scored
        QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY adc, vec_id) <= {topk}"""
    )


ORACLES["pq_codebooks"] = _pq_codebooks_oracle(
    m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM
)
ORACLES["pq_encode"] = _pq_encode_oracle(
    m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM
)
ORACLES["ann_pq"] = _ann_pq_oracle(
    m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM, topk=10
)


def _ann_ivfpq_oracle(
    m: int, k: int, iters: int, dim: int,
    ivf_k: int, ivf_iters: int, n_probe: int, topk: int,
) -> str:
    """IVF+PQ: the coarse-cell chain (one more tagged kmeans recurrence)
    restricts each query's ADC scan to its n_probe nearest cells; the ADC
    itself is the ann_pq reconstruction distance."""
    chains, afins, cfins = _pq_chains(m, k, iters, dim)
    ivf_chain, ivf_afin = _kmeans_ctes(
        ivf_k, ivf_iters, dim, tag="_ivf"
    )
    ivf_cfin = f"c{ivf_iters + 1}_ivf"
    sub = dim // m
    recon = ",\n        ".join(
        f"""recon{s} AS (
            SELECT a.vec_id, c.ci
            FROM {afins[s]} AS a JOIN {cfins[s]} AS c ON a.cl = c.j)"""
        for s in range(m)
    )
    joins = "".join(
        f" JOIN recon{s} AS r{s} ON r0.vec_id = r{s}.vec_id"
        for s in range(1, m)
    )
    dist = " + ".join(
        f"""list_sum(list_transform(generate_series(1, {sub}),
            dd -> (qq.qx[{s * sub} + dd] - r{s}.ci[dd])
                  * (qq.qx[{s * sub} + dd] - r{s}.ci[dd])))"""
        for s in range(m)
    )
    return (
        "WITH " + chains + ",\n        " + ivf_chain + ",\n        " + recon
        + f""",
        qq AS (
            SELECT vec_id AS query_id,
                   list_transform(embedding, x ->
                       CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
                       AS qx
            FROM embeddings WHERE vec_id < 5),
        probes AS (
            SELECT qq.query_id, c.j AS cell
            FROM qq, {ivf_cfin} AS c
            QUALIFY row_number() OVER (PARTITION BY qq.query_id ORDER BY
                list_sum(list_transform(generate_series(1, {dim}),
                    dd -> (qq.qx[dd] - c.ci[dd]) * (qq.qx[dd] - c.ci[dd]))),
                c.j) <= {n_probe}),
        scored AS (
            SELECT qq.query_id, r0.vec_id,
                   CAST({dist} AS BIGINT) AS adc
            FROM qq
            JOIN probes p ON qq.query_id = p.query_id
            JOIN {ivf_afin} AS cellof ON cellof.cl = p.cell
            JOIN recon0 AS r0 ON r0.vec_id = cellof.vec_id{joins})
        SELECT query_id, vec_id,
               CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adc, vec_id) AS INTEGER) AS rank,
               adc
        FROM scored
        QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY adc, vec_id) <= {topk}"""
    )


ORACLES["ann_ivfpq"] = _ann_ivfpq_oracle(
    m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM,
    ivf_k=8, ivf_iters=1, n_probe=3, topk=10,
)

def _bpe_chain(n_merges: int) -> str:
    """Unrolled BPE-train recurrence mirroring bpe.bpe_train: per round a
    frequency-weighted adjacent-pair count over the word table, the
    (count desc, left, right) argmax, and a one-pass merge rewrite.  The
    merge pass folds with a PLAIN LIST accumulator — state = emitted ++
    [pending], treating the last element as the pending symbol, which is
    exactly the classic (pend, out) scan because ``merged = left||right``
    can never equal ``left``, so a just-merged emission never falsely
    re-matches.  (DuckDB 1.0's list_reduce mis-executes folds whose
    accumulator is a STRUCT containing a LIST — it applies only the final
    two steps — so the struct form is unusable.)  The LEFT JOIN keeps the
    chain total when a round finds no pair (w passes through)."""
    parts = ["""w0 AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq,
               string_split(word, '') AS s
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents WHERE text IS NOT NULL)
        WHERE word != ''
        GROUP BY word)"""]
    for r in range(1, n_merges + 1):
        parts.append(f"""p{r} AS (
        SELECT s[u.i] AS pleft, s[u.i + 1] AS pright,
               CAST(sum(freq) AS BIGINT) AS cnt
        FROM w{r - 1}, unnest(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY 1, 2)""")
        parts.append(f"""m{r} AS (
        SELECT pleft, pright, cnt FROM p{r}
        ORDER BY cnt DESC, pleft ASC, pright ASC LIMIT 1)""")
        parts.append(f"""w{r} AS (
        SELECT w.word, w.freq,
               CASE WHEN m.pleft IS NULL THEN w.s
                    ELSE list_reduce(
                   list_transform(w.s, e -> [e]),
                   (acc, e) -> CASE
                       WHEN acc[-1] = m.pleft AND e[1] = m.pright
                           THEN list_append(
                               acc[1:len(acc) - 1], m.pleft || m.pright)
                       ELSE list_append(acc, e[1])
                   END) END AS s
        FROM w{r - 1} AS w LEFT JOIN m{r} AS m ON TRUE)""")
    return ",\n    ".join(parts)


def _bpe_train_oracle(n_merges: int) -> str:
    legs = "\n    UNION ALL ".join(
        f"""SELECT CAST({r - 1} AS BIGINT) AS step, pleft AS "left",
               pright AS "right", cnt AS pair_count FROM m{r}"""
        for r in range(1, n_merges + 1)
    )
    return "WITH " + _bpe_chain(n_merges) + "\n    " + legs


def _bpe_encode_oracle(n_merges: int) -> str:
    """Encode == the train chain's FINAL word segmentation flattened back
    over each document's token sequence (train->encode round-trip)."""
    return ("WITH " + _bpe_chain(n_merges) + f""",
    docw AS (
        SELECT doc_id, u.i AS pos, t[u.i] AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents WHERE text IS NOT NULL),
             unnest(generate_series(1, len(t))) AS u(i)
        WHERE t[u.i] != ''),
    segs AS (
        SELECT d.doc_id,
               flatten(list(w.s ORDER BY d.pos)) AS pieces
        FROM docw d JOIN w{n_merges} AS w USING (word)
        GROUP BY d.doc_id)
    SELECT b.doc_id,
           COALESCE(array_to_string(s.pieces, ','), '') AS pieces,
           CAST(COALESCE(len(s.pieces), 0) AS BIGINT) AS n_pieces
    FROM (SELECT DISTINCT doc_id FROM documents WHERE text IS NOT NULL) b
    LEFT JOIN segs s USING (doc_id)""")


ORACLES["bpe_train_merges"] = _bpe_train_oracle(10)
ORACLES["bpe_encode_pieces"] = _bpe_encode_oracle(10)

ORACLES["ann_ivfpq_recall"] = f"""
    WITH bf AS ({ORACLES["ann_bruteforce"]}),
    ivfpq AS ({ORACLES["ann_ivfpq"]})
    SELECT b.query_id,
           CAST(count(p.vec_id) AS BIGINT) AS hits,
           CAST(count(p.vec_id) * 100 // count(*) AS BIGINT) AS recall_x100
    FROM bf b LEFT JOIN ivfpq p
        ON b.query_id = p.query_id AND b.neighbor_id = p.vec_id
    GROUP BY b.query_id
"""

ORACLES["ann_pq_recall"] = f"""
    WITH bf AS ({ORACLES["ann_bruteforce"]}),
    pqr AS ({ORACLES["ann_pq"]})
    SELECT b.query_id,
           CAST(count(p.vec_id) AS BIGINT) AS hits,
           CAST(count(p.vec_id) * 100 // count(*) AS BIGINT) AS recall_x100
    FROM bf b LEFT JOIN pqr p
        ON b.query_id = p.query_id AND b.neighbor_id = p.vec_id
    GROUP BY b.query_id
"""


def _pq_recon_error_oracle(m: int, k: int, iters: int, dim: int) -> str:
    """Per-subspace MIN codeword distance summed — the argmin tie rule is
    irrelevant for the minimum itself, so no QUALIFY needed."""
    chains, _, cfins = _pq_chains(m, k, iters, dim)
    sub = dim // m
    errs = ",\n        ".join(
        f"""err{s} AS (
            SELECT q.vec_id,
                   MIN(list_sum(list_transform(generate_series(1, {sub}),
                       dd -> (q.xq[dd] - c.ci[dd]) * (q.xq[dd] - c.ci[dd]))))
                       AS e
            FROM q_p{s} AS q, {cfins[s]} AS c
            GROUP BY q.vec_id)"""
        for s in range(m)
    )
    joins = "".join(
        f" JOIN err{s} AS e{s} USING (vec_id)" for s in range(1, m)
    )
    total = " + ".join(f"e{s}.e" for s in range(m))
    return (
        "WITH " + chains + ",\n        " + errs
        + f"""
        SELECT vec_id, CAST({total} AS BIGINT) AS err_sq
        FROM err0 AS e0{joins}"""
    )


ORACLES["pq_reconstruction_error"] = _pq_recon_error_oracle(
    m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM
)

ORACLES["scrub_repeated_spans"] = """
    WITH toks3 AS (SELECT doc_id, string_split(text, ' ') AS t
                   FROM documents
                   WHERE text IS NOT NULL
                     AND len(string_split(text, ' ')) >= 3),
    g AS (SELECT doc_id, u.i AS pos,
                 array_to_string(t[u.i:u.i + 2], ' ') AS gram
          FROM toks3, unnest(generate_series(1, len(t) - 2)) AS u(i)),
    flagged AS (SELECT gram FROM g
                GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    cov AS (SELECT g.doc_id, g.pos FROM g JOIN flagged USING (gram)),
    covtok AS (SELECT DISTINCT c.doc_id, c.pos + d.d AS j
               FROM cov c, unnest(generate_series(0, 2)) AS d(d)),
    alltoks AS (SELECT doc_id, string_split(text, ' ') AS t
                FROM documents WHERE text IS NOT NULL),
    pos AS (SELECT doc_id, u.i AS j, t[u.i] AS tok
            FROM alltoks, unnest(generate_series(1, len(t))) AS u(i)),
    kept AS (SELECT p.doc_id, p.j, p.tok
             FROM pos p LEFT JOIN covtok c
                 ON p.doc_id = c.doc_id AND p.j = c.j
             WHERE c.j IS NULL)
    SELECT a.doc_id,
           CAST(len(a.t) AS BIGINT) AS n_tokens,
           CAST(len(a.t) - count(k.tok) AS BIGINT) AS n_removed,
           COALESCE(string_agg(k.tok, ' ' ORDER BY k.j), '') AS clean_text
    FROM alltoks a LEFT JOIN kept k ON a.doc_id = k.doc_id
    GROUP BY a.doc_id, len(a.t)
"""

ORACLES["small_qty_revenue"] = """
    WITH sel AS (
        SELECT l.l_partkey,
               CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qc,
               CAST(l.l_extendedprice AS DECIMAL(18,2)) AS price
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#13' AND p.p_size <= 20),
    pp AS (SELECT l_partkey, CAST(sum(qc) AS BIGINT) AS sq,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM sel GROUP BY l_partkey)
    SELECT CAST(CAST(sum(s.price) AS DECIMAL(38,2)) AS DOUBLE) / 7
               AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_items
    FROM sel s JOIN pp USING (l_partkey)
    WHERE s.qc * pp.cnt * 5 < pp.sq
"""

ORACLES["repeated_spans"] = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents
                  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
    g AS (SELECT doc_id, u.i AS pos,
                 array_to_string(t[u.i:u.i + 2], ' ') AS gram
          FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)),
    flagged AS (SELECT gram FROM g
                GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    cov AS (SELECT g.doc_id, g.pos FROM g JOIN flagged USING (gram)),
    runs AS (SELECT doc_id, pos,
                    pos - row_number() OVER (PARTITION BY doc_id
                        ORDER BY pos) AS grp
             FROM cov)
    SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
           CAST(max(pos) - min(pos) + 3 AS INTEGER) AS span_tokens
    FROM runs GROUP BY doc_id, grp
"""

ORACLES["difficulty_buckets"] = f"""
    WITH qsc AS ({ORACLES["quality_score"]})
    SELECT d.doc_id, d.lang, q.quality_x100,
           CAST(ntile(3) OVER (PARTITION BY d.lang
               ORDER BY q.quality_x100 ASC, d.doc_id ASC) AS INTEGER)
               AS bucket
    FROM qsc q JOIN documents d USING (doc_id)
"""

ORACLES["ann_pq_mrr"] = f"""
    WITH bf AS ({ORACLES["ann_bruteforce"]}),
    pqr AS ({ORACLES["ann_pq"]}),
    hit AS (
        SELECT p.query_id, MIN(p.rank) AS fr
        FROM pqr p JOIN bf b
            ON p.query_id = b.query_id AND p.vec_id = b.neighbor_id
        GROUP BY p.query_id),
    qs AS (SELECT DISTINCT query_id FROM bf)
    SELECT qs.query_id,
           CAST(COALESCE(h.fr, 0) AS INTEGER) AS first_hit_rank,
           CAST(CASE WHEN h.fr IS NULL THEN 0
                     ELSE 1000000 // h.fr END AS BIGINT) AS rr_x1e6
    FROM qs LEFT JOIN hit h USING (query_id)
"""

ORACLES["bigram_lift"] = """
    WITH toks AS (SELECT string_split(text, ' ') AS t
                  FROM documents WHERE text IS NOT NULL),
    prs AS (SELECT t[g.i] AS tok_x, t[g.i + 1] AS tok_y
            FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)),
    pc AS (SELECT tok_x, tok_y, CAST(count(*) AS BIGINT) AS n_pair
           FROM prs GROUP BY tok_x, tok_y HAVING count(*) >= 5),
    uni AS (SELECT unnest(string_split(text, ' ')) AS token
            FROM documents WHERE text IS NOT NULL),
    uc AS (SELECT token, CAST(count(*) AS BIGINT) AS c
           FROM uni GROUP BY token)
    SELECT pc.tok_x, pc.tok_y, pc.n_pair,
           CAST(pc.n_pair * 1000000000 // ux.c // uy.c AS BIGINT)
               AS lift_x1e9
    FROM pc JOIN uc AS ux ON pc.tok_x = ux.token
            JOIN uc AS uy ON pc.tok_y = uy.token
    ORDER BY lift_x1e9 DESC, pc.tok_x ASC, pc.tok_y ASC
    LIMIT 100
"""

ORACLES["soft_dedup_weights"] = f"""
    WITH RECURSIVE pairs AS ({_MINHASH_SQL}),
    {_CC_CLUSTERS_SQL},
    sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
              FROM clusters GROUP BY cluster_id),
    labeled AS (SELECT c.doc_id, s.sz FROM clusters c
                JOIN sizes s ON c.cluster_id = s.cluster_id)
    SELECT d.doc_id,
           COALESCE(l.sz, 1) AS cluster_size,
           CAST(1000 // COALESCE(l.sz, 1) AS BIGINT) AS weight_x1000
    FROM documents d LEFT JOIN labeled l ON d.doc_id = l.doc_id
"""

_KMEANS_CHAIN_8x2, _KMEANS_AFIN_8x2 = _kmeans_ctes(k=8, iters=2, dims=64)
ORACLES["ann_ivf_learned"] = _ann_ivf_sql(
    cent_cte=(
        "SELECT j AS cid, list_transform(ci, v -> "
        "CAST(CAST(CAST(v AS DOUBLE)/1000.0 AS FLOAT) AS DOUBLE)) AS cv "
        f"FROM {_KMEANS_AFIN_8x2.replace('a', 'c')}"
    ),
    pre_ctes=_KMEANS_CHAIN_8x2 + ",\n    ",
    n_probe=3,
)

ORACLES["ann_ivf_recall"] = f"""
    WITH bf AS ({ORACLES["ann_bruteforce"]}),
    ivf AS ({_ANN_IVF_SQL})
    SELECT b.query_id,
           CAST(count(i.neighbor_id) AS BIGINT) AS hits,
           CAST(count(i.neighbor_id) * 100 // count(*) AS BIGINT) AS recall_x100
    FROM bf b LEFT JOIN ivf i
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
    GROUP BY b.query_id
"""

ORACLES["ann_lsh_recall"] = f"""
    WITH bf AS ({ORACLES["ann_bruteforce"]}),
    lsh AS ({ORACLES["ann_lsh"]})
    SELECT b.query_id,
           CAST(count(l.neighbor_id) AS BIGINT) AS hits,
           CAST(count(l.neighbor_id) * 100 // count(*) AS BIGINT) AS recall_x100
    FROM bf b LEFT JOIN lsh l
        ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
    GROUP BY b.query_id
"""

ORACLES["kmeans_inertia"] = (
    "WITH "
    + _KMEANS_CHAIN_8x2
    + "\n    "
    + " UNION ALL ".join(
        f"""
    SELECT CAST({r} AS INTEGER) AS round, CAST(SUM(m) AS BIGINT) AS inertia
    FROM (SELECT q.vec_id,
                 MIN(list_sum(list_transform(generate_series(1, 64),
                     dd -> (q.xq[dd] - c.ci[dd]) * (q.xq[dd] - c.ci[dd]))))
                     AS m
          FROM q, c{r} AS c GROUP BY q.vec_id)"""
        for r in (1, 2)
    )
)


def _pagerank_sql(iters: int = 4) -> str:
    """The pagerank() recurrence unrolled to a CTE chain (integer division
    throughout — DuckDB `//` == Spark `div` on non-negative BIGINTs)."""
    steps = []
    prev = "pr0"
    for k in range(1, iters + 1):
        steps.append(f"""
    pr{k} AS (
        SELECT e.dst AS node,
               CAST(150000 + (850000 * sum(p.pr // d.deg)) // 1000000
                    AS BIGINT) AS pr
        FROM edges e
        JOIN {prev} p ON p.node = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst)""")
        prev = f"pr{k}"
    return f"""
    WITH pairs AS ({_MINHASH_SQL}),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY src),
    pr0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg),
    {",".join(steps)}
    SELECT p.node AS doc_id, d.deg AS degree, p.pr AS pagerank_x1e6
    FROM {prev} p JOIN deg d ON d.src = p.node
"""


ORACLES["pagerank_sim"] = _pagerank_sql(4)

#: CDC window hash mirrors functions/text.py::cdc_chunk_spans —
#: ((h[i-2]*31 + h[i-1]) % FP_MOD * 31 + h[i]) % FP_MOD, boundary after
#: token i when that hash % CDC_MOD == 0 and i < n
_CDC_CHUNKS_SQL = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL),
    th AS (
        SELECT doc_id, t, len(t) AS n,
               list_transform(t, x -> {_hex_int_sql('md5(x)', 8)}) AS h
        FROM toks),
    bnd AS (
        SELECT doc_id, t, n,
               list_append(
                   list_filter(
                       list_transform(generate_series(3, n), i ->
                           CASE WHEN ((((h[CAST(i AS INT) - 2] * {T.FP_BASE}
                                         + h[CAST(i AS INT) - 1])
                                        % {T.FP_MOD}) * {T.FP_BASE}
                                       + h[CAST(i AS INT)]) % {T.FP_MOD})
                                     % {T.CDC_MOD} = 0
                                     AND i < n
                                THEN i END),
                       x -> x IS NOT NULL),
                   n) AS ends
        FROM th),
    chunks AS (
        SELECT doc_id, t,
               CAST(k AS BIGINT) AS chunk_idx,
               CAST(ends[CAST(k AS INT)] AS BIGINT) AS e,
               CAST(CASE WHEN k = 1 THEN 1
                         ELSE ends[CAST(k AS INT) - 1] + 1 END AS BIGINT) AS s
        FROM bnd, LATERAL unnest(generate_series(1, len(ends))) u(k))
    SELECT doc_id, chunk_idx,
           CAST(e - s + 1 AS BIGINT) AS n_tokens,
           md5(array_to_string(t[CAST(s AS INT):CAST(e AS INT)], ' '))
               AS digest
    FROM chunks
"""

ORACLES["cdc_chunks"] = _CDC_CHUNKS_SQL

ORACLES["cdc_dedup"] = f"""
    WITH chunk_rows AS ({_CDC_CHUNKS_SQL})
    SELECT digest,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_doc
    FROM chunk_rows
    GROUP BY digest
    HAVING count(*) >= 2
"""

ORACLES["quantile_summary"] = """
    WITH counts AS (
        SELECT lang, n_chars, CAST(count(*) AS BIGINT) AS c
        FROM documents WHERE n_chars IS NOT NULL
        GROUP BY lang, n_chars),
    cum AS (
        SELECT lang, n_chars,
               sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
               sum(c) OVER (PARTITION BY lang) AS n
        FROM counts)
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(min(CASE WHEN cum >= (1 * n + 3) // 4 THEN n_chars END)
                AS BIGINT) AS p25,
           CAST(min(CASE WHEN cum >= (1 * n + 1) // 2 THEN n_chars END)
                AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum >= (3 * n + 3) // 4 THEN n_chars END)
                AS BIGINT) AS p75,
           CAST(min(CASE WHEN cum >= (19 * n + 19) // 20 THEN n_chars END)
                AS BIGINT) AS p95
    FROM cum GROUP BY lang
"""


#: Bloom prefilter oracle — same 63-bit-word bitmap, double-hash positions
#: from md5 hex slices (chars 1-8 and 9-16), identical bit math
_B_P1 = f"({_hex_int_sql('md5(shingle)', 8)}) % {contamination.BLOOM_BITS}"
_B_P2 = (
    f"({_hex_int_sql('substr(md5(shingle), 9, 8)', 8)})"
    f" % {contamination.BLOOM_BITS}"
)

ORACLES["bloom_prefilter"] = f"""
    WITH {_SHINGLES_SQL},
    bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
    bpos AS (SELECT {_B_P1} AS p FROM bsh
             UNION ALL SELECT {_B_P2} AS p FROM bsh),
    words AS (
        SELECT CAST(p // 63 AS INT) AS w,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
        FROM bpos GROUP BY CAST(p // 63 AS INT)),
    csh AS (
        SELECT doc_id, {_B_P1} AS p1, {_B_P2} AS p2
        FROM sh WHERE doc_id % 20 <> 0),
    hit AS (
        SELECT c.doc_id,
               CASE WHEN (COALESCE(w1.bits, 0)
                          & (CAST(1 AS BIGINT) << CAST(c.p1 % 63 AS INT))) <> 0
                     AND (COALESCE(w2.bits, 0)
                          & (CAST(1 AS BIGINT) << CAST(c.p2 % 63 AS INT))) <> 0
                    THEN 1 ELSE 0 END AS h
        FROM csh c
        LEFT JOIN words w1 ON w1.w = CAST(c.p1 // 63 AS INT)
        LEFT JOIN words w2 ON w2.w = CAST(c.p2 // 63 AS INT))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(h) AS BIGINT) AS n_maybe,
           CAST((100 * sum(h)) // count(*) AS BIGINT) AS maybe_x100
    FROM hit GROUP BY doc_id
"""


def _cms_col_sql(token_expr: str, row: int) -> str:
    """DuckDB counter column mirroring operators.stats._cms_col."""
    return (
        f"({_hex_int_sql(f'substr(md5({token_expr}), {1 + 8 * row}, 8)', 8)})"
        f" % {stats.CMS_WIDTH}"
    )


ORACLES["cms_heavy_hitters"] = f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL),
    exact AS (
        SELECT token, CAST(count(*) AS BIGINT) AS exact_count
        FROM toks GROUP BY token),
    top AS (
        SELECT token, exact_count FROM exact
        ORDER BY exact_count DESC, token ASC LIMIT 20),
    cells AS (
        SELECT 0 AS r, {_cms_col_sql('token', 0)} AS col,
               CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 2
        UNION ALL
        SELECT 1, {_cms_col_sql('token', 1)}, CAST(count(*) AS BIGINT)
        FROM toks GROUP BY 2
        UNION ALL
        SELECT 2, {_cms_col_sql('token', 2)}, CAST(count(*) AS BIGINT)
        FROM toks GROUP BY 2),
    probes AS (
        SELECT token, 0 AS r, {_cms_col_sql('token', 0)} AS col FROM top
        UNION ALL
        SELECT token, 1, {_cms_col_sql('token', 1)} FROM top
        UNION ALL
        SELECT token, 2, {_cms_col_sql('token', 2)} FROM top),
    est AS (
        SELECT p.token, CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_count
        FROM probes p
        LEFT JOIN cells c ON c.r = p.r AND c.col = p.col
        GROUP BY p.token)
    SELECT t.token, t.exact_count, e.cms_count,
           CAST(e.cms_count - t.exact_count AS BIGINT) AS overcount
    FROM top t JOIN est e ON e.token = t.token
"""


ORACLES["zorder_layout"] = f"""
    WITH staged AS (
        SELECT doc_id,
               {layout.zorder_key_sql(
                   f'(n_chars % {1 << layout.ZORDER_BITS})',
                   f'(doc_id % {1 << layout.ZORDER_BITS})')} AS zkey
        FROM documents WHERE n_chars IS NOT NULL)
    SELECT doc_id, CAST(zkey AS BIGINT) AS zkey,
           CAST(zkey // {1 << (2 * layout.ZORDER_BITS - 8)} AS BIGINT)
               AS z_bucket
    FROM staged
"""


# -- round-10 additions ------------------------------------------------------

# range_join: DuckDB plans the raw inequality join directly (IEJoin); the
# Spark side must land on the SAME pairs through the bucket rewrite.
# epoch-week promo windows: [wk*604800 + 2d, wk*604800 + 5d), weeks taken
# from the data so the interval side is scale-invariant.
ORACLES["range_join"] = """
    WITH iv AS (
        -- make_timestamp keeps the naive TIMESTAMP type (to_timestamp
        -- returns TIMESTAMPTZ, whose comparison against o_orderdate
        -- would depend on the session zone); date_diff gives exact
        -- BIGINT epoch seconds
        SELECT wk,
               make_timestamp((wk * 604800 + 172800) * 1000000)
                   AS start_ts,
               make_timestamp((wk * 604800 + 432000) * 1000000) AS end_ts
        FROM (SELECT DISTINCT date_diff('second',
                  TIMESTAMP '1970-01-01', o_orderdate) // 604800 AS wk
              FROM orders)),
    j AS (
        SELECT iv.wk, o.o_orderkey, o.o_custkey
        FROM orders o JOIN iv
          ON iv.start_ts <= o.o_orderdate AND o.o_orderdate < iv.end_ts)
    SELECT CAST(wk AS BIGINT) AS wk,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
    FROM j GROUP BY wk
"""

# winnow_fingerprints: replay the right-anchored window-min sampling with a
# SQL window function (k=3 -> t[i:i+2] slices, w=4 -> 3 PRECEDING); the
# unconditional `h = mall` arm selects every global-min tie — the kernel's
# hs[hs == hs.min()] — covering short docs AND the at-least-one-fingerprint
# guarantee.
ORACLES["winnow_fingerprints"] = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents WHERE text IS NOT NULL),
    pos AS (SELECT doc_id, t, len(t) - 2 AS m_raw,
                   unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
            FROM toks),
    shs AS (SELECT doc_id, i, greatest(m_raw, 1) AS m,
                   array_to_string(t[i:i+2], ' ') AS shingle
            FROM pos),
    -- shingle materialized BEFORE hashing: _hex_int_sql's transform
    -- variable is also named i and would shadow the position index
    sh AS (SELECT doc_id, i, m, {_hex_int_sql('md5(shingle)', 15)} AS h
           FROM shs),
    wnd AS (SELECT doc_id, i, m, h,
                   min(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                       AS mw,
                   min(h) OVER (PARTITION BY doc_id) AS mall
            FROM sh),
    sel AS (SELECT DISTINCT doc_id, h FROM wnd
            WHERE (m >= 4 AND i >= 4 AND h = mw)
               OR h = mall)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
           CAST(min(h) AS BIGINT) AS fp_min,
           CAST(sum(h % {dedup.WINNOW_SUM_MOD}) AS BIGINT) AS fp_sum
    FROM sel GROUP BY doc_id
"""

# vocab_coverage: integer-exact OOV ratio ((10000*n) // total on both
# engines); the LEFT JOIN NULL-probe mirrors the Spark left join on the
# >=5-count train vocabulary.
ORACLES["vocab_coverage"] = """
    WITH tr AS (SELECT unnest(string_split(text, ' ')) AS token
                FROM documents WHERE doc_id % 10 < 8),
    vocab AS (SELECT token FROM tr GROUP BY token HAVING count(*) >= 5),
    val AS (SELECT lang, unnest(string_split(text, ' ')) AS token
            FROM documents WHERE NOT (doc_id % 10 < 8)),
    vc AS (SELECT lang, token, count(*) AS n FROM val GROUP BY lang, token)
    SELECT vc.lang,
           CAST(sum(vc.n) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN vc.n ELSE 0 END)
               AS BIGINT) AS n_oov,
           CAST((10000 * sum(CASE WHEN v.token IS NULL THEN vc.n ELSE 0
                                  END)) // sum(vc.n) AS BIGINT)
               AS oov_x10000
    FROM vc LEFT JOIN vocab v USING (token)
    GROUP BY vc.lang
"""


def _pca_oracle(dims: int, iters: int, scale: int) -> str:
    """Unrolled integer power-iteration chain mirroring
    operators/pca.py exactly: quantize -> HUGEINT moment sums ->
    C = n*G - S S^T as 64 list rows -> per round (matvec, max-|.|,
    sign-safe floor-div re-quantization) -> unrolled projection.  Every
    step is integer arithmetic (HUGEINT in DuckDB, unbounded ints on the
    Spark driver), so the unroll is bit-exact."""
    # sign-safe floor division (DuckDB // truncates): subtract the
    # nonnegative remainder first so the division is exact
    fdiv = (
        f"((wi * {scale}) - ((((wi * {scale}) % mv) + mv) % mv)) // mv"
    )
    # MATERIALIZED: DuckDB inlines CTEs by default, so a 64-round
    # recurrence would otherwise expand into an exponentially deep scan
    # tree (observed as fd exhaustion); materializing each round keeps the
    # chain linear — each is a 64-row integer matvec
    rounds = []
    for r in range(1, iters + 1):
        rounds.append(f"""
    w{r} AS MATERIALIZED (SELECT cm.i AS i,
               list_sum(list_transform(generate_series(1, {dims}),
                   dd -> cm.crow[dd] * v{r - 1}.v[dd])) AS wi
             FROM cm, v{r - 1}),
    m{r} AS MATERIALIZED (SELECT max(abs(wi)) AS mv FROM w{r}),
    v{r} AS MATERIALIZED (SELECT list(CAST({fdiv} AS HUGEINT) ORDER BY i) AS v
             FROM w{r}, m{r})""")
    return f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id, label,
               list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5) AS BIGINT))
                   AS xq
        FROM embeddings),
    mom AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM q),
    s AS (SELECT g.dd AS i, CAST(sum(xq[g.dd]) AS HUGEINT) AS si
          FROM q, unnest(generate_series(1, {dims})) AS g(dd)
          GROUP BY g.dd),
    gm AS (SELECT gi.dd AS i, gj.dd AS j,
                  CAST(sum(CAST(xq[gi.dd] AS HUGEINT) * xq[gj.dd])
                      AS HUGEINT) AS gij
           FROM q, unnest(generate_series(1, {dims})) AS gi(dd),
                unnest(generate_series(1, {dims})) AS gj(dd)
           GROUP BY gi.dd, gj.dd),
    cm AS MATERIALIZED (SELECT gm.i AS i,
                  list(mom.n * gm.gij - s1.si * s2.si ORDER BY gm.j)
                      AS crow
           FROM gm, mom
           JOIN s s1 ON s1.i = gm.i
           JOIN s s2 ON s2.i = gm.j
           GROUP BY gm.i),
    v0 AS (SELECT list_transform(generate_series(1, {dims}),
                      z -> CAST({scale} AS HUGEINT)) AS v),
    {','.join(rounds)}
    SELECT q.vec_id, CAST(q.label AS INT) AS label,
           CAST(list_sum(list_transform(generate_series(1, {dims}),
                dd -> CAST(q.xq[dd] AS HUGEINT) * vt.v[dd])) AS BIGINT)
               AS pc1_proj
    FROM q, v{iters} AS vt
    """


ORACLES["pca_project"] = _pca_oracle(64, PCA_QUERY_ITERS, pca.PCA_SCALE)


def _bm25_oracle(terms: list[str], k: int, k1_x10: int, b_x100: int) -> str:
    """DuckDB twin of operators/encoding.py::bm25_topk — the identical
    integer quantization spec, term list unrolled."""
    n = len(terms)
    tf_cols = ",\n               ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n               ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(n)
    )
    idf_cols = ",\n               ".join(
        f"CAST(floor(ln((CAST(d - df{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df{i} AS DOUBLE) + 0.5) + 1.0) * 1000.0) AS BIGINT)"
        f" AS idf{i}"
        for i in range(n)
    )
    k1term = (
        f"(({k1_x10} * ({1000 - 10 * b_x100}"
        f" + ({b_x100} * (dl * q + (dl * r) // t_tot)) // 100)) // 10)"
    )
    score = " + ".join(
        f"idf{i} * ((tf{i} * {(k1_x10 + 10) * 100000})"
        f" // (1000 * tf{i} + {k1term}))"
        for i in range(n)
    )
    matched = " + ".join(f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END" for i in range(n))
    return f"""
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE text IS NOT NULL),
        per_doc AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               {tf_cols}
            FROM base),
        st AS (
            SELECT CAST(count(*) AS BIGINT) AS d,
                   CAST(sum(dl) AS BIGINT) AS t_tot,
               {df_cols}
            FROM per_doc),
        st2 AS (
            SELECT *, (1000 * d) // t_tot AS q, (1000 * d) % t_tot AS r,
               {idf_cols}
            FROM st)
        SELECT doc_id, dl,
               CAST({matched} AS INTEGER) AS n_matched_terms,
               CAST(({score}) // 1000 AS BIGINT) AS score_x1000
        FROM per_doc, st2
        WHERE {matched} > 0
        ORDER BY score_x1000 DESC, doc_id ASC
        LIMIT {k}
    """


ORACLES["bm25_topk"] = _bm25_oracle(BM25_QUERY_TERMS, 20, 12, 75)



# hll_cardinality: the oracle replays the sketch itself — same md5-slice
# hash, same trailing-zero rank, same exact-rational raw estimator and the
# same embedded linear-counting literals (stats.HLL_LC_TABLE) — so both
# engines land on the IDENTICAL estimate, then joins the exact distinct
# count as ground truth.
def _hll_oracle() -> str:
    m, sc = stats.HLL_M, stats.HLL_SCALE
    lc = "[" + ", ".join(str(x) for x in stats.HLL_LC_TABLE) + "]"
    body = f"(hv // {m})"
    return f"""
        WITH toks AS (
            SELECT lang, string_split(text, ' ') AS t
            FROM documents WHERE text IS NOT NULL),
        pos AS (SELECT lang, t,
                       unnest(generate_series(1, greatest(len(t) - 2, 1)))
                           AS i
                FROM toks),
        sh AS (SELECT lang, array_to_string(t[i:i+2], ' ') AS shingle
               FROM pos),
        h AS (SELECT lang, shingle,
                     {_hex_int_sql("md5(shingle)", 8)} AS hv
              FROM sh),
        br AS (SELECT lang, hv % {m} AS bucket,
                      CASE WHEN {body} = 0 THEN {stats.HLL_RHO_MAX}
                           ELSE bit_count(({body} - 1)
                                          - (({body} - 1) & {body})) + 1
                      END AS rho
               FROM h),
        regs AS (SELECT lang, bucket, max(rho) AS reg
                 FROM br GROUP BY lang, bucket),
        agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS nset,
                       CAST(sum(CAST(1 AS BIGINT) << ({sc} - reg))
                            AS BIGINT) AS sp
                FROM regs GROUP BY lang),
        est AS (SELECT lang, nset,
                       sp + ({m} - nset) * (CAST(1 AS BIGINT) << {sc})
                           AS sinv,
                       {m} - nset AS v
                FROM agg),
        raw AS (SELECT lang, nset, v,
                       CAST({stats._HLL_EST_NUM} AS HUGEINT)
                           // (CAST({stats._HLL_EST_DEN} AS HUGEINT)
                               * sinv) AS raw_est
                FROM est),
        corr AS (SELECT lang, nset,
                        CASE WHEN 2 * raw_est <= {5 * m} AND v > 0
                             THEN CAST(({lc})[v] AS HUGEINT)
                             ELSE raw_est END AS hll_est
                 FROM raw),
        exact AS (SELECT lang,
                         CAST(count(DISTINCT shingle) AS BIGINT) AS n_exact
                  FROM sh GROUP BY lang)
        SELECT e.lang, e.n_exact,
               CAST(c.nset AS BIGINT) AS n_registers_set,
               CAST(c.hll_est AS BIGINT) AS hll_est,
               CAST((abs(c.hll_est - e.n_exact) * 10000) // e.n_exact
                    AS BIGINT) AS err_x10000
        FROM exact e JOIN corr c USING (lang)
    """


ORACLES["hll_cardinality"] = _hll_oracle()


# minhash_jaccard_est: the oracle replays signatures + banding (the
# _MINHASH_SQL convention), counts per-pair seed agreement, and joins the
# exact shingle-set Jaccard (the _JACCARD_SQL formula, unthresholded)
# restricted to the candidate pairs; a banding-collision pair without
# shared shingles takes exact Jaccard 0 via the left join — identical to
# the Spark side's coalesce.
ORACLES["minhash_jaccard_est"] = f"""
    WITH {_SHINGLES_SQL},
    hv AS (
        SELECT doc_id,
               {_hex_int_sql('md5(shingle)', 15)} % {_MINHASH_P} AS hv
        FROM sh),
    seeded AS (
        SELECT doc_id, unnest(generate_series(0, 11)) AS seed, hv
        FROM hv),
    hashed AS (
        SELECT doc_id, seed,
               (((2654435761 * (seed + 1)) % {_MINHASH_P}) * hv
                + ((40503 * (seed + 7)) % {_MINHASH_P})) % {_MINHASH_P} AS h
        FROM seeded),
    sig AS (SELECT doc_id, seed, min(h) AS minhash
            FROM hashed GROUP BY doc_id, seed),
    banded AS (
        SELECT doc_id, CAST(floor(seed / 3.0) AS INT) AS band,
               md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed))
                   AS bucket
        FROM sig GROUP BY doc_id, CAST(floor(seed / 3.0) AS INT)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
    agree AS (
        SELECT c.id_a, c.id_b,
               CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0
                        END) AS BIGINT) AS n_agree
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
        GROUP BY c.id_a, c.id_b),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b),
    exact AS (
        SELECT i.id_a, i.id_b,
               CAST(floor(CAST(i.n_inter AS DOUBLE) * 100.0
                   / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE))
                   AS BIGINT) AS jaccard_x100
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b)
    SELECT g.id_a, g.id_b, g.n_agree,
           CAST((100 * g.n_agree) // 12 AS BIGINT) AS est_x100,
           CAST(COALESCE(e.jaccard_x100, 0) AS BIGINT) AS jaccard_x100,
           CAST((100 * g.n_agree) // 12 - COALESCE(e.jaccard_x100, 0)
                AS BIGINT) AS err_x100
    FROM agree g
    LEFT JOIN exact e ON e.id_a = g.id_a AND e.id_b = g.id_b
"""
