"""OHLCV candle computation: minute hash-agg + 13-interval hierarchical rollup.

Reference semantics (all in /root/reference):
- minute candles (A1): src/lib/consumer/repo/pg.rs:680-738 — GROUP BY
  (date_trunc minute, amount_asset_id, price_asset_id, sender) with
  open/close picked by trade ``uid`` order, wap = floor(sum(a*p)/sum(a)).
- price decimal scaling (A2): pg.rs:708-713 — for tx_version > 2,
  ``price * 10^dec(price_asset) * 10^(-dec(amount_asset))``; missing decimals
  is a hard error (migrations/2025-08-28-080719.../up.sql:1-16).
- cascade (A3): pg.rs:740-815 + models/candles.rs:39-52 — re-aggregate each
  source interval into its destination; open/close picked by ``time_start``
  order; wap = floor(sum(wap*volume)/sum(volume)).
- incremental watermark (A4): pg.rs:660-678 — recompute only candles with
  time_start >= the first affected minute, per-interval truncated start.

Spark-first design notes:
- open/close via ``min_by``/``max_by`` on the deterministic uid — never
  physical row order, which shuffles destroy (SURVEY.md §7.4.1).
- money columns are DecimalType end-to-end; wap floor-division is exact
  decimal arithmetic (floor_div_exact) — the reference floors a NUMERIC
  quotient, and float64 mis-floors once sums exceed 2^53.
- grouping is a single shuffle per level; the cascade reuses the previous
  level's (already small) output, so 12 rollups cost far less than 12 scans.
- at 100 TB: trades are partitioned by time bucket; the A4 watermark filter
  prunes partitions before the shuffle, and each rollup groups ~1/5 the rows
  of its source level.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import ALL_INTERVALS, CANDLE_CASCADE, INTERVALS

#: exact decimal types used throughout (see module docstring on overflow):
#: price DEC(28,10) * amount DEC(10,0) -> DEC(38,10) fits both Spark & DuckDB.
PRICE_DEC = "decimal(28,10)"
AMOUNT_DEC = "decimal(10,0)"


def floor_div_exact(a: Column, b: Column) -> Column:
    """``floor(a / b)`` computed entirely in decimal arithmetic.

    The reference floors an exact NUMERIC quotient (pg.rs:693, 753:
    ``floor(sum(a*p)/sum(a))``); a float64 quotient mis-floors once the sums
    exceed 2^53.  ``a - pmod(a, b)`` is an exact multiple of ``b``, so the
    final decimal division carries no fraction for Spark's HALF_UP scale
    adjustment to round — the quotient is bit-exact for the non-negative
    domain (prices/amounts; pmod keeps floor semantics at 0)."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def pow10_factor(exponent: Column) -> Column:
    """10^exponent as an exact decimal literal (exponent in [-8, 8]).

    Exact powers of ten as DEC(17,8) literals (Waves asset decimals are
    0..8, so the scaling exponent pd-ad stays in range).  One multiply by
    DEC(28,10) lands on DEC(38,10) with <= 10 actual fractional digits for
    integral chain prices — no rounding.  (Built per-call: Column literals
    need an active SparkContext.)"""
    pow10 = F.array(
        *[F.lit(Decimal(10) ** e).cast("decimal(17,8)") for e in range(-8, 9)]
    )
    return F.element_at(pow10, exponent.cast("int") + F.lit(9))


def trunc_ts(col: Column, interval: str) -> Column:
    """Truncate a timestamp to the start of ``interval``.

    Mirrors `_to_raw_timestamp` (up.sql:496-519): epoch-floor for fixed-width
    intervals, calendar date_trunc for 1d/1w/1M.
    """
    kind, arg = INTERVALS[interval]
    if kind == "secs":
        secs = int(arg)
        return F.timestamp_seconds(
            (F.floor(F.unix_timestamp(col) / secs) * secs).cast("long")
        )
    return F.date_trunc(str(arg), col)


def scale_prices(txs7: DataFrame, decimals: DataFrame) -> DataFrame:
    """A2: decimal-scale prices for tx_version > 2 via the decimals dim.

    ``decimals`` has columns (asset_id, decimals) — the reference's
    ``decimals`` view (up.sql:420-430).  Missing decimals for a referenced
    asset is a hard error (get_decimals_or_exception), surfaced here as a
    validation performed by the caller via :func:`assert_no_missing_decimals`.

    The dim is tiny (one row per asset) — broadcast both lookups, no shuffle.
    """
    amount_dec = F.broadcast(
        decimals.select(
            F.col("asset_id").alias("amount_asset_id"),
            F.col("decimals").alias("_amount_decimals"),
        )
    )
    price_dec = F.broadcast(
        decimals.select(
            F.col("asset_id").alias("price_asset_id"),
            F.col("decimals").alias("_price_decimals"),
        )
    )
    scaled = (
        txs7.join(amount_dec, "amount_asset_id", "left")
        .join(price_dec, "price_asset_id", "left")
        .withColumn(
            "price",
            F.when(
                F.col("tx_version") > 2,
                (
                    F.col("price").cast(PRICE_DEC)
                    * pow10_factor(
                        F.col("_price_decimals").cast("int")
                        - F.col("_amount_decimals").cast("int")
                    )
                ).cast(PRICE_DEC),
            ).otherwise(F.col("price").cast(PRICE_DEC)),
        )
    )
    return scaled


def count_missing_decimals(txs7: DataFrame, decimals: DataFrame) -> int:
    """A2 hard-error check: count trades referencing an asset with no
    decimals row (reference raises ASSET_DECIMALS_NOT_FOUND)."""
    dim = decimals.select("asset_id").distinct()
    refs = (
        txs7.select(F.col("amount_asset_id").alias("asset_id"))
        .unionByName(txs7.select(F.col("price_asset_id").alias("asset_id")))
        .distinct()
    )
    return refs.join(F.broadcast(dim), "asset_id", "left_anti").count()


def minute_candles(
    trades: DataFrame,
    since_ts: Column | str | None = None,
    partition_by_pair: bool = False,
    fixedpoint_frac: int | None = None,
) -> DataFrame:
    """A1: the minute-candle hash aggregation (pg.rs:680-738).

    ``trades`` must carry: uid, time_stamp, amount_asset_id, price_asset_id,
    sender (matcher address), height, amount (integral), price (decimal,
    already scaled).  ``since_ts`` is the A4 incremental watermark.

    ``partition_by_pair=True`` repartitions the trades by the pair key
    (amount_asset_id, price_asset_id, matcher_address) BEFORE aggregating.
    Every candle groupBy — this one and all 12 cascade rollups — clusters on
    a superset of that key, so one explicit exchange up front satisfies
    ``ClusteredDistribution`` for the whole cascade: 13 aggregations, ONE
    shuffle (the rollup chain becomes narrow map-side stages).  Trade-off:
    parallelism is bounded by distinct pairs and a hot pair skews its
    partition — at 100 TB prefer the default (per-level hash on the full
    grouping key, AQE skew-split) unless the pair cardinality comfortably
    exceeds the cluster's cores.

    ``fixedpoint_frac=f`` opts into the long fixed-point hot path (same
    trick as the pricing-summary two-level sums): prices are known to carry
    at most ``f`` fractional decimal digits (f <= 8), so price*10^f and
    amount*price*10^f are integers and the per-row aggregation runs on
    LONGS — pure whole-stage-codegen adds, measured ~1.6x the end-to-end
    decimal form at sf0.1 (Spark's BigDecimal sum is the difference).  The
    post-agg projection rescales back to the exact decimal output schema,
    so results are bit-identical to the default path PROVIDED the caller's
    bounds hold: max price < 10^(18-f) and per-(minute,pair) sums
    sum(amount*price)*10^f < 2^63.  These are caller-declared data bounds
    (the reference's NUMERIC math has no such limit), hence opt-in; the
    default path stays exact for the full i64 chain domain.
    """
    if since_ts is not None:
        trades = trades.filter(F.col("time_stamp") >= since_ts)
    if fixedpoint_frac is not None:
        return _minute_candles_fixedpoint(trades, fixedpoint_frac, partition_by_pair)

    amount = F.col("amount").cast(AMOUNT_DEC)
    price = F.col("price").cast(PRICE_DEC)
    pq = (amount * price).alias("pq")

    e = trades.select(
        trunc_ts(F.col("time_stamp"), "1m").alias("time_start"),
        F.col("uid"),
        F.col("amount_asset_id"),
        F.col("price_asset_id"),
        F.col("sender").alias("matcher_address"),
        F.col("height"),
        amount.alias("amount"),
        price.alias("price"),
        pq,
    )
    if partition_by_pair:
        e = e.repartition("amount_asset_id", "price_asset_id", "matcher_address")
    out = e.groupBy(
        "time_start", "amount_asset_id", "price_asset_id", "matcher_address"
    ).agg(
        F.min("price").alias("low"),
        F.max("price").alias("high"),
        F.sum("amount").alias("volume"),
        F.sum("pq").alias("quote_volume"),
        F.max("height").alias("max_height"),
        F.count("price").alias("txs_count"),
        floor_div_exact(F.sum("pq"), F.sum("amount")).alias(
            "weighted_average_price"
        ),
        F.min_by("price", "uid").alias("open"),
        F.max_by("price", "uid").alias("close"),
    )
    return out.select(
        "time_start", "amount_asset_id", "price_asset_id", "low", "high",
        "volume", "quote_volume", "max_height", "txs_count",
        "weighted_average_price", "open", "close",
        F.lit("1m").alias("interval"), "matcher_address",
    )


def _minute_fixedpoint_raw(
    trades: DataFrame, f: int, partition_by_pair: bool
) -> DataFrame:
    """Long fixed-point minute aggregation, INTERNAL long schema — prices
    as 10^f integer units, every aggregation buffer a LONG (whole-stage
    codegen adds, no BigDecimal).  ``_finalize_fixedpoint`` projects this to
    the public decimal schema; ``_rollup_fixedpoint`` re-aggregates it."""
    if not 0 <= f <= 8:
        raise ValueError(f"fixedpoint_frac must be in [0, 8], got {f}")
    scale = 10**f
    # price -> integer units: cast pins the declared scale, the multiply is
    # DEC(20,f) x DEC(f+1,0) -> DEC(22+f,f) == integral value, exact.
    price_i = (
        F.col("price").cast(f"decimal(20,{f})")
        * F.lit(Decimal(scale)).cast(f"decimal({f + 1},0)")
    ).cast("long")
    amount_i = F.col("amount").cast("long")
    e = trades.select(
        trunc_ts(F.col("time_stamp"), "1m").alias("time_start"),
        F.col("uid"),
        F.col("amount_asset_id"),
        F.col("price_asset_id"),
        F.col("sender").alias("matcher_address"),
        F.col("height"),
        amount_i.alias("amount"),
        price_i.alias("price_i"),
        (amount_i * price_i).alias("pq_i"),
    )
    if partition_by_pair:
        e = e.repartition("amount_asset_id", "price_asset_id", "matcher_address")
    g = e.groupBy(
        "time_start", "amount_asset_id", "price_asset_id", "matcher_address"
    ).agg(
        F.min("price_i").alias("_low"),
        F.max("price_i").alias("_high"),
        F.sum("amount").alias("_vol"),
        F.sum("pq_i").alias("_qv"),
        F.max("height").alias("max_height"),
        F.count("price_i").alias("txs_count"),
        F.min_by("price_i", "uid").alias("_open"),
        F.max_by("price_i", "uid").alias("_close"),
    )
    # wap = floor(sum(a*p)/sum(a)) = floor(qv_i / (vol * 10^f)); operands
    # are non-negative longs, so integer `div` IS the floor — and vol*10^f
    # stays in long under the documented bound.
    return g.withColumn("_wap", F.expr(f"_qv div (_vol * {scale}L)").cast("long"))


def _finalize_fixedpoint(
    g: DataFrame, f: int, interval: str, volume_dec: str = "decimal(20,0)"
) -> DataFrame:
    """Project the internal long schema to the public decimal candle schema.

    Rescale is multiplication by the exact 10^-f decimal literal
    (pow10_factor), never division — DEC(20,0) * DEC(17,8) = DEC(38,8)
    holds every product exactly for f <= 8, and widening casts to the
    public schema (DEC(28,10) prices, DEC(38,9) quote_volume) are lossless.
    ``volume_dec`` is DEC(20,0) for the standalone minute kernel (matching
    sum(DEC(10,0))) but DEC(38,0) for cascade levels — the decimal cascade's
    per-level sums widen volume and the 13-way union coerces to DEC(38,0),
    so the fixed-point cascade pins the same type.
    """
    unscale = pow10_factor(F.lit(-f))  # exact 10^-f as DEC(17,8)

    def price_dec(c: str) -> Column:
        return (F.col(c).cast("decimal(20,0)") * unscale).cast(PRICE_DEC)

    return g.select(
        "time_start", "amount_asset_id", "price_asset_id",
        price_dec("_low").alias("low"),
        price_dec("_high").alias("high"),
        F.col("_vol").cast(volume_dec).alias("volume"),
        (F.col("_qv").cast("decimal(20,0)") * unscale)
        .cast("decimal(38,9)")
        .alias("quote_volume"),
        "max_height", "txs_count",
        F.col("_wap").alias("weighted_average_price"),
        price_dec("_open").alias("open"),
        price_dec("_close").alias("close"),
        F.lit(interval).alias("interval"), "matcher_address",
    )


def _minute_candles_fixedpoint(
    trades: DataFrame, f: int, partition_by_pair: bool
) -> DataFrame:
    """Long fixed-point kernel behind ``minute_candles(fixedpoint_frac=f)``."""
    return _finalize_fixedpoint(
        _minute_fixedpoint_raw(trades, f, partition_by_pair), f, "1m"
    )


def _rollup_fixedpoint(src_raw: DataFrame, dst: str) -> DataFrame:
    """A3 rollup over the internal long schema — every buffer stays a LONG.

    Identical integers to the decimal ``rollup_interval``: the cascade wap
    is ``floor(sum(wap * volume) / sum(volume))`` over non-negative longs,
    so integer ``div`` IS the floor; bound (caller-declared, same contract
    as the minute kernel): per-(dst-window, pair) ``sum(wap * volume) <
    2^63``."""
    c = src_raw.withColumn("_dst_start", trunc_ts(F.col("time_start"), dst))
    out = c.groupBy(
        "_dst_start", "amount_asset_id", "price_asset_id", "matcher_address"
    ).agg(
        F.min("_low").alias("_low"),
        F.max("_high").alias("_high"),
        F.sum("_vol").alias("_vol"),
        F.sum("_qv").alias("_qv"),
        F.max("max_height").alias("max_height"),
        F.sum("txs_count").alias("txs_count"),
        F.expr("sum(_wap * _vol) div sum(_vol)").cast("long").alias("_wap"),
        F.min_by("_open", "time_start").alias("_open"),
        F.max_by("_close", "time_start").alias("_close"),
    )
    return out.withColumnRenamed("_dst_start", "time_start")


def full_cascade_fixedpoint(
    trades: DataFrame, f: int = 2, since_ts: Column | str | None = None
) -> DataFrame:
    """The full 13-interval cascade with LONG fixed-point buffers at every
    level — one decimal projection per level at the very end, all 13 × 9
    aggregation buffers pure codegen longs.  Same opt-in bounds contract as
    ``minute_candles(fixedpoint_frac=f)`` plus the rollup-wap bound
    (``_rollup_fixedpoint``); bit-identical to
    ``full_cascade(minute_candles(...))`` under those bounds (pinned by
    tests/test_properties.py::test_cascade_fixedpoint_parity).
    """
    if since_ts is not None:
        trades = trades.filter(F.col("time_stamp") >= since_ts)
    raw: dict[str, DataFrame] = {"1m": _minute_fixedpoint_raw(trades, f, False)}
    for src, dst in CANDLE_CASCADE:
        raw[dst] = _rollup_fixedpoint(raw[src], dst)
    vol_dec = "decimal(38,0)"
    out = _finalize_fixedpoint(raw[ALL_INTERVALS[0]], f, ALL_INTERVALS[0], vol_dec)
    for ivl in ALL_INTERVALS[1:]:
        out = out.unionByName(_finalize_fixedpoint(raw[ivl], f, ivl, vol_dec))
    return out


def _trunc_pandas(ts, ivl: str):
    """Pandas mirror of :func:`trunc_ts` (epoch-floor for fixed widths,
    calendar floor for 1d/1w/1M; week = Monday, matching date_trunc)."""
    import pandas as pd

    kind, arg = INTERVALS[ivl]
    if kind == "secs":
        return ts.dt.floor(f"{int(arg)}s")
    if arg == "day":
        return ts.dt.normalize()
    if arg == "week":
        d = ts.dt.normalize()
        return d - pd.to_timedelta(d.dt.dayofweek, unit="D")
    return ts.dt.to_period("M").dt.to_timestamp()


def full_cascade_fixedpoint_onepass(
    trades: DataFrame, f: int = 2, since_ts: Column | str | None = None
) -> DataFrame:
    """The 13-level cascade with the 12 rollups collapsed into ONE
    ``applyInPandas`` stage.

    The Catalyst cascade's cost at bench scale is its *critical path*: 12
    sequential rollup stages (each trivially small after the minute agg) pay
    a scheduling round-trip each.  But after the minute aggregation every
    rollup only ever combines rows of the SAME (pair, matcher) key — so one
    shuffle on that key lets a single pandas task walk the whole cascade DAG
    for its pair: groupby-per-level on int64 numpy columns, with the wap
    floor-recurrence (`sum(wap*vol) // sum(vol)` level by level — the part
    that forbids a flat minutes->level agg) running sequentially in-process.
    Plan: minute hash-agg (1 shuffle) -> exchange on pair -> one pandas
    stage -> decimal projection.  Two shuffles total, stage depth 3.

    Bit-identical to ``full_cascade_fixedpoint`` under the same bounds
    (int64 ``//`` on non-negative values IS the decimal floor;
    test_cascade_onepass_parity).  Scale posture: parallelism = pair-key
    cardinality (mainnet: thousands), and a pair's minute candles must fit
    one task (~minutes-since-genesis rows, <10M — bounded, unlike trades).
    Use the per-level Catalyst cascade when pair cardinality is tiny or a
    single pair dominates the corpus.
    """
    import pandas as pd

    if since_ts is not None:
        trades = trades.filter(F.col("time_stamp") >= since_ts)
    minute_raw = _minute_fixedpoint_raw(trades, f, False)
    key = ["amount_asset_id", "price_asset_id", "matcher_address"]
    trunc_pd = _trunc_pandas

    agg_cols = [
        "_low", "_high", "_vol", "_qv", "max_height", "txs_count",
        "_open", "_close", "_wap",
    ]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # Vectorized pandas groupby per level — the right kernel HERE, in
        # contrast to cascade_tail_exact_onepass's plain-python fold: the
        # full cascade walks the ENTIRE minute history per pair (row count
        # dominates, C-level groupby wins — A/B at sf1: 4.4 s vs 6.3 s for
        # the python fold), while the streaming tail kernel sees a few
        # hundred rows per trigger (per-groupby fixed cost dominates, the
        # fold wins 3.1 s -> 0.3 s).
        pdf = pdf.sort_values("time_start", kind="mergesort")
        levels: dict[str, pd.DataFrame] = {"1m": pdf}
        outs = [pdf.assign(interval="1m")]
        for src, dst in CANDLE_CASCADE:
            s = levels[src]
            ds = trunc_pd(s["time_start"], dst)
            g = s.groupby(ds, sort=True)
            vol_sum = g["_vol"].sum()
            # hierarchical wap, fully vectorized: per-row wap*vol products
            # grouped on the same key (indexes align); int64 // on
            # non-negative values IS the floor
            wap_num = (s["_wap"] * s["_vol"]).groupby(ds, sort=True).sum()
            lvl = pd.DataFrame(
                {
                    "_low": g["_low"].min(),
                    "_high": g["_high"].max(),
                    "_vol": vol_sum,
                    "_qv": g["_qv"].sum(),
                    "max_height": g["max_height"].max(),
                    "txs_count": g["txs_count"].sum(),
                    # open/close keyed on source time_start order (rows are
                    # sorted, groupby preserves within-group order)
                    "_open": g["_open"].first(),
                    "_close": g["_close"].last(),
                    "_wap": wap_num // vol_sum,
                }
            )
            lvl.index.name = "time_start"
            lvl = lvl.reset_index()
            for k in key:
                lvl[k] = pdf[k].iloc[0]
            levels[dst] = lvl
            outs.append(lvl.assign(interval=dst))
        out = pd.concat(outs, ignore_index=True)
        return out[["time_start", *key, *agg_cols, "interval"]]

    # max_height keeps the input's height dtype (max() preserves it in the
    # Catalyst path, so the one-pass schema must match)
    height_t = dict(minute_raw.dtypes)["max_height"]
    schema = (
        "time_start timestamp, amount_asset_id string, price_asset_id string, "
        f"matcher_address string, _low long, _high long, _vol long, _qv long, "
        f"max_height {height_t}, txs_count long, _open long, _close long, "
        "_wap long, interval string"
    )
    raw = minute_raw.groupBy(*key).applyInPandas(kernel, schema)
    return _finalize_onepass(raw, f)


def cascade_tail_exact_onepass(
    minute_merged: DataFrame, starts: dict[str, object]
) -> DataFrame:
    """All 12 incremental rollups (A4) in ONE ``applyInPandas`` stage with
    UNBOUNDED exact arithmetic — python ints, no overflow contract.

    ``minute_merged`` is the merged minute level (stored history below the
    watermark + recomputed tail) already restricted to
    ``time_start >= min(starts.values())``.  The minimum — NOT
    ``starts['1M']`` — matters: the week floor (Monday) can precede the
    month floor when the watermark falls in the first days of a month that
    does not start on a Monday (watermark Wed 2026-04-01 → starts['1w'] =
    2026-03-30 < starts['1M'] = 2026-04-01), and the re-emitted 1w window
    needs those pre-month minutes.  Every destination window emitted
    (``time_start >= starts[dst]``) then has all of its source minutes
    present; levels whose parent aggregates could be partial below the
    floor (1w, 1M) are terminal in ``CANDLE_CASCADE`` and their partial
    windows are never emitted.  Output: for each
    non-minute interval, the recomputed rows with
    ``time_start >= starts[interval]`` — exactly the per-level
    ``new_content`` the chained rollup produces, but in one job instead of
    12 checkpoint jobs.  The A4 window is small by construction (bounded by
    one month of minutes per pair), so the kernel runs plain-python
    contiguous-run folds over the sorted rows (round 10): at per-trigger
    sizes the 12 pandas groupby/DataFrame constructions per pair were the
    cost, not the arithmetic — measured 3.1 s -> ~0.3 s per trigger
    (stream leg 159 -> 225 ev/s), and the worst case stays bounded at
    ~43k minute rows x 12 levels of python-int adds per pair.  (The FULL
    cascade keeps the vectorized pandas kernel — row count dominates
    there; see full_cascade_fixedpoint_onepass.)  The decimal-path
    results are reproduced digit-for-digit (python int floor-div ==
    floor_div_exact on the non-negative domain, python-int sums are
    exact and unbounded).

    Reference: pg.rs:740-815 (per-interval rollup chain), pg.rs:660-678
    (recompute watermark).
    """
    from decimal import Decimal

    import pandas as pd

    key = ["amount_asset_id", "price_asset_id", "matcher_address"]
    height_t = dict(minute_merged.dtypes)["max_height"]
    # integerize quote_volume at ITS declared scale (exact — no trust in a
    # hardcoded 9 if the stored table ever widens)
    qv_scale = minute_merged.schema["quote_volume"].dataType.scale
    starts_pd = {ivl: pd.Timestamp(t) for ivl, t in starts.items()}

    out_cols = [
        "time_start", *key, "low", "high", "volume", "quote_volume",
        "max_height", "txs_count", "weighted_average_price",
        "open", "close", "interval",
    ]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # Plain-python contiguous-run folds over the time-sorted rows
        # instead of 12 pandas groupby/DataFrame constructions per pair:
        # pandas' per-groupby fixed cost (~dozens of ms across a level
        # chain) dominated the streaming recompute at micro-batch sizes —
        # measured 3.1 s -> ~0.3 s per trigger at the bench size for
        # bit-identical output (the math is the same unbounded python-int
        # arithmetic; Decimal low/high/open/close pass through
        # comparisons untouched).
        pdf = pdf.sort_values("time_start", kind="mergesort")
        ts0 = list(pdf["time_start"])
        lv = {
            "1m": (
                ts0,
                [int(v) for v in pdf["volume"]],
                [int(Decimal(d).scaleb(qv_scale)) for d in pdf["quote_volume"]],
                [int(v) for v in pdf["weighted_average_price"]],
                list(pdf["low"]),
                list(pdf["high"]),
                list(pdf["open"]),
                list(pdf["close"]),
                [int(v) for v in pdf["max_height"]],
                [int(v) for v in pdf["txs_count"]],
            )
        }
        out_rows: list[tuple] = []
        for src, dst in CANDLE_CASCADE:
            sts, svol, sqv, swap, slow, shigh, sopn, scls, smh, stx = lv[src]
            # vectorized window floor (same _trunc_pandas as before), then
            # fold contiguous runs — the source level is window-sorted, so
            # equal floors are adjacent and runs come out floor-sorted
            dl = list(_trunc_pandas(pd.Series(sts), dst))
            n = len(dl)
            rts: list = []
            rvol: list = []
            rqv: list = []
            rwap: list = []
            rlow: list = []
            rhigh: list = []
            ropn: list = []
            rcls: list = []
            rmh: list = []
            rtx: list = []
            i = 0
            while i < n:
                w = dl[i]
                v = 0
                q = 0
                wn = 0
                lo = slow[i]
                hi = shigh[i]
                mx = smh[i]
                tc = 0
                j = i
                while j < n and dl[j] == w:
                    v += svol[j]
                    q += sqv[j]
                    wn += swap[j] * svol[j]
                    if slow[j] < lo:
                        lo = slow[j]
                    if shigh[j] > hi:
                        hi = shigh[j]
                    if smh[j] > mx:
                        mx = smh[j]
                    tc += stx[j]
                    j += 1
                rts.append(w)
                rvol.append(v)
                rqv.append(q)
                rwap.append(wn // v)  # python int // == floor
                rlow.append(lo)
                rhigh.append(hi)
                ropn.append(sopn[i])   # first by time_start (stable sort)
                rcls.append(scls[j - 1])  # last by time_start
                rmh.append(mx)
                rtx.append(tc)
                i = j
            lv[dst] = (rts, rvol, rqv, rwap, rlow, rhigh, ropn, rcls, rmh, rtx)
            st = starts_pd[dst]
            for x in range(len(rts)):
                if rts[x] >= st:
                    out_rows.append(
                        (
                            rts[x], rlow[x], rhigh[x], Decimal(rvol[x]),
                            Decimal(rqv[x]).scaleb(-qv_scale), rmh[x],
                            rtx[x], rwap[x], ropn[x], rcls[x], dst,
                        )
                    )
        if not out_rows:
            return pd.DataFrame(columns=out_cols)
        kv = [pdf[k].iloc[0] for k in key]
        cols = list(zip(*out_rows))
        return pd.DataFrame(
            {
                "time_start": cols[0],
                **{k: [v] * len(out_rows) for k, v in zip(key, kv)},
                "low": cols[1],
                "high": cols[2],
                "volume": cols[3],
                "quote_volume": cols[4],
                "max_height": cols[5],
                "txs_count": cols[6],
                "weighted_average_price": cols[7],
                "open": cols[8],
                "close": cols[9],
                "interval": cols[10],
            }
        )[out_cols]

    schema = (
        "time_start timestamp, amount_asset_id string, price_asset_id string, "
        f"matcher_address string, low {PRICE_DEC}, high {PRICE_DEC}, "
        f"volume decimal(38,0), quote_volume decimal(38,9), "
        f"max_height {height_t}, txs_count long, weighted_average_price long, "
        f"open {PRICE_DEC}, close {PRICE_DEC}, interval string"
    )
    return minute_merged.groupBy(*key).applyInPandas(kernel, schema)


def _finalize_onepass(raw: DataFrame, f: int) -> DataFrame:
    """Decimal projection for the one-pass cascade output (interval is a
    data column, not a literal) — same exact rescale as
    ``_finalize_fixedpoint``."""
    unscale = pow10_factor(F.lit(-f))

    def price_dec(c: str) -> Column:
        return (F.col(c).cast("decimal(20,0)") * unscale).cast(PRICE_DEC)

    return raw.select(
        "time_start", "amount_asset_id", "price_asset_id",
        price_dec("_low").alias("low"),
        price_dec("_high").alias("high"),
        F.col("_vol").cast("decimal(38,0)").alias("volume"),
        (F.col("_qv").cast("decimal(20,0)") * unscale)
        .cast("decimal(38,9)")
        .alias("quote_volume"),
        "max_height", "txs_count",
        F.col("_wap").alias("weighted_average_price"),
        price_dec("_open").alias("open"),
        price_dec("_close").alias("close"),
        "interval", "matcher_address",
    )


def rollup_interval(src_candles: DataFrame, src: str, dst: str) -> DataFrame:
    """A3: re-aggregate candles of interval ``src`` into ``dst``
    (pg.rs:740-815).  open/close keyed on source ``time_start``."""
    c = src_candles.withColumn("_dst_start", trunc_ts(F.col("time_start"), dst))
    out = c.groupBy(
        "_dst_start", "amount_asset_id", "price_asset_id", "matcher_address"
    ).agg(
        F.min("low").alias("low"),
        F.max("high").alias("high"),
        F.sum("volume").alias("volume"),
        F.sum("quote_volume").alias("quote_volume"),
        F.max("max_height").alias("max_height"),
        F.sum("txs_count").alias("txs_count"),
        floor_div_exact(
            F.sum(
                F.col("weighted_average_price").cast("decimal(20,0)")
                * F.col("volume").cast("decimal(18,0)")
            ),
            F.sum(F.col("volume").cast("decimal(18,0)")),
        ).alias("weighted_average_price"),
        F.min_by("open", "time_start").alias("open"),
        F.max_by("close", "time_start").alias("close"),
    )
    return out.select(
        F.col("_dst_start").alias("time_start"),
        "amount_asset_id", "price_asset_id", "low", "high", "volume",
        "quote_volume", "max_height", "txs_count", "weighted_average_price",
        "open", "close", F.lit(dst).alias("interval"), "matcher_address",
    )


def full_cascade(minute: DataFrame) -> DataFrame:
    """Run the full 12-step cascade; returns the union over all 13 intervals.

    Each level feeds from the previous level's DataFrame (per
    CANDLE_INTERVALS).  The unioned plan textually repeats each branch's
    lineage, but AQE's exchange reuse dedups the shared prefixes at
    runtime: one job, 13 shuffles each executed once.  The tests' reference
    for the streaming pipeline's incremental recompute
    (``cascade_tail_exact_onepass``).
    """
    by_interval: dict[str, DataFrame] = {"1m": minute}
    for src, dst in CANDLE_CASCADE:
        by_interval[dst] = rollup_interval(by_interval[src], src, dst)
    out = by_interval[ALL_INTERVALS[0]]
    for ivl in ALL_INTERVALS[1:]:
        out = out.unionByName(by_interval[ivl])
    return out
