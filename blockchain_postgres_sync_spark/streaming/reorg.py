"""Reorg semantics: microblock squash (T2) and rollback (T3) as pure
DataFrame recomputations — the append-only translation of the reference's
in-place UPDATE/DELETE transactions.

Reference behavior:
- squash (mod.rs:769-792): when a key block arrives, all pending microblocks
  fold into the previous key block — their rows' block_uid re-points to the
  key block uid (pg.rs:216-223, 315-322, 383-390), microblock rows are
  deleted (pg.rs:160-166), and the key block takes the last total-block id
  (pg.rs:151-158).
- rollback (mod.rs:794-863): delete everything above the target block uid,
  reopen the SCD chains (lowest deleted uid per key regains MAX_UID,
  mod.rs:824-858), recompute candles from the first affected minute
  (pg.rs:817-838).

Here both are functions: (tables, boundary) -> new tables.  Deletes are
anti-filters; the SCD "reopen repair" is free because superseded_by is
re-derived from surviving rows (operators.scd.chain_superseded_by); candle
repair reuses the incremental recompute (operators.candles, A4 watermark).
At scale these rewrites touch only the speculative tail: blocks/txs are
partitioned by height bucket, and a reorg deeper than a few blocks cannot
occur, so the rewritten partition set is O(1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.scd import chain_superseded_by


def squash_microblocks(
    blocks: DataFrame,
    tx_tables: dict[str, DataFrame] | None = None,
) -> tuple[DataFrame, dict[str, DataFrame] | None]:
    """T2: fold the current microblock tail into its key block.

    ``blocks``: blocks_microblocks frame (uid, id, height, time_stamp);
    microblocks have NULL time_stamp.  ``tx_tables``: any frames carrying a
    ``block_uid`` column to re-point.

    Returns (new_blocks, new_tx_tables).
    """
    key_uid_row = (
        blocks.filter(F.col("time_stamp").isNotNull())
        .agg(F.max("uid").alias("uid"))
        .collect()[0]
    )
    key_uid = key_uid_row["uid"]
    if key_uid is None:
        return blocks, tx_tables

    tail = blocks.filter(F.col("uid") > key_uid)
    total_id_row = tail.orderBy(F.col("uid").desc()).limit(1).collect()
    if not total_id_row:
        return blocks, tx_tables  # no microblocks pending
    total_id = total_id_row[0]["id"]

    # key block takes the last total-block id (pg.rs:151-158); tail deleted
    new_blocks = blocks.filter(F.col("uid") <= key_uid).withColumn(
        "id",
        F.when(F.col("uid") == key_uid, F.lit(total_id)).otherwise(F.col("id")),
    )
    new_tables = None
    if tx_tables is not None:
        new_tables = {
            name: df.withColumn(
                "block_uid",
                F.when(F.col("block_uid") > key_uid, F.lit(key_uid)).otherwise(
                    F.col("block_uid")
                ),
            )
            for name, df in tx_tables.items()
        }
    return new_blocks, new_tables


def rollback_scd(updates: DataFrame, boundary_uid: int, key: str = "asset_id") -> DataFrame:
    """T3 repair phase (mod.rs:824-858): recompute the chain from surviving
    rows — the reference's 'reopen lowest deleted uid per key' UPDATE is
    implied by re-derivation (A6 min-per-group becomes unnecessary)."""
    survivors = updates.filter(F.col("block_uid") <= boundary_uid)
    if "superseded_by" in survivors.columns:
        survivors = survivors.drop("superseded_by")
    return chain_superseded_by(survivors, key=key, uid="uid")
