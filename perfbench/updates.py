"""Seeded update-log generator for the streaming workloads.

Builds RAW_UPDATE-shaped rows (blocks, microblocks, rollbacks) with the
builders of ``tests/waves_fixtures.py`` and, alongside, replays the same
updates through a small model of the consumer's semantics so that the
output check knows what the store must hold afterwards:

- a key block squashes the microblocks after the previous key block into
  that block, which takes the id of the last folded microblock;
- a rollback to a block id drops every update after that block;
- current asset and ticker values are the last surviving update per asset;
  a deleted ticker key reads as ``''``.

The same seed always gives the same files and the same expectations.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from collections import Counter, defaultdict
from dataclasses import dataclass

from tests import waves_fixtures as wf

ASSET_DECIMALS = {"A1": 2, "B2": 0, "C3": 8, "D4": 4}
PAIRS = [
    ("A1", "WAVES"), ("B2", "WAVES"), ("C3", "WAVES"), ("D4", "WAVES"),
    ("B2", "A1"), ("C3", "A1"), ("D4", "B2"),
]
MATCHERS = ["3PMatcher0", "3PMatcher1"]
#: share of exchange txs among generated txs; the rest cycle through the
#: other 17 types so that every type occurs
EXCHANGE_SHARE = 0.6
_OTHER_TYPES = [t for t in range(1, 19) if t != 7]


@dataclass
class _Entry:
    """One update as the consumer's store sees it."""

    kind: str
    id: str
    height: int
    txs: list[dict]
    asset_updates: list[dict]
    tickers: dict[str, str]
    waves_quantity: int | None


@dataclass
class Expected:
    """Store state implied by a log (see the module docstring)."""

    tx_counts: dict[int, int]
    assets: dict[str, tuple[str, int, int]]  # asset -> (name, volume, decimals)
    tickers: dict[str, str]
    waves_quantity: int | None
    pair_volume: dict[tuple[str, str], int]
    tx_ids: list[str]


class ChainLog:
    """Generates updates and tracks the consumer-visible chain they imply."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seq = 0
        self.height = 1000
        self.minute = 0
        self.n_tx = 0
        self.n_asset_upd = 0
        self.last_lease: str | None = None
        self.chain: list[_Entry] = []

    # -- transactions --------------------------------------------------

    def _exchange(self, ts: dt.datetime) -> dict:
        amount_asset, price_asset = self.rng.choice(PAIRS)
        self.n_tx += 1
        return wf.exchange_tx(
            self.n_tx, ts, amount_asset, price_asset,
            self.rng.choice(MATCHERS),
            amount=self.rng.randint(1, 500),
            price=self.rng.randint(100, 900),
            version=self.rng.choice((2, 3)),
        )

    def _other(self, tx_type: int, ts: dt.datetime) -> dict:
        """One tx of ``tx_type`` shaped like ``wf.all_types_txs`` builds it,
        under a fresh id."""
        self.n_tx += 1
        tx = dict(wf.all_types_txs(ts)[tx_type - 1])
        tx["id"] = f"tx-{tx_type}-{self.n_tx}"
        tx["bytes"] = None  # JSON carries no binary; the column stays NULL
        if tx_type == 8:
            self.last_lease = tx["id"]
        elif tx_type == 9:  # cancel the latest lease this log issued
            tx["lease_id"] = self.last_lease
        return tx

    def _txs(self, n: int, minute: int) -> list[dict]:
        out = []
        for i in range(n):
            ts = wf.T0 + dt.timedelta(minutes=minute, seconds=(i * 59) // max(n, 1))
            if self.rng.random() < EXCHANGE_SHARE:
                out.append(self._exchange(ts))
            else:
                tx_type = _OTHER_TYPES[self.n_tx % len(_OTHER_TYPES)]
                out.append(self._other(tx_type, ts))
        return out

    # -- updates -------------------------------------------------------

    def genesis(self) -> dict:
        """First key block: one tx of every type, every asset's first
        update and ticker, and the first WAVES supply."""
        self.seq += 1
        self.height += 1
        self.minute += 1
        ts = wf.T0 + dt.timedelta(minutes=self.minute)
        txs = [self._exchange(ts) if t == 7 else self._other(t, ts) for t in range(1, 19)]
        aus = [wf.asset_update(a, d, 1000, name=f"{a}-v0") for a, d in sorted(ASSET_DECIMALS.items())]
        tickers = {a: a.lower() for a in ASSET_DECIMALS}
        des = [wf.ticker_entry(a, t) for a, t in sorted(tickers.items())]
        upd = wf.block(self.seq, self.height, self.minute, txs, asset_updates=aus,
                       data_entries=des, waves_quantity=10_000_000)
        self.chain.append(_Entry("block", upd["id"], self.height, txs, aus, tickers, 10_000_000))
        return upd

    def block(self, n_txs: int, state_updates: bool = False) -> dict:
        """A key block at the next height and minute; with
        ``state_updates`` it also carries one asset update, one ticker
        change and a new WAVES supply."""
        self.seq += 1
        self.height += 1
        self.minute += 1
        txs = self._txs(n_txs, self.minute)
        asset_updates, data_entries, tickers, wq = [], [], {}, None
        if state_updates:
            self.n_asset_upd += 1
            asset = self.rng.choice(sorted(ASSET_DECIMALS))
            asset_updates = [wf.asset_update(
                asset, ASSET_DECIMALS[asset], 1000 + self.n_asset_upd,
                name=f"{asset}-v{self.n_asset_upd}",
            )]
            tick_asset = self.rng.choice(sorted(ASSET_DECIMALS))
            ticker = None if self.rng.random() < 0.2 else f"T{self.n_asset_upd}"
            data_entries = [wf.ticker_entry(tick_asset, ticker)]
            tickers = {tick_asset: ticker or ""}
            wq = 10_000_000 + self.seq
        upd = wf.block(self.seq, self.height, self.minute, txs,
                       asset_updates=asset_updates, data_entries=data_entries,
                       waves_quantity=wq)
        self._squash()
        self.chain.append(_Entry("block", upd["id"], self.height, txs,
                                 asset_updates, tickers, wq))
        return upd

    def microblock(self, n_txs: int) -> dict:
        self.seq += 1
        txs = self._txs(n_txs, self.minute)
        upd = wf.microblock(self.seq, self.height, txs)
        self.chain.append(_Entry("microblock", upd["id"], self.height, txs, [], {}, None))
        return upd

    def rollback(self, depth: int) -> dict:
        """Roll back ``depth`` key blocks below the current tip."""
        keys = [i for i, e in enumerate(self.chain) if e.kind == "block"]
        target = self.chain[keys[-1 - depth]]
        self.seq += 1
        upd = wf.rollback(self.seq, target.id)
        del self.chain[keys[-1 - depth] + 1:]
        self.height = target.height
        return upd

    def _squash(self) -> None:
        """Fold trailing microblocks into the last key block (a new key
        block is arriving)."""
        keys = [i for i, e in enumerate(self.chain) if e.kind == "block"]
        if not keys or keys[-1] == len(self.chain) - 1:
            return
        k = keys[-1]
        key = self.chain[k]
        for micro in self.chain[k + 1:]:
            key.txs = key.txs + micro.txs
            key.id = micro.id
        del self.chain[k + 1:]

    # -- expectations --------------------------------------------------

    def expected(self) -> Expected:
        tx_counts: Counter = Counter()
        pair_volume: dict[tuple[str, str], int] = defaultdict(int)
        assets: dict[str, tuple[str, int, int]] = {}
        tickers: dict[str, str] = {}
        wq = None
        tx_ids = []
        for e in self.chain:
            for tx in e.txs:
                tx_counts[tx["tx_type"]] += 1
                tx_ids.append(tx["id"])
                if tx["tx_type"] == 7:
                    pair_volume[(tx["amount_asset_id"], tx["price_asset_id"])] += tx["amount"]
            for au in e.asset_updates:
                assets[au["asset_id"]] = (au["name"], au["volume"], au["decimals"])
            tickers.update(e.tickers)
            if e.waves_quantity is not None:
                wq = e.waves_quantity
        return Expected(dict(tx_counts), assets, tickers, wq, dict(pair_volume), tx_ids)


def write_update_file(path: str, updates: list[dict]) -> None:
    """One JSON-lines update file, the shape ``sources.live_updates.file_updates``
    reads."""
    with open(path, "w") as f:
        for u in updates:
            row = dict(u)
            if row["waves_quantity"] is not None:
                row["waves_quantity"] = str(row["waves_quantity"])
            f.write(json.dumps(row) + "\n")
