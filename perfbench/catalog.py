"""``catalog``: the batch catalog (``plans.catalog``), one client.

Set-up writes seeded tables at ``SF`` and runs every listed query once,
collecting its rows and comparing them with the query's DuckDB twin from
``ORACLES`` through ``tests/oracle_harness.py`` (the output check, outside
the timed region; it also warms each query up).  The measured loop
runs the list in passes, each query written to the noop sink, until the
run's time is up and at least ``MIN_PASSES`` passes are done.
"""

from __future__ import annotations

import os
import time

from blockchain_postgres_sync_spark.plans.catalog import CATALOG, ORACLES
from tests.oracle_harness import compare

from . import measure as T
from .tables import write_tables

SF = 0.01
#: catalog rows of the reference's own surface: SCD-2 history, the assets
#: view, microblock squash (``streaming.reorg``) and candles after a rollback
QUERIES = ("scd2_chain", "assets_view", "squash_blocks", "rollback_candles")
#: the row whose time stands for freshness: a rollback reaching the candles
FRESHNESS_QUERY = "rollback_candles"
MIN_PASSES = 3


def run(spark, work: str, seed: int, seconds: float, traced: bool, clock) -> dict:
    sf_dir = os.path.join(work, "tables")
    with clock.phase("generate"):
        rows = write_tables(sf_dir, seed, SF)
    with clock.phase("warmup"):
        # the checked executions also warm each query up
        mismatches = {q: compare(CATALOG[q](spark, sf_dir), ORACLES[q], sf_dir) for q in QUERIES}

    tracer = T.Tracer() if traced else None
    counters = T.SparkCounters(spark) if traced else None
    execs: list[dict] = []
    setup_end = clock.mark_setup_end()
    deadline = setup_end + seconds
    n_pass = 0
    while True:
        for q in QUERIES:
            t0 = time.perf_counter()
            if traced:
                with tracer.op(f"{q}-{n_pass}", "catalog"):
                    with tracer.span("catalog.plan"):
                        df = CATALOG[q](spark, sf_dir)
                    tp = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
            else:
                df = CATALOG[q](spark, sf_dir)
                tp = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            ex = {"query": q, "ms": (t1 - t0) * 1000, "plan_ms": (tp - t0) * 1000}
            if traced:
                ex["spark"] = counters.delta()
            execs.append(ex)
        n_pass += 1
        if n_pass >= MIN_PASSES and time.perf_counter() >= deadline:
            break

    input_bytes = sum(os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir))
    return {"execs": execs, "passes": n_pass,
            "failed_queries": [q for q, m in mismatches.items() if m],
            "problems": [f"{q}: {p}" for q, m in mismatches.items() for p in m],
            "events": rows["events"], "input_bytes": input_bytes, "tracer": tracer}


def _query_ms(rec: dict) -> dict[str, float]:
    return {q: T.median(e["ms"] for e in rec["execs"] if e["query"] == q) for q in QUERIES}


def metrics(rec: dict) -> dict[str, float]:
    """End-to-end metrics; the streaming-named ones are read for the catalog
    as documented in README.md (a query is the catalog's unit of work, the
    events table its trade log)."""
    med = _query_ms(rec)
    total_s = sum(med.values()) / 1000
    return {
        "sync_tx_per_s": rec["events"] / total_s,
        "trigger_p50_ms": T.median(med.values()),
        "freshness_p50_ms": med[FRESHNESS_QUERY],
        "queries_per_s": len(QUERIES) / total_s,
        "store_bytes_per_tx": rec["input_bytes"] / rec["events"],
    }


def layer_metrics(rec: dict) -> dict[str, float]:
    med = _query_ms(rec)
    execs = rec["execs"]
    out: dict[str, float] = {}
    for q in QUERIES:
        out[f"catalog.{q}.s"] = med[q] / 1000
        out[f"catalog.{q}.jobs"] = T.median(e["spark"]["jobs"] for e in execs if e["query"] == q)

    def per_pass(f) -> float:
        return sum(f(e) for e in execs) / rec["passes"]

    out.update({
        "catalog.plan_ms": per_pass(lambda e: e["plan_ms"]),
        "catalog.jobs": per_pass(lambda e: e["spark"]["jobs"]),
        "catalog.stages": per_pass(lambda e: e["spark"]["stages"]),
        "catalog.tasks": per_pass(lambda e: e["spark"]["tasks"]),
        "catalog.shuffle_bytes": per_pass(
            lambda e: e["spark"]["shuffle_read_bytes"] + e["spark"]["shuffle_write_bytes"]),
        "catalog.input_bytes": per_pass(lambda e: e["spark"]["input_bytes"]),
        "catalog.executor_cpu_ms": per_pass(lambda e: e["spark"]["executor_cpu_ns"] / 1e6),
        "catalog.gc_ms": per_pass(lambda e: e["spark"]["gc_ms"]),
        "trace.e2e_p50_ms": T.median(med.values()),
    })
    return out


def samples(rec: dict) -> dict[str, list[float]]:
    """Latency samples behind the medians, for the tail report."""
    return {"query_ms": [e["ms"] for e in rec["execs"]]}


def attempted_failed(rec: dict) -> tuple[int, int]:
    """Every timed execution plus one checked execution per query."""
    return len(rec["execs"]) + len(QUERIES), len(rec["failed_queries"])
