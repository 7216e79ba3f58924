"""The three workloads: which program entry points one pass calls.

Every operation goes through a public entry point of the program — a
registry builder followed by a ``noop`` write, ``medallion.load``'s
``load_silver``/``load_gold``, or a ``sources.txn.TxnTable`` verb — and
the session artifacts a workload needs are built with the same
builders ``bench.py`` calls. Nothing here reaches inside an operator.

An operation is ``Op(name, run)``: ``run(ctx, capture)`` performs
it and, when ``capture`` is true (the first, untimed warm-up pass),
returns what the output check needs; other passes discard outputs.

``BENCHMARK.json`` lists ``olap_interactive`` and ``ingest_write``.
``curation_batch`` runs on request (``--workload curation_batch``); it is
left out of ``BENCHMARK.json`` to keep a sweep of ~22 runs per listed
workload under an hour, since its artifact builds and ~8 s passes make
one run take 80-100 s.
"""

from __future__ import annotations

import functools
import importlib
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

# Interactive analytics: TPC-H, core/star/report, stats/distribution
# and events families. Each runs well under a second here, so per-query
# fixed cost (planning, job count, driver gaps) dominates.
OLAP_QUERIES = (
    "order_priority_late_ship", "returned_item_customers", "top_revenue_suppliers",
    "revenue_by_nation_segment", "star_integrity_check", "customer_segments",
    "benford_first_digit_audit", "nation_revenue_gini", "part_type_price_mad",
    "events_user_totals", "events_session_window_builtin",
)

# LLM-data curation: exact/near-dup, MinHash/SimHash clustering, ANN.
# Time goes to grouped-map Arrow workers, pair verification and shuffles.
CURATION_QUERIES = (
    "dedup_exact", "minhash_candidate_pairs", "dedup_keep_best_chain",
    "simhash_near_dup_clusters", "ann_cosine_topk", "pq_ann_topk",
    "exact_substring_spans", "ngram_doc_freq_topk",
)

# Micro-batch streaming query run after the medallion and txn steps.
STREAM_QUERIES = ("stream_dedup_user_types",)


def _artifact(module: str, fn: str) -> Callable[[Any, str], Any]:
    def build(spark: Any, sf_dir: str) -> Any:
        mod = importlib.import_module(f"sql_data_warehouse_spark.analytics.{module}")
        return getattr(mod, fn)(spark, sf_dir)
    return build


# name -> builder(spark, sf_dir); the order is the dependency order
# (the pairs index derives from the signature index).
ARTIFACTS: dict[str, Callable[[Any, str], Any]] = {
    "sig_index": _artifact("llmops", "_sig_index"),
    "pairs_index": _artifact("llmops", "_pairs_index"),
    "simhash_index": _artifact("llmops", "_simhash_index"),
    "pq_shared": _artifact("llmops", "_pq_shared"),
    "landing_zone": _artifact("streaming_live", "_landing_zone"),
}


@dataclass
class Ctx:
    """What an operation may touch: the live session, the generated
    inputs, the medallion warehouse root and a fresh TxnTable root (the
    runner points it at a new directory before every pass)."""

    spark: Any
    sf_dir: str
    warehouse: str
    txn_root: str
    seed: int
    n_orders: int
    spans: list = field(default_factory=list)  # (name, t0, t1) sub-spans of the current op
    state: dict = field(default_factory=dict)

    def span(self, name: str, fn: Callable[[], Any]) -> Any:
        t0 = time.time()
        try:
            return fn()
        finally:
            self.spans.append((name, t0, time.time()))


@dataclass(frozen=True)
class Op:
    name: str
    run: Callable[[Ctx, bool], Any]


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]
    artifacts: tuple[str, ...]
    shuffle: bool  # reorder ops each pass (independent reads only)
    # Wall of a timed pass on a 4-core host. A run times
    # round(seconds / nominal_pass_s) passes (at least one), so every
    # run of a workload times the same number of passes instead of
    # flipping between one and two as the host's speed drifts around
    # the end of the window.
    nominal_pass_s: float


def _registry_op(name: str) -> Op:
    def run(ctx: Ctx, capture: bool) -> Any:
        builder = _registry()[name]
        df = ctx.span("builder", lambda: builder(ctx.spark, ctx.sf_dir))
        if capture:
            return ctx.span("action", df.toPandas)
        ctx.span("action", lambda: df.write.format("noop").mode("overwrite").save())
        return None
    return Op(name, run)


@functools.cache
def _registry() -> dict[str, Callable]:
    """Registry builders by name, resolved once (outside any op's timing
    after the first call)."""
    from sql_data_warehouse_spark.analytics import all_queries

    return {n: q.builder for n, q in all_queries().items()}


# ---------------------------------------------------------------- ingest

def _orders(ctx: Ctx):
    from sql_data_warehouse_spark.sources.tables import load_table

    return load_table(ctx.spark, ctx.sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


def _key_range(seed: int, n_orders: int, salt: int) -> tuple[int, int]:
    width = max(1, n_orders // 20)
    lo = (seed * 7919 + salt) % max(1, n_orders - width)
    return lo, lo + width


def merge_predicate(seed: int, n_orders: int) -> str:
    """SQL predicate (shared with the DuckDB replay): every third key of
    a seeded 5% key range, so the merge touches a few files only."""
    lo, hi = _key_range(seed, n_orders, 0)
    return f"o_orderkey BETWEEN {lo} AND {hi} AND o_orderkey % 3 = 0"


def delete_predicate(seed: int, n_orders: int) -> str:
    lo, hi = _key_range(seed, n_orders, 104729)
    return f"o_orderkey BETWEEN {lo} AND {hi} AND o_orderkey % 5 = 1"


def _silver(ctx: Ctx, capture: bool) -> Any:
    from sql_data_warehouse_spark.medallion.load import load_silver

    return load_silver(ctx.spark, ctx.warehouse)


def _gold(ctx: Ctx, capture: bool) -> Any:
    from sql_data_warehouse_spark.medallion.load import load_gold

    return load_gold(ctx.spark, ctx.warehouse, materialize=True)


def _txn_overwrite(ctx: Ctx, capture: bool) -> Any:
    from sql_data_warehouse_spark.sources.txn import TxnTable

    tbl = ctx.state["txn"] = TxnTable(ctx.txn_root)
    # range layout: 32 small files with disjoint key ranges, which the
    # merge and delete prune and the compaction bin-packs
    return tbl.overwrite(_orders(ctx).repartitionByRange(32, "o_orderkey"),
                         stat_cols=("o_orderkey",))


def _txn_merge(ctx: Ctx, capture: bool) -> Any:
    from pyspark.sql import functions as F

    updates = _orders(ctx).filter(merge_predicate(ctx.seed, ctx.n_orders)).select(
        "o_orderkey", "o_orderstatus",
        (F.col("o_totalprice") * F.lit(1.10)).alias("o_totalprice"),
        F.lit("RE-PRICED").alias("o_orderpriority"))
    return ctx.state["txn"].merge(updates, key="o_orderkey")


def _txn_delete(ctx: Ctx, capture: bool) -> Any:
    keys = _orders(ctx).filter(delete_predicate(ctx.seed, ctx.n_orders)).select("o_orderkey")
    return ctx.state["txn"].delete(keys, key="o_orderkey")


def _txn_compact(ctx: Ctx, capture: bool) -> Any:
    return ctx.state["txn"].compact(ctx.spark, target_rows=4096, stat_cols=("o_orderkey",))


def _txn_read(ctx: Ctx, capture: bool) -> Any:
    df = ctx.state["txn"].read(ctx.spark)
    if capture:
        return df.toPandas()
    df.write.format("noop").mode("overwrite").save()
    return None


INGEST_OPS = (
    Op("load_silver", _silver),
    Op("load_gold", _gold),
    Op("txn_overwrite", _txn_overwrite),
    Op("txn_merge", _txn_merge),
    Op("txn_delete", _txn_delete),
    Op("txn_compact", _txn_compact),
    Op("txn_read", _txn_read),
) + tuple(_registry_op(q) for q in STREAM_QUERIES)

# ops whose outputs the medallion/txn checks cover, not a registry oracle
INGEST_NAMES = frozenset(op.name for op in INGEST_OPS if op.name not in STREAM_QUERIES)


WORKLOADS: dict[str, Workload] = {
    "olap_interactive": Workload(
        "olap_interactive", tuple(_registry_op(q) for q in OLAP_QUERIES), (), shuffle=True,
        nominal_pass_s=4.5),
    "curation_batch": Workload(
        "curation_batch", tuple(_registry_op(q) for q in CURATION_QUERIES),
        ("sig_index", "pairs_index", "simhash_index", "pq_shared"), shuffle=True,
        nominal_pass_s=11.0),
    "ingest_write": Workload(
        "ingest_write", INGEST_OPS, ("landing_zone",), shuffle=False, nominal_pass_s=7.5),
}
