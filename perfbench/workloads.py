"""Workload definitions: query mix, input tables and warm-up pass count.

A pass is one run through a workload's mix, each query ending in a noop
sink. The warm-up count is fixed per workload (the same on every commit) and
sized from the committed per-pass CPU curves in ``perfbench/curves/``: the
last warm-up pass must already sit on the plateau.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    inputs: tuple[str, ...]  # fixture tables the queries read
    warmup_passes: int
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "analytics",
            (
                "a1_pricing_summary",
                "j1_inner_join",
                "w2_topk_per_group",
                "o5_dedup_latest",
                "q3_shipping_priority",
                "q9_product_profit",
                "l1_exact_dedup",
                "l3_cosine_topk",
                "l5_tfidf_top_terms",
                "u1_pandas_udf",
            ),
            ("lineitem", "orders", "customer", "part", "supplier", "nation",
             "events", "documents", "embeddings"),
            warmup_passes=4,
            why="read-only scans, joins, aggregates, windows, text and vector "
            "operators and a pandas UDF; no table writes",
        ),
        Workload(
            "lakehouse",
            (
                "m26_secondary_stats_scan",
                "m31_mor_delete",
                "m47_partition_evolution",
                "l32_text_index_probe",
            ),
            ("events", "orders", "documents"),
            warmup_passes=3,
            why="table writes whose eager commit jobs run inside the query "
            "functions; no Python workers",
        ),
    )
}

# The engine's query modules, as traced layers (module path under the package).
MODULES = (
    "operators.aggregates",
    "operators.joins",
    "operators.windows",
    "operators.relational",
    "plans.tpch",
    "plans.analytics",
    "pipeline.dedup",
    "pipeline.similarity",
    "pipeline.text",
    "pipeline.text_index",
    "udf.surface",
    "plans.lakehouse",
    "plans.lakehouse_mor",
    "plans.lakehouse_evolve",
)

# Modules whose queries leave tables and indexes behind.
WRITE_MODULES = (
    "plans.lakehouse",
    "plans.lakehouse_mor",
    "plans.lakehouse_evolve",
    "pipeline.text_index",
)

# Per-module metrics of a traced run, with their units.
PHASE_UNITS = {
    "construct_s": "s",
    "plan_s": "s",
    "execute_s": "s",
    "jobs": "count",
    "stages": "count",
    "task_cpu_s": "s",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
}
