"""Workload definitions: query lists, input tiers, and why each exists.

Every workload runs in a fresh single-process Spark session. A workload's
queries are registry names (``pydra_map_reduce_spark.plans.REGISTRY``);
the seed fixes the query order of every pass and which copy each part
file of a derived tier holds.
"""

from __future__ import annotations

import random

# Queries registered without a DuckDB oracle. Their check is a non-empty
# result that is identical between the cold and the first warm pass.
ROWS_ONLY = {"minhash_lsh_neardup", "compression_ratio_quality"}

WORKLOADS = {
    "relational_x10": {
        "tier": {"fixture": "sf0.01", "copies": 10},
        "queries": [
            "pricing_summary", "shipping_priority", "local_supplier_volume",
            "waiting_suppliers", "join_asof", "pergroup_topk",
        ],
        "why": (
            "execution-bound: 10-split scans of the sf0.01 fixture's 10x key-shifted "
            "tier, shuffle aggregation, broadcast and semi/anti joins, window sorts; "
            "no session caches, so cache changes leave it unchanged"
        ),
    },
    "corpus_sf0.01": {
        "tier": {"fixture": "sf0.01", "copies": 1},
        "queries": [
            "minhash_lsh_neardup", "lsh_recall", "bigram_greedy_decode",
            "beam_decode", "compression_ratio_quality",
        ],
        "why": (
            "LLM-pipeline mix on the sf0.01 fixture, many small jobs: eager "
            "driver-side LSH builds, two decoders sharing a session-cached bigram "
            "model, an Arrow Python UDF pass, single-row-group scans"
        ),
    },
}

# Which end-to-end metric each per-layer metric should move, and on
# which workload (printed next to the per-layer values of a traced run).
_BUILD = ("cold_pass_s, warm_pass_s", "corpus_sf0.01; ~0 on relational_x10")
LAYER_MAP = {
    "session.get_spark_s": ("setup_s", "both workloads"),
    "session.warmup_scan_s": ("setup_s", "both workloads"),
    "sources.load_table_s": ("setup_s", "both workloads"),
    "sources.scan_s": ("warm_pass_s", "relational_x10"),
    "sources.single_task_scan_stage_s": _BUILD,
    "plans.build_s": _BUILD,
    "plans.build_jobs": _BUILD,
    "plans.pinned_rdds": ("pinned_storage_mb", "corpus_sf0.01"),
    "plans.pinned_mb": ("pinned_storage_mb", "corpus_sf0.01"),
    "plans.build_shuffle_write_mb": _BUILD,
    "plans.build_shuffle_read_mb": _BUILD,
    "plans.build_tasks": _BUILD,
    "plans.build_gc_s": _BUILD,
    "spark_exec.s": ("warm_pass_s", "relational_x10"),
    "spark_exec.jobs": ("warm_pass_s", "corpus_sf0.01"),
    "spark_exec.stages": ("warm_pass_s", "corpus_sf0.01"),
    "spark_exec.tasks": ("warm_pass_s", "corpus_sf0.01"),
    "spark_exec.core_util": ("cold_pass_s, warm_pass_s", "both workloads"),
    "spark_exec.shuffle_write_mb": ("warm_pass_s", "relational_x10"),
    "spark_exec.shuffle_read_mb": ("warm_pass_s", "relational_x10"),
    "spark_exec.spill_mb": ("warm_pass_s", "relational_x10"),
    "spark_exec.broadcast_build_s": ("warm_pass_s", "relational_x10"),
    "spark_exec.broadcast_mb": ("warm_pass_s, failed_frac", "relational_x10"),
    "spark_exec.gc_s": ("warm_pass_s, failed_frac", "relational_x10"),
    "spark_exec.peak_exec_mem_mb": ("warm_pass_s, failed_frac", "relational_x10"),
    "spark_exec.python_mb": ("cold_pass_s, warm_pass_s", "corpus_sf0.01"),
}


def pass_order(queries: list[str], seed: int, pass_index: int) -> list[str]:
    """The seeded query order of one pass."""
    order = list(queries)
    random.Random(seed * 1009 + pass_index).shuffle(order)
    return order
