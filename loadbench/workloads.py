"""Workload definitions and the seeded per-pass query order.

Load model: a closed loop with one client. One JVM runs ``local[N]``
and executes the mix one query at a time; the next query starts only
after the previous one has returned and been cleaned up.
"""

import random
from dataclasses import dataclass, field

# The fixture scale every workload runs at: the one the golden hashes
# are pinned at, so every timed execution's row count is checked too.
SCALE = "sf0.01"

# A streaming LSM query run once, traced, in every traced run, so the
# micro-batch layer is measured although no timed workload streams.
STREAM_PROBE = "q117d_stream_gram_append"

# Rows of the fixed seeded input the kernel probe runs each kernel over.
KERNEL_ROWS = 50_000


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    mix: tuple
    # Untimed passes after the golden pass, and the fewest timed passes a
    # run makes. Chosen from measured pass settling and run-to-run spread
    # within the time a run can spend.
    warm_passes: int
    min_passes: int
    # tables whose row count the builders read, counted before timing
    row_counts: tuple = field(default=())


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="olap_batch",
            why=(
                "short star-schema reads where planning and per-job overhead "
                "dominate; no pins, streams or kernels, so it bypasses them"
            ),
            mix=(
                "q01_pricing_summary", "q02_top_customers",
                "q03_region_revenue", "q09_brand_margin",
                "q10_returned_items", "q13_running_revenue",
                "q16_rollup_revenue", "q35_quantity_stats",
                "q37_asof_last_order", "q63_above_avg_orders",
            ),
            warm_passes=1,
            min_passes=2,
        ),
        Workload(
            name="doc_pipeline",
            why=(
                "LLM-data mix: build-time localCheckpoint pins, native "
                "kernels and the q39/q115 label fixpoints"
            ),
            mix=(
                "q39_dedup_clusters", "q115_leakage_safe_split",
                "q102_semantic_dedup", "q105_semantic_dedup_kmeans",
                "q24f_ann_pq", "q89b_bpe_trainer", "q45_ngram_jaccard",
                "q23_near_dup_minhash",
            ),
            warm_passes=0,
            min_passes=1,
            row_counts=("embeddings",),
        ),
    )
}


def pass_orders(n_queries, seed, passes):
    """Per-pass permutations of ``range(n_queries)``, fixed by ``seed``.

    The seed sets only the order; every pass runs every query once.
    """
    rng = random.Random(seed)
    orders = []
    for _ in range(passes):
        order = list(range(n_queries))
        rng.shuffle(order)
        orders.append(order)
    return orders
