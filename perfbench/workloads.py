"""The benchmark's workloads: which registered queries, on which data.

A pass is one run over a workload's query list, in an order the seed
permutes. A run measures ``passes(seconds)`` whole passes, so every run
of a workload times the same multiset of queries and its median and
tail come from samples of the same size.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    why: str
    queries: tuple[tuple[str, str], ...]  # (query name, data label)
    nominal_pass_s: float  # warm pass wall time on a 4-core host
    python_workers: bool  # whether set-up warms the Python worker pool
    # wrapped functions that must record calls on this workload
    required_calls: tuple[str, ...] = ()
    # queries without a DuckDB oracle: expected (columns, rows)
    rows_only: dict[str, tuple[tuple[str, ...], int]] = field(default_factory=dict)

    def passes(self, seconds: float) -> int:
        return max(1, math.floor(seconds / self.nominal_pass_s + 0.5))


WORKLOADS: dict[str, Workload] = {
    "batch": Workload(
        why="TPC-H Q15 at sf1 and the paper's ALS recommender at sf0.1: JVM scan, join, shuffle, barrier, MLlib; no Python workers, index or streaming",
        queries=(
            ("tpch_q15_top_supplier", "sf1"),
            ("als_recommendations", "sf0.1"),
        ),
        nominal_pass_s=5.2,
        python_workers=False,
        required_calls=("train_als", "als_topk_flat", "materialize_barrier", "load_table"),
        rows_only={"als_recommendations": (("userId", "itemId", "score"), 100)},
    ),
    "vector": Workload(
        why="streaming ANN index maintenance, exact cosine top-k and simhash dedup at sf0.1: Arrow kernels, index append/search, micro-batches",
        queries=(
            ("stream_ivf_index_maintenance", "sf0.1"),
            ("ann_cosine_topk", "sf0.1"),
            ("doc_simhash_pairs", "sf0.1"),
        ),
        nominal_pass_s=7,
        python_workers=True,
        required_calls=("ivf_index_append", "ivf_index_search", "panel_from_parquet", "simhash_signatures"),
    ),
}
