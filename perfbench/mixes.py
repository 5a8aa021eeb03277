"""The benchmark's workloads: which registered ops one pass runs, and at
which scale factor. Why each mix exists is in README.md."""

from __future__ import annotations

import os
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass(frozen=True)
class Mix:
    sf: str
    ops: tuple[str, ...]


WORKLOADS: dict[str, Mix] = {
    "analytics": Mix("0.01", (
        "q1_pricing_summary",
        "join_agg_revenue_by_nation",
        "topk_orders",
        "sql_q21_sole_blame",
        "events_tumbling",
        "sim_cosine_topk",
    )),
    "pipeline": Mix("0.01", (
        "dedup_exact",
        "mm_image_meta",
        "sim_knn_join",
        "stream_lake_mv",
    )),
}


def data_dir(sf: str) -> str:
    """The vendored copy of the fixture tables at ``sf``."""
    return os.path.join(HERE, "data", f"sf{sf}")
