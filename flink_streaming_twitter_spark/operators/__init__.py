from .windows import (
    sliding_window_counts,
    tumbling_counts,
    running_total,
)
from .topk import per_window_top1, top_k

__all__ = [
    "sliding_window_counts",
    "tumbling_counts",
    "running_total",
    "per_window_top1",
    "top_k",
]
