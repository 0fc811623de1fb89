from .runner import (
    DualStreamRunner,
    head_delay_filter,
    l2_alignment_bound,
    run_l1_stream,
    run_l2_stream,
)

__all__ = [
    "DualStreamRunner",
    "head_delay_filter",
    "l2_alignment_bound",
    "run_l1_stream",
    "run_l2_stream",
]
