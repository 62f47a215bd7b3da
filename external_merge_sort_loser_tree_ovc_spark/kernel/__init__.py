from .external_sort import ExternalSorter, SortMetrics
from .loser_tree import LoserTreeMerge, run_relative_ovc
from .ovc import compare_ovc, update_loser_ovc
from .planner import initial_fan_in, merge_depth
from .runs import RunInfo, RunStore

__all__ = [
    "ExternalSorter",
    "SortMetrics",
    "LoserTreeMerge",
    "run_relative_ovc",
    "compare_ovc",
    "update_loser_ovc",
    "initial_fan_in",
    "merge_depth",
    "RunInfo",
    "RunStore",
]
