"""Table-scale validation operators (north-star additions, SURVEY.md §2.10)."""

from .stats import column_stats, partition_stats  # noqa: F401
from .uniqueness import duplicate_keys, uniqueness_violations  # noqa: F401
from .referential import referential_violations  # noqa: F401
from .drift import (  # noqa: F401
    categorical_histogram, drift_report, ks_statistic, numeric_histogram, psi,
)
from .checkpoint import CheckpointStore, run_resumable_batched  # noqa: F401
