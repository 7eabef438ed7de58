"""Pipeline orchestration tier: audit/watermark log, incremental runner,
status report (reference R3/R4/R8/R9/R10)."""

from .runlog import (
    LOG_SCHEMA,
    get_last_run_timestamp,
    get_pipeline_status,
    write_log_entry,
)
from .runner import (
    PipelineConfig,
    PipelineResult,
    run_pipeline,
)

__all__ = [
    "LOG_SCHEMA",
    "PipelineConfig",
    "PipelineResult",
    "get_last_run_timestamp",
    "get_pipeline_status",
    "run_pipeline",
    "write_log_entry",
]
