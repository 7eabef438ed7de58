"""Structured Streaming tier (SURVEY.md §2.10 / §7 Phase 3)."""

from .windows import interval_join

__all__ = ["interval_join"]
