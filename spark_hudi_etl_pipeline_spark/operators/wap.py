"""Write-Audit-Publish (WAP): quality-gated atomic table commits.

The pattern (popularized by Netflix on Iceberg; Hudi ships it as
pre-commit validators — reference README's quality aspirations made
real): a batch's merged result is STAGED as uncommitted data files,
AUDITED in place, and only PUBLISHED — one atomic manifest write, the
same commit as every keyed upsert sink (``merge._commit_staged``) —
when every check passes. A failing audit aborts with the live table
untouched; readers can never observe unaudited rows because the staged
files are unreferenced until the publish.

Scale: the audit runs on the staged candidate as a normal Spark job
(one pass for the default constraint report), the publish is one
metadata PUT, and an abort is a best-effort cleanup of unreferenced
files — all O(batch) beyond the audit scan itself.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame

from .merge import _ALL_FILES, _indexed_upsert


#: Max violation rows collected to the driver on audit failure — the
#: abort decision needs only non-emptiness; the sample is for the error
#: message/alerting. A per-row audit over a huge dirty batch must not
#: flood driver memory.
AUDIT_SAMPLE_ROWS = 100


class AuditFailure(Exception):
    """Raised when a WAP audit rejects the staged candidate; carries a
    bounded SAMPLE (first :data:`AUDIT_SAMPLE_ROWS`) of the violation
    rows so the pipeline can log/alert without an unbounded collect."""

    def __init__(self, violations: list):
        self.violations = violations
        super().__init__(
            f"WAP audit failed: {len(violations)} violation rows sampled "
            f"(cap {AUDIT_SAMPLE_ROWS})"
        )


def wap_upsert(
    spark,
    batch: DataFrame,
    path: str,
    keys: list[str],
    precombine: str,
    *,
    audit: Callable[[DataFrame], DataFrame] | None = None,
) -> int:
    """Keyed upsert committed through write→audit→publish: the full
    copy-on-write rewrite of :func:`~.merge.upsert_parquet`, with the
    audit run between moving the new files in and publishing them.

    ``audit``: callable mapping the CANDIDATE table state (a DataFrame
    over the staged-but-unpublished files) to a DataFrame of violation
    rows; empty ⇒ publish. On violations the staged files are removed
    and :class:`AuditFailure` is raised — the live manifest is never
    touched, so concurrent readers stay on the old version throughout.

    Returns the newly published manifest version.
    """

    def check(live: list[str]) -> None:
        candidate = spark.read.parquet(*[os.path.join(path, f) for f in live])
        violations = audit(candidate).limit(AUDIT_SAMPLE_ROWS).collect()
        if violations:
            raise AuditFailure(violations)

    return _indexed_upsert(
        spark, batch, path, keys, precombine,
        delete_col=None, index=_ALL_FILES,
        before_publish=check if audit is not None else None,
    ).version
