"""F5 — the ``--last-hours`` processing-time window
(reference scripts/analyze_logs.py:114-162; duplicated verbatim at :165-213).

Divergences from the reference, both documented in SURVEY.md §7:
- the clock is injectable (``now``) so tests are deterministic;
- applied ONCE (the reference applies it twice in the non-chunked path,
  scripts/analyze_logs.py:940-944 and :950-954 — idempotent apart from a
  slightly later wall-clock ``now``).

It is a row filter on the parsed timestamp, not partition pruning: no
command writes day partitions, so the scan reads every parsed row.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_last_hours(
    df: DataFrame,
    last_hours: float | None,
    ts_col: str = "timestamp",
    now: datetime | None = None,
) -> DataFrame:
    """Keep rows with ``ts_col`` within the last N hours of ``now`` (UTC).

    Rows with null (unparseable) timestamps are dropped, matching the
    reference's skip-on-invalid behavior.  ``last_hours=None`` is a no-op.
    """
    if last_hours is None:
        return df
    if now is None:
        now = datetime.now(timezone.utc)
    if now.tzinfo is not None:
        now = now.astimezone(timezone.utc).replace(tzinfo=None)
    cutoff = now - timedelta(hours=last_hours)
    # pass the cutoff as a string parsed in SESSION time: F.lit(datetime)
    # would convert via the Python process's OS timezone, silently shifting
    # the window when the driver host isn't UTC
    cutoff_lit = F.to_timestamp(F.lit(cutoff.strftime("%Y-%m-%d %H:%M:%S")))
    return df.filter(F.col(ts_col).isNotNull() & (F.col(ts_col) >= cutoff_lit))
