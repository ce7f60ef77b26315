"""Progress/ETA reporting (reference op #26, ``CopyTool.java:1128-1147``).

The reference logs every 100k rows: percent complete, elapsed, and ETA from
rows/sec. Spark's own instrumentation (UI, listeners) supersedes per-row
loops, so this is a driver-side utility fed by counts, with identical math.
Nothing in the copy engine calls it; the engine reports no per-table
progress.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field

log = logging.getLogger(__name__)

REPORT_EVERY_ROWS = 100_000  # CopyTool.java:737,1023


@dataclass
class ProgressReporter:
    total_rows: int
    label: str = "copy"
    started_at: float = field(default_factory=time.monotonic)
    _last_reported: int = 0

    def report(self, done_rows: int, *, force: bool = False) -> str | None:
        """Log progress if a 100k boundary was crossed; returns the message.

        Math parity with the reference: percent = done/total, rows/sec from
        elapsed, ETA = remaining / rows-per-sec.
        """
        if not force and done_rows - self._last_reported < REPORT_EVERY_ROWS:
            return None
        self._last_reported = done_rows
        elapsed = max(time.monotonic() - self.started_at, 1e-9)
        rate = done_rows / elapsed
        pct = 100.0 * done_rows / self.total_rows if self.total_rows else 100.0
        remaining = max(self.total_rows - done_rows, 0)
        eta = remaining / rate if rate > 0 else float("inf")
        msg = (
            f"{self.label}: {done_rows}/{self.total_rows} rows ({pct:.1f}%), "
            f"{rate:.0f} rows/s, ETA {eta:.1f}s"
        )
        log.info(msg)
        return msg
