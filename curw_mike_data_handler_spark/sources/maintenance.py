"""Retention maintenance (reference: flush_mike_data_in_bucket.sh:20-24
— delete run directories older than 60 days, monthly cron).

Spark-first equivalent: data lives date-partitioned
(``.../run_date=YYYY-MM-DD/``); retention is partition-directory
deletion — a metadata operation, no data rewrite, exactly what
``ALTER TABLE … DROP PARTITION`` / Delta retention does at scale.
"""

from __future__ import annotations

import os
import re
import shutil
from datetime import datetime, timedelta

PARTITION_RE = re.compile(r"^(?P<key>\w+)=(?P<value>\d{4}-\d{2}-\d{2})$")


def retention_sweep(
    table_path: str,
    *,
    keep_days: int = 60,
    now: datetime | None = None,
    partition_key: str = "run_date",
    dry_run: bool = False,
) -> list[str]:
    """Drop date partitions older than ``keep_days``; returns the list
    of dropped partition values.  Idempotent."""
    now = now or datetime.now()
    cutoff = (now - timedelta(days=keep_days)).strftime("%Y-%m-%d")
    dropped = []
    if not os.path.isdir(table_path):
        return dropped
    for entry in sorted(os.listdir(table_path)):
        m = PARTITION_RE.match(entry)
        if not m or m.group("key") != partition_key:
            continue
        if m.group("value") < cutoff:
            dropped.append(m.group("value"))
            if not dry_run:
                shutil.rmtree(os.path.join(table_path, entry))
    return dropped
