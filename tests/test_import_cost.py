"""Importing the catalog stays cheap: pandas loads only inside the
``mapInPandas`` bodies that build pandas frames, in Spark's Python
workers, not when a cron job or bench imports the package."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_catalog_import_leaves_pandas_unloaded():
    code = "import sys, curw_mike_data_handler_spark.catalog; print('pandas' in sys.modules)"
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                       cwd=REPO, env={**os.environ, "PYTHONPATH": REPO}, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip() == "False"
