"""The command-line path never imports pandas: ``cli parse`` and ``cli
query`` and their parse workers load these modules, and pandas alone costs
about half a second of a fresh interpreter's import time.  Checked in a
fresh interpreter, without a Spark session."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MODULES = ("cli", "operators.parse", "plans.checkpoint", "sources.logfiles", "functions.arrow")


def test_cli_path_modules_do_not_import_pandas():
    code = (
        "import importlib, sys\n"
        f"for m in {MODULES!r}:\n"
        "    importlib.import_module('python_fastly_log_query_spark.' + m)\n"
        "print(sorted(m for m in sys.modules if m.split('.')[0] == 'pandas'))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]", out.stdout
