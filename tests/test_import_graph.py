"""What importing the package costs: the root exports two names, and
the ETL entry modules load no pandas."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_root_exports_get_spark_and_read_table_only():
    import lightlane_spark

    assert lightlane_spark.__all__ == ["get_spark", "read_table"]


def test_jobspec_and_session_leave_pandas_unloaded():
    """In a fresh interpreter, importing the jobspec and session
    modules must not import pandas (pandas is needed only where a
    Python batch hook runs)."""
    code = (
        "import sys\n"
        "import lightlane_spark.jobspec, lightlane_spark.session\n"
        "print('pandas' in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout
    assert out.strip() == "False"
