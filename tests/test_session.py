"""What ``get_spark`` pins on the session it builds.

PySpark 4 wraps every ``Column`` method and ``functions.*`` call in a
call-site capture (``pyspark.errors.utils._with_origin``) unless the
session says ``spark.python.sql.dataFrameDebugging.enabled=false``. Each
capture walks the Python stack, tries ``import IPython`` and makes three
py4j calls; ``get_spark`` turns it off.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pyspark.errors.utils as error_utils

from datawarehouse_backup_system_spark.operators.cast import apply_typed_casts
from datawarehouse_backup_system_spark.operators.normalize import normalize
from datawarehouse_backup_system_spark.registry import TableSchema

REPO = Path(__file__).resolve().parents[1]


def test_plans_build_without_call_site_capture(spark, monkeypatch):
    # the flag is cached per process at the first wrapped call: drop the
    # cache so it is read again from the fixture's (active) session
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)
    assert error_utils.is_debugging_enabled() is False

    def capture(depth):
        raise AssertionError("call site captured")

    monkeypatch.setattr(error_utils, "_capture_call_site", capture)
    schema = TableSchema(
        key="t", table_name="t",
        column_names=("n", "x"), column_types=("Int64", "float64"),
        int_columns=("n",), float_columns=("x",),
    )
    raw = spark.createDataFrame([("3.0", "1.5")], "N string, x string")
    df, report = normalize(raw, schema.column_names, {"N": "n"})
    assert report.ok
    assert apply_typed_casts(df, schema).collect() == [(3, 1.5)]


def test_fresh_session_never_imports_ipython(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from pyspark.sql import functions as F
        from datawarehouse_backup_system_spark.session import get_spark

        spark = get_spark(master="local[1]")
        spark.range(1).select(F.col("id")).schema
        assert "IPython" not in sys.modules, "IPython imported"
        spark.stop()
    """)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
