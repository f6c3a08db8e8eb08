"""PySpark workers import the package on their own: a driver that has the
package only on ``sys.path`` (not on ``PYTHONPATH``) and runs from a
directory outside the checkout must still run ``mapInPandas`` kernels.
A module-level kernel (``text_stats_batches``) pickles BY REFERENCE, so
the Python worker has to import the package itself."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_kernel_runs_from_outside_the_checkout(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from s3_glue_redshift_guide_spark.session import get_spark
        from s3_glue_redshift_guide_spark.functions.text import (
            text_stats_arrow,
        )

        spark = get_spark("worker-imports", cpus=1)
        df = spark.createDataFrame(
            [(1, "a b b c")], "doc_id long, text string"
        )
        r = text_stats_arrow(df).collect()[0]
        print("STATS", r["n_tokens"], r["n_distinct_tokens"])
        spark.stop()
        """
    )
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")
    }
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "STATS 4 3" in r.stdout, r.stdout[-2000:]
