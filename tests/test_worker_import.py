"""Python workers import the package from any working directory:
``get_spark`` puts the package's parent on the executor PYTHONPATH,
so a script run outside the repo root still gets through a pandas-UDF
stage."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {root!r})
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import get_spark
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.functions.fp16 import (
        with_fp16_rounded,
    )
    spark = get_spark(app_name="bfann-worker-import", cpus=1, shuffle_partitions=1)
    df = spark.createDataFrame([(1, [0.1, -2.5])], "vec_id BIGINT, embedding ARRAY<FLOAT>")
    rows = with_fp16_rounded(df).collect()
    spark.stop()
    print("ROWS", len(rows))
    """
)


def test_pandas_udf_runs_outside_the_repo_root(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(root=REPO_ROOT)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 1" in proc.stdout
