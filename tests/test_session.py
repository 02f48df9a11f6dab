"""Session factory: a session's shipped package stays its own while
another process (another checkout's session) ships one too."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Start a session, let another checkout's session start before this one
# runs its first Python task, then run a UDF.
_SESSION = textwrap.dedent(
    """
    import subprocess, sys
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import functions as F
    from tp_integ_data_pipeline_spark.session import get_session

    spark = get_session("ship-first", cpus=2)
    subprocess.run([sys.executable, "-c", sys.argv[3], sys.argv[2]], check=True)
    plus = F.udf(lambda x: x + 1, "long")
    print("ROWS", sorted(r[0] for r in spark.range(3).select(plus("id")).collect()))
    """
)
_OTHER = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from tp_integ_data_pipeline_spark.session import get_session

    get_session("ship-other", cpus=1).stop()
    """
)


def test_package_zip_survives_another_session(tmp_path):
    other = tmp_path / "other"
    shutil.copytree(
        os.path.join(REPO, "tp_integ_data_pipeline_spark"),
        other / "tp_integ_data_pipeline_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    with open(other / "tp_integ_data_pipeline_spark" / "__init__.py", "a") as fh:
        fh.write("# another checkout\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        TMPDIR=str(tmp_path),
        SPARK_LOCAL_DIRS=str(tmp_path),
        SPARK_GRAFT_DRIVER_MEM="512m",
    )
    done = subprocess.run(
        [sys.executable, "-c", _SESSION, REPO, str(other), _OTHER],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert "ROWS [1, 2, 3]" in done.stdout
