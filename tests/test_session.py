"""``get_spark`` lets Python workers import the library: a driver that
finds ``dblink_spark`` through ``sys.path`` alone (a checkout, not an
installed package, no ``PYTHONPATH``) must still run a Python job whose
function references a library global, which the worker's unpickler imports
by name."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, {repo!r})
    import pyarrow as pa

    from dblink_spark.er import model
    from dblink_spark.session import get_spark

    def tag(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {{"module": [model.__name__] * b.num_rows}}
            )

    spark = get_spark("worker-path", master="local[1]", shuffle_partitions=1)
    rows = spark.range(3).mapInArrow(tag, "module string").collect()
    print(sorted({{r["module"] for r in rows}}))
    spark.stop()
    """
)


def test_workers_import_package_without_pythonpath(tmp_path):
    script = tmp_path / "driver.py"
    script.write_text(DRIVER.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "['dblink_spark.er.model']"
