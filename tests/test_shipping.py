"""Executor shipping of the package from a driver outside the repo.

Each test runs a fresh driver process whose cwd is a temp dir and whose
``sys.path`` (not ``PYTHONPATH``, which Spark forwards to its Python
workers) holds the repo root. The workers can then import the package
only from the zip that ``shipping.ensure_package_on_executors`` ships.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from tests.conftest import _REPO_ROOT, SF_SMOKE


def _run_driver(tmp_path, body: str) -> dict:
    """Run ``body`` in a fresh process (cwd and TMPDIR = tmp_path);
    ``body`` prints one JSON line prefixed ``RESULT``."""
    script = textwrap.dedent(
        """
        import json, sys
        sys.path.insert(0, sys.argv[1])
        from batch_processing_new_spark.session import get_spark
        spark = get_spark(app_name="shipping-test", cpus=2,
                          shuffle_partitions=2)
        """
    ) + textwrap.dedent(body)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-c", script, _REPO_ROOT, SF_SMOKE],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    return json.loads(lines[-1][len("RESULT"):])


def test_concurrent_first_ship_is_atomic(tmp_path):
    """Concurrent first callers on a fresh context must ship one whole
    zip: a caller that adds a half-written zip makes every later task
    fail (the executor's fetch no longer matches the driver's copy).
    A slowed ``ZipFile.write`` holds the race window open."""
    result = _run_driver(
        tmp_path,
        """
        import threading, time, zipfile
        from batch_processing_new_spark import shipping

        write = zipfile.ZipFile.write

        def slow_write(self, *args, **kwargs):
            time.sleep(0.01)
            return write(self, *args, **kwargs)

        zipfile.ZipFile.write = slow_write
        barrier = threading.Barrier(4)
        errors = []

        def call():
            barrier.wait()
            try:
                shipping.ensure_package_on_executors(spark)
            except Exception as exc:
                errors.append(str(exc)[:2000])

        threads = [threading.Thread(target=call) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        zipfile.ZipFile.write = write
        errors += [f"{t.name} still running" for t in threads if t.is_alive()]

        def imports_package(batches):
            import batch_processing_new_spark.shipping  # noqa: F401
            yield from batches

        try:
            rows = (spark.range(8, numPartitions=2)
                    .mapInPandas(imports_package, "id long").count())
        except Exception as exc:
            rows = str(exc)[:2000]
        print("RESULT" + json.dumps({"errors": errors, "rows": rows}))
        """,
    )
    assert result == {"errors": [], "rows": 8}


def test_q113_runs_from_another_cwd(tmp_path):
    """q113's pandas UDFs must ship the package themselves: in a fresh
    session outside the repo nothing else has shipped it yet."""
    result = _run_driver(
        tmp_path,
        """
        from batch_processing_new_spark.operators.clustering import q113_kmeans

        try:
            rows = q113_kmeans(spark, sys.argv[2]).count()
        except Exception as exc:
            rows = str(exc)[:2000]
        print("RESULT" + json.dumps({"rows": rows}))
        """,
    )
    assert isinstance(result["rows"], int) and result["rows"] > 0, result
