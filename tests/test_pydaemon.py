"""The Python worker daemon (geokitten_spark/pydaemon.py): lazy
zip-directory invalidation, and that Spark's workers really run under it."""

import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_lazy_invalidation_on_a_rewritten_zip(tmp_path):
    # in a child process: the daemon module patches zipimport globally
    script = textwrap.dedent(
        f"""
        import importlib, sys, zipfile, zipimport
        import geokitten_spark.pydaemon

        z = {str(tmp_path / "m.zip")!r}

        def write(names):
            with zipfile.ZipFile(z, "w") as f:
                f.writestr("pkg/__init__.py", "")
                for n in names:
                    f.writestr(f"pkg/{{n}}.py", f"X = {{n!r}}")

        write(["a"])
        sys.path.insert(0, z)
        import pkg.a  # one importer for the archive, one for pkg/
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
        write(["a", "b"])
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == [], reads
        import pkg.b
        assert pkg.b.X == "b"
        assert reads == [z], reads
        print("LAZY_OK")
        """
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, env=env
    )
    assert proc.returncode == 0, proc.stderr
    assert "LAZY_OK" in proc.stdout


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="lazy natively on 3.13+")
def test_spark_workers_run_lazy_invalidation(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        for _ in batches:
            pass
        zips = {
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        importlib.invalidate_caches()
        yield pd.DataFrame(
            {
                "fn": [zipimport.zipimporter.invalidate_caches.__code__.co_filename],
                "n_zips": [len(zips)],
                "cached": [len(zips & set(zipimport._zip_directory_cache))],
            }
        )

    rows = spark.range(4, numPartitions=2).mapInPandas(
        probe, "fn string, n_zips int, cached int"
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.fn.endswith(os.path.join("geokitten_spark", "pydaemon.py")), r.fn
        # pyspark.zip is imported from: invalidation dropped its directory
        assert r.n_zips > 0 and r.cached == 0, r


def test_pandas_udf_job_from_outside_the_repo(tmp_path):
    # no PYTHONPATH, cwd outside the repo: the daemon must find the package
    # through spark.executorEnv.PYTHONPATH alone
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from geokitten_spark.session import get_spark

        spark = get_spark(
            "pydaemon-cwd", master="local[2]", shuffle_partitions=2,
            extra_confs={{"spark.ui.enabled": "false"}},
        )

        @pandas_udf("long")
        def inc(x: pd.Series) -> pd.Series:
            return x + 1

        got = spark.range(100, numPartitions=2).select(inc("id").alias("y"))
        print("SUM", got.groupBy().sum("y").collect()[0][0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, env=env,
        cwd=str(tmp_path), timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "SUM 5050" in proc.stdout
