"""The worker daemon's stat-guarded zipimport cache (``pyworker``).

1. Spark-free: with the guard installed, ``importlib.invalidate_caches()``
   re-reads no zip directory while the archive is unchanged, and a
   rewritten archive is still re-read.
2. Sessions from ``get_session`` run their Python tasks in workers that
   carry the guard and import this checkout's package.
3. A driver started outside the checkout with ``PYTHONPATH`` unset still
   runs Arrow ops: the daemon module must be importable by the workers.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from trip_data_pipeline_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MOD = "zipguard_probe_m"


@pytest.fixture
def archive(monkeypatch, tmp_path):
    """A zip path for the probe module, with the guard installed; the
    originals are recorded first so teardown restores them."""
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(pyworker, "_read_at", {})
    pyworker.install()
    path = tmp_path / "probe.zip"
    yield path
    sys.modules.pop(MOD, None)
    sys.path_importer_cache.pop(str(path), None)


def _write_zip(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{MOD}.py", body)


def test_guard_skips_unchanged_archive_and_rereads_rewritten_one(archive, monkeypatch):
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module(MOD).VALUE == 1

    reads = []
    stamped = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or stamped(a))
    for _ in range(10):
        importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_zip(archive, "VALUE = 2  # a different size from v1\n")
    importlib.invalidate_caches()
    assert str(archive) in reads
    sys.modules.pop(MOD)
    assert importlib.import_module(MOD).VALUE == 2


def test_session_workers_run_the_guarded_daemon(spark):
    def probe(_):
        import zipimport

        import trip_data_pipeline_spark

        yield (
            zipimport.zipimporter.invalidate_caches.__module__,
            trip_data_pipeline_spark.__file__,
        )

    [(owner, pkg_file)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert owner == "trip_data_pipeline_spark.pyworker"
    assert os.path.realpath(pkg_file).startswith(os.path.realpath(REPO) + os.sep)


def test_arrow_op_runs_from_outside_the_checkout(tmp_path, sf_dir, duck):
    from trip_data_pipeline_spark import oracle_sql

    name = "udtf_grouped_map_normalize"
    [(expected,)] = duck.execute(f"SELECT count(*) FROM ({oracle_sql()[name]})").fetchall()
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from trip_data_pipeline_spark import get_session, queries
        spark = get_session("outside-checkout")
        print("ROWS", queries()[{name!r}](spark, {str(sf_dir)!r}).count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_EXTRA_CONF"] = "spark.driver.memory=1g"
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert f"ROWS {expected}" in proc.stdout.splitlines(), proc.stdout[-2000:]
