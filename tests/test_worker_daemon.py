"""The python worker daemon ``get_spark`` runs (``proj_spark.worker_daemon``):
zip importers keep their directory across tasks unless the archive
changed, and the daemon starts whatever the driver's cwd."""

import collections
import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    from proj_spark import worker_daemon

    pkg = "_wd_probe_pkg"
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {f"{pkg}/__init__.py": "", f"{pkg}/a.py": "A = 1\n"})
    # setattr records the original method, which undo puts back
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    worker_daemon.install()
    monkeypatch.syspath_prepend(archive)
    # the importers this test creates go away with the copied cache
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    try:
        _check_rereads(archive, pkg)
    finally:
        for name in (pkg, f"{pkg}.a", f"{pkg}.b"):
            sys.modules.pop(name, None)


def _check_rereads(archive: str, pkg: str) -> None:
    importlib.import_module(f"{pkg}.a")
    root = sys.path_importer_cache[archive]
    sub = sys.path_importer_cache[os.path.join(archive, pkg)]
    assert isinstance(root, zipimport.zipimporter) and sub.prefix == f"{pkg}/"

    importlib.invalidate_caches()  # an importer without a stamp re-reads once
    files = [id(root._files), id(sub._files)]
    importlib.invalidate_caches()
    assert [id(root._files), id(sub._files)] == files

    _write_zip(archive, {f"{pkg}/__init__.py": "", f"{pkg}/a.py": "A = 1\n",
                         f"{pkg}/b.py": "B = 2\n"})
    importlib.invalidate_caches()
    assert id(root._files) != files[0] and id(sub._files) != files[1]
    assert importlib.import_module(f"{pkg}.b").B == 2


def test_workers_keep_pyspark_zip_directory_across_tasks(spark):
    """Stock pyspark re-reads pyspark.zip's directory into a new dict at
    the start of every task; a reused worker now keeps the one it has."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def files_id(s: pd.Series) -> pd.Series:
        import os
        import sys

        (imp,) = [v for k, v in sys.path_importer_cache.items()
                  if k.endswith("pyspark.zip")]
        return pd.Series([f"{os.getpid()} {id(imp._files)}"] * len(s))

    rows = spark.range(0, 16, numPartitions=16).select(
        files_id("id").alias("p")).collect()
    ids = collections.defaultdict(list)
    for r in rows:
        pid, files = r.p.split()
        ids[pid].append(files)
    reused = {pid: v for pid, v in ids.items() if len(v) >= 2}
    assert reused, ids
    assert all(len(set(v)) == 1 for v in reused.values()), reused


def test_session_runs_udfs_from_another_cwd(tmp_path):
    """The JVM starts the daemon from the driver's cwd; get_spark puts the
    package's directory on the workers' path, so the driver may run from
    anywhere without PYTHONPATH."""
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from proj_spark.session import get_spark

        spark = get_spark("cwd-probe", cores=2, shuffle_partitions=2)

        @pandas_udf("string")
        def daemon_hook(s: pd.Series) -> pd.Series:
            import zipimport
            f = zipimport.zipimporter.invalidate_caches
            return pd.Series([f.__name__] * len(s))

        rows = spark.range(4).select(daemon_hook("id").alias("m")).collect()
        print("HOOKS", sorted({{r.m for r in rows}}))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, str(script)], cwd=str(tmp_path),
                         env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "HOOKS ['_invalidate_if_changed']" in out.stdout, out.stdout
