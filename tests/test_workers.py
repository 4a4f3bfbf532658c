"""The Python-worker boundary: the zip-directory wrapper that importing
femto_spark installs, error propagation out of a worker, and workers that
import femto_spark without the caller's PYTHONPATH."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ reads zip directories lazily; the wrapper is not installed",
)
def test_zip_directory_reread_only_on_change(tmp_path, monkeypatch):
    import zipimport

    import femto_spark  # noqa: F401  (installs the wrapper)

    zpath = str(tmp_path / "mods.zip")

    def write_zip(**modules):
        with zipfile.ZipFile(zpath, "w") as z:
            for name, src in modules.items():
                z.writestr(f"{name}.py", src)

    write_zip(femto_zip_a="X = 1\n")
    monkeypatch.syspath_prepend(zpath)
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    for name in ("femto_zip_a", "femto_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert zipimport.zipimporter.invalidate_caches.__module__ == "femto_spark._zipdirs"
    assert importlib.import_module("femto_zip_a").X == 1

    reads = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == zpath:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # first call records what it read
    assert len(reads) == 1
    importlib.invalidate_caches()
    assert len(reads) == 1, "an unchanged archive was re-read"

    write_zip(femto_zip_a="X = 1\n", femto_zip_b="Y = 2\n")
    importlib.invalidate_caches()
    assert len(reads) == 2, "a changed archive must be re-read exactly once"
    assert importlib.import_module("femto_zip_b").Y == 2
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_worker_error_surfaces_and_session_survives(spark):
    from pyspark.errors import PythonException

    def boom(batches):
        for _ in batches:
            raise ValueError("femto worker boom")
        yield from ()

    df = spark.range(0, 100, numPartitions=4)
    with pytest.raises(PythonException, match="femto worker boom"):
        df.mapInPandas(boom, df.schema).count()
    assert df.mapInPandas(lambda it: it, df.schema).count() == 100


def test_build_outside_repo_without_pythonpath(tmp_path):
    """The driver finds femto_spark through its own sys.path only; the
    Spark workers must find it through the session's worker settings."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from femto_spark.index import build_index
        from femto_spark.query import SearchEngine
        from femto_spark.session import get_spark

        spark = get_spark("femto_outside", master="local[2]", shuffle_partitions=2)
        corpus = spark.createDataFrame(
            [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma delta alpha")],
            "doc_id long, text string",
        )
        build_index(spark, corpus, "ix", n_buckets=2)
        hits = SearchEngine(spark, "ix").search("delta", k=3).collect()
        print("HITS", [r["doc_id"] for r in hits])
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_DRIVER_MEM="1g",
        FEMTO_WAREHOUSE=str(tmp_path / "warehouse"),
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "HITS [3]" in proc.stdout
