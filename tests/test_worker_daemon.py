"""The Python worker daemon `get_spark` starts (picovdb_spark/daemon.py):
per-task import-cache refresh skips unchanged archives, yet still sees a
rewritten one; Spark's workers run it; and it starts from a process that
found the package only through sys.path."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from picovdb_spark.daemon import patch_zipimport

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_MOD = "_picovdb_zip_probe"


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{_MOD}.py", source)


def test_invalidate_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    # restore the stock functions when the test ends
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.delitem(sys.modules, _MOD, raising=False)
    patch_zipimport()
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(_MOD).VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, "VALUE = 2 * 11111\n")  # a different size
    importlib.invalidate_caches()
    del sys.modules[_MOD]
    assert importlib.import_module(_MOD).VALUE == 22222
    assert archive in reads


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="importers re-read lazily")
def test_workers_run_the_patched_invalidate(spark):
    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        reads = []
        read_directory = zipimport._read_directory

        def spy(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = spy
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "fn": [zipimport.zipimporter.invalidate_caches.__qualname__],
                "reads": [len(reads)],
            }
        )

    rows = spark.range(1, numPartitions=1).mapInArrow(probe, "fn string, reads long").collect()
    assert [(r.fn, r.reads) for r in rows] == [("patch_zipimport.<locals>.invalidate_caches", 0)]


def test_daemon_starts_without_pythonpath(tmp_path):
    # a script outside the repo that finds the package only through
    # sys.path: its workers must still import the daemon
    script = tmp_path / "drive.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {ROOT!r})
            from picovdb_spark import get_spark

            def probe(batches):
                import sys
                import pyarrow as pa

                for b in batches:
                    yield pa.RecordBatch.from_pydict(
                        {{"id": b.column(0), "daemon": [sys.modules["__main__"].__spec__.name] * b.num_rows}}
                    )

            spark = get_spark("daemon-probe")
            rows = spark.range(3, numPartitions=1).mapInArrow(probe, "id long, daemon string").collect()
            print(sorted((r.id, r.daemon) for r in rows))
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    expected = [(i, "picovdb_spark.daemon") for i in range(3)]
    assert out.stdout.strip().splitlines()[-1] == str(expected)
