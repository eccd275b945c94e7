"""The session's Python worker daemon (``sitemapper_spark._daemon``):
archives on the daemon's ``sys.path`` at startup keep their zip directory
across ``importlib.invalidate_caches()``; any other archive is re-read."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from sitemapper_spark import _daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, **modules):
    with zipfile.ZipFile(path, "a") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    return str(path)


@pytest.fixture
def patched(monkeypatch):
    """Restore zipimporter and sys.modules after the test patches them."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    saved = dict(sys.modules)
    yield monkeypatch
    for name in set(sys.modules) - set(saved):
        del sys.modules[name]


def test_startup_archives_are_the_file_entries(tmp_path):
    kept = _zip(tmp_path / "kept.zip", kept_a="X = 1")
    assert _daemon.startup_archives([kept, str(tmp_path), ""]) == {kept}


def test_only_startup_archives_skip_the_reread(tmp_path, patched):
    kept = _zip(tmp_path / "kept.zip", kept_a="X = 1")
    other = _zip(tmp_path / "other.zip", other_a="X = 1")
    importers = [zipimport.zipimporter(kept), zipimport.zipimporter(other)]
    _daemon.keep_archive_directories([kept])

    reads = []
    read_directory = zipimport._read_directory
    patched.setattr(
        zipimport, "_read_directory",
        lambda path: reads.append(path) or read_directory(path),
    )
    for imp in importers:
        imp.invalidate_caches()
    assert reads == [other]


def test_later_archive_stays_importable(tmp_path, patched):
    kept = _zip(tmp_path / "kept.zip", kept_a="X = 1")
    other = _zip(tmp_path / "other.zip", other_a="X = 1")
    patched.syspath_prepend(kept)
    patched.syspath_prepend(other)
    _daemon.keep_archive_directories([kept])
    importlib.import_module("kept_a")
    importlib.import_module("other_a")

    _zip(other, other_b="X = 2")
    _zip(kept, kept_b="X = 2")
    importlib.invalidate_caches()
    assert importlib.import_module("other_b").X == 2
    # the kept archive's directory is the one read at first import
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("kept_b")


def test_session_workers_skip_the_spark_archives(spark):
    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = (
            lambda path: reads.append(path) or read_directory(path)
        )
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        archives = [p for p in sys.path if os.path.isfile(p)]
        for _ in batches:
            pass
        yield pd.DataFrame({"archives": [len(archives)],
                            "rereads": [len(reads)]})

    rows = (
        spark.range(2, numPartitions=2)
        .mapInPandas(probe, "archives int, rereads int")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r["archives"] > 0  # pyspark.zip and the py4j zip at least
        assert r["rereads"] == 0


def test_session_starts_workers_from_any_directory(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from sitemapper_spark.session import get_spark
        spark = get_spark("daemon_cwd", master="local[1]",
                          extra_conf={{"spark.ui.showConsoleProgress": "false"}})
        def double(batches):
            for b in batches:
                yield b * 2
        out = spark.range(3).mapInPandas(double, "id long").collect()
        print("IDS", sorted(r.id for r in out))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "IDS [0, 2, 4]" in proc.stdout
