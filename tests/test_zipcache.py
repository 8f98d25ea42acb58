"""The package's zip-directory guard (``servico_ocr_spark.zipcache``):
``importlib.invalidate_caches()`` re-reads a zip archive on the sys.path
only when the archive changed."""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

import servico_ocr_spark
from servico_ocr_spark import zipcache

REPO = Path(__file__).resolve().parent.parent

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 re-reads zip archives lazily; no guard installed",
)


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path with one imported module; reads of it counted."""
    path = tmp_path / "mods.zip"
    _write_zip(path, {"zc_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(str(path))
    import zc_mod_a  # noqa: F401  (creates the archive's zipimporter)

    reads = []
    original = zipimport._read_directory

    def counting(archive_path):
        reads.append(archive_path)
        return original(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, lambda: reads.count(str(path))
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)


def test_unchanged_archive_is_not_reread(archive):
    _, reads = archive
    importlib.invalidate_caches()
    first = reads()
    assert first == 1  # the guard has not seen this archive yet
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads() == first


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        import zc_mod_b  # noqa: F401
    _write_zip(path, {"zc_mod_a": "VALUE = 'a'\n",
                      "zc_mod_b": "VALUE = 'b'\n"})
    before = reads()
    importlib.invalidate_caches()
    assert reads() == before + 1
    import zc_mod_b

    assert zc_mod_b.VALUE == "b"


def test_installing_twice_wraps_once():
    importlib.reload(servico_ocr_spark)
    importlib.reload(zipcache).install()
    method = zipimport.zipimporter.invalidate_caches
    assert method._keeps_unchanged_archives
    assert not getattr(method.__wrapped__, "_keeps_unchanged_archives", False)


PROBE = textwrap.dedent(
    """
    import json
    from servico_ocr_spark.session import get_spark

    def probe(_):
        import os
        import zipimport
        import servico_ocr_spark  # noqa: F401  (installs the guard)

        reads = getattr(zipimport, "_probe_reads", None)
        if reads is None:
            reads = zipimport._probe_reads = []
            original = zipimport._read_directory

            def counting(archive):
                reads.append(archive)
                return original(archive)

            zipimport._read_directory = counting
        yield os.getpid(), len(reads)

    spark = get_spark(master="local[1]", shuffle_partitions=1,
                      app_name="zipcache-test")
    sc = spark.sparkContext
    print(json.dumps(sc.parallelize(range(6), 6).mapPartitions(probe).collect()))
    spark.stop()
    """
)


def test_spark_worker_later_tasks_skip_archive_reads(tmp_path):
    """One worker serves six tasks in turn. Task 1 installs the guard and
    the read counter after Spark's per-task invalidation; task 2's
    invalidation reads each archive once (the guard has not seen it yet);
    tasks 3-6 read none."""
    env = dict(os.environ, PYTHONPATH=str(REPO))
    out = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    )
    tasks = json.loads(out.stdout.strip().splitlines()[-1])
    pids = {pid for pid, _ in tasks}
    counts = [n for _, n in tasks]
    assert len(pids) == 1, tasks  # the worker was reused
    assert counts[1] > counts[0] == 0, counts  # the counter sees reads
    assert counts[2:] == [counts[1]] * 4, counts
