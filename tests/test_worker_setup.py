"""The reconstruction kernel's once-per-worker import-path setup.

Spark's Python worker calls ``importlib.invalidate_caches()`` before
every task; on Python < 3.13 that re-reads the directory of every
zip archive on the path. The kernel installs a stat-checked
``zipimporter.invalidate_caches``. It patches a class, so the check
runs in a child interpreter and leaves this process untouched.
"""

import subprocess
import sys
import textwrap
from pathlib import Path

_SCRIPT = textwrap.dedent(
    """
    import importlib, os, sys, tempfile, zipfile, zipimport

    from osm_wayback_spark.operators.reconstruction import (
        _stat_checked_zip_invalidation as install,
    )

    original = zipimport.zipimporter.invalidate_caches
    real_version = sys.version_info
    sys.version_info = (3, 13, 0, "final", 0)
    install()
    assert zipimport.zipimporter.invalidate_caches is original
    sys.version_info = real_version

    archive = os.path.join(tempfile.mkdtemp(), "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("a.py", "X = 1\\n")
    sys.path.insert(0, archive)
    import a
    assert a.X == 1

    install()
    if sys.version_info >= (3, 13):
        assert zipimport.zipimporter.invalidate_caches is original
        print("ok")
        raise SystemExit(0)
    installed = zipimport.zipimporter.invalidate_caches
    assert installed is not original
    install()
    assert zipimport.zipimporter.invalidate_caches is installed

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting_read
    # the first call learns each archive's stat, reading it once
    importlib.invalidate_caches()
    assert reads.count(archive) == 1, reads
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [], reads

    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("a.py", "X = 1\\n")
        zf.writestr("b.py", "Y = 2\\n")
    importlib.invalidate_caches()
    assert reads == [archive], reads
    import b
    assert b.Y == 2
    print("ok")
    """
)


def test_zip_directories_reread_only_when_the_archive_changed():
    done = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True, text=True, timeout=120,
    )
    assert done.returncode == 0, done.stderr
    assert done.stdout.strip() == "ok"
