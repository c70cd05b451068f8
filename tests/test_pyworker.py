"""The worker daemon's archive rule, without Spark: a zip importer re-reads
its archive's directory only when the archive's stat changed, falls
through to the stdlib for an archive it cannot stat, and nothing is
patched in a process that merely imports the package. Plus the daemon's
lifecycle with Spark: no daemon or worker outlives its driver."""

import importlib.util
import os
import subprocess
import sys
import time
import uuid
import zipfile
import zipimport

import pytest

from dagli_spark import pyworker
from dagli_spark.session import is_local_master

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches


@pytest.fixture
def reads(monkeypatch):
    """Install the rule for this test only; count directory reads."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        STDLIB_INVALIDATE)
    count = [0]
    read = zipimport._read_directory

    def counting(archive):
        count[0] += 1
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return count


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"zw_first": "VALUE = 1\n"})
    imp = zipimport.zipimporter(path)
    assert reads[0] == 1
    # the daemon records the stamps of archives read before it starts
    pyworker.install()
    for _ in range(5):
        imp.invalidate_caches()
    assert reads[0] == 1
    assert _load(imp, "zw_first").VALUE == 1


def test_archive_first_read_after_install_is_read_once(tmp_path, reads):
    pyworker.install()
    path = str(tmp_path / "b.zip")
    _write_zip(path, {"zw_b": "VALUE = 1\n"})
    imp = zipimport.zipimporter(path)
    for _ in range(5):
        imp.invalidate_caches()
    assert reads[0] == 2  # the constructor, then the first stamp


def test_rewritten_archive_is_read_once_and_imports(tmp_path, reads):
    path = str(tmp_path / "c.zip")
    _write_zip(path, {"zw_old": "VALUE = 1\n"})
    imp = zipimport.zipimporter(path)
    other = zipimport.zipimporter(path)  # shares the directory cache entry
    pyworker.install()
    _write_zip(path, {"zw_old": "VALUE = 1\n", "zw_new": "VALUE = 2\n"})
    before = reads[0]
    imp.invalidate_caches()
    assert reads[0] == before + 1
    assert _load(imp, "zw_new").VALUE == 2
    # the second importer takes the re-read entry; nothing reads again
    other.invalidate_caches()
    imp.invalidate_caches()
    assert reads[0] == before + 1
    assert _load(other, "zw_new").VALUE == 2


def test_deleted_archive_falls_through_to_stdlib(tmp_path, reads):
    path = str(tmp_path / "d.zip")
    _write_zip(path, {"zw_gone": "VALUE = 1\n"})
    imp = zipimport.zipimporter(path)
    pyworker.install()
    os.remove(path)
    imp.invalidate_caches()  # the stdlib's: no raise, empty directory
    assert imp._files == {}
    assert path not in zipimport._zip_directory_cache
    assert imp.find_spec("zw_gone") is None


def test_main_installs_below_3_13_and_only_delegates_from_3_13(monkeypatch):
    from pyspark import daemon

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        STDLIB_INVALIDATE)
    managed = []
    monkeypatch.setattr(daemon, "manager", lambda: managed.append(
        zipimport.zipimporter.invalidate_caches))
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    pyworker.main()
    monkeypatch.setattr(sys, "version_info", (3, 11, 7))
    pyworker.main()
    assert managed[0] is STDLIB_INVALIDATE
    assert managed[1] is not STDLIB_INVALIDATE


def test_importing_the_package_patches_nothing():
    """The driver keeps the stdlib importer: only the daemon's ``main``
    installs the rule."""
    code = (
        "import zipimport\n"
        "stdlib = zipimport.zipimporter.invalidate_caches\n"
        "import dagli_spark, dagli_spark.pyworker, dagli_spark.session\n"
        "assert zipimport.zipimporter.invalidate_caches is stdlib\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                   timeout=120)


def test_daemon_only_on_local_masters():
    assert is_local_master("local")
    assert is_local_master("local[4]")
    assert is_local_master("local[*]")
    assert not is_local_master("local-cluster[2,1,1024]")
    assert not is_local_master("spark://host:7077")
    assert not is_local_master("yarn")


def _marked(marker: str) -> list[int]:
    """Live processes whose environment carries ``marker``."""
    needle = marker.encode()
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if needle in f.read():
                    found.append(int(pid))
        except OSError:
            continue
    return found


def test_no_daemon_outlives_its_driver(tmp_path):
    """A driver that starts a session, runs one Python UDF through the
    engine's daemon and stops the session and the gateway leaves no
    process behind within 10 s: not the JVM, not the daemon, not a forked
    worker."""
    marker = f"DAGLI_PYWORKER_LIFECYCLE_{uuid.uuid4().hex}"
    code = f"""
import os
import sys
sys.path.insert(0, {ROOT!r})
from pyspark import SparkContext
from dagli_spark import get_spark

spark = get_spark("pyworker-lifecycle", master="local[2]",
                  shuffle_partitions=2,
                  extra_conf={{"spark.driver.memory": "1g"}})
assert spark.range(8).mapInArrow(lambda it: it, "id long").count() == 8

def cmdline(pid):
    try:
        with open(f"/proc/{{pid}}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""

assert any(b"dagli_spark.pyworker" in cmdline(p)
           for p in os.listdir("/proc") if p.isdigit()), "no engine daemon"
gw = SparkContext._gateway
proc = gw.proc
spark.stop()
gw.shutdown()
proc.stdin.close()  # the gateway exits on EOF of its stdin
proc.wait(timeout=60)
"""
    env = dict(os.environ, **{marker: "1"})
    try:
        subprocess.run([sys.executable, "-c", code], cwd=str(tmp_path),
                       env=env, check=True, timeout=300)
    finally:
        deadline = time.monotonic() + 10
        left = _marked(marker)
        while left and time.monotonic() < deadline:
            time.sleep(0.2)
            left = _marked(marker)
        for pid in left:  # never leave them running, even on failure
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
    assert not left, f"processes outlived their driver: {left}"
