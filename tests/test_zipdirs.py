"""The stat-keyed zip directory rule (``pimbloomfilters_spark._zipdirs``).

Each case runs in a child interpreter, so this process keeps the stdlib
``zipimporter.invalidate_caches``. The child counts directory reads by
wrapping ``zipimport._read_directory``.
"""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PRELUDE = """
import importlib, os, sys, zipfile, zipimport
sys.path.insert(0, {root!r})
from pimbloomfilters_spark import _zipdirs

ZP = os.path.join({tmp!r}, "mods.zip")
reads = []
_stdlib_read = zipimport._read_directory
def _counting_read(archive):
    reads.append(archive)
    return _stdlib_read(archive)
zipimport._read_directory = _counting_read

def write_zip(**modules):
    with zipfile.ZipFile(ZP, "w") as z:
        z.writestr("pkg/__init__.py", "")
        for name, src in modules.items():
            z.writestr(name, src)

def invalidate():
    del reads[:]
    importlib.invalidate_caches()
    return reads.count(ZP)

write_zip(**{{"top.py": "X = 1\\n"}})
root_imp = zipimport.zipimporter(ZP)
pkg_imp = zipimport.zipimporter(os.path.join(ZP, "pkg"))
sys.path.insert(0, ZP)
sys.path_importer_cache[ZP] = root_imp
sys.path_importer_cache[os.path.join(ZP, "pkg")] = pkg_imp
STDLIB = zipimport.zipimporter.invalidate_caches
"""


def _run_child(tmp_path, body):
    src = PRELUDE.format(root=ROOT, tmp=str(tmp_path)) + textwrap.dedent(body)
    proc = subprocess.run([sys.executable, "-c", src], capture_output=True,
                          text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    return proc.stdout


def test_unchanged_archive_is_read_once(tmp_path):
    _run_child(tmp_path, """
        assert invalidate() == 2  # stdlib: one read per importer
        _zipdirs.install()
        assert invalidate() == 1  # first read under the rule
        for _ in range(3):
            assert invalidate() == 0
        assert root_imp._files is pkg_imp._files is zipimport._zip_directory_cache[ZP]
        import top
        assert top.X == 1
    """)


def test_rewritten_archive_is_read_again(tmp_path):
    _run_child(tmp_path, """
        _zipdirs.install()
        invalidate()
        write_zip(**{"top.py": "X = 1\\n", "added.py": "Y = 2\\n"})
        assert invalidate() == 1
        import added
        assert added.Y == 2
        assert invalidate() == 0
    """)


def test_deleted_archive_empties_files_like_stdlib(tmp_path):
    _run_child(tmp_path, """
        _zipdirs.install()
        invalidate()
        os.remove(ZP)
        invalidate()
        assert root_imp._files == {} and pkg_imp._files == {}
        assert ZP not in zipimport._zip_directory_cache
    """)


def test_install_is_idempotent(tmp_path):
    _run_child(tmp_path, """
        _zipdirs.install()
        wrapped = zipimport.zipimporter.invalidate_caches
        _zipdirs.install()
        assert zipimport.zipimporter.invalidate_caches is wrapped
        assert wrapped.__wrapped__ is STDLIB
    """)


def test_install_is_noop_from_python_312(tmp_path):
    _run_child(tmp_path, """
        if sys.version_info < (3, 12):
            sys.version_info = (3, 12, 0, "final", 0)
        _zipdirs.install()
        assert zipimport.zipimporter.invalidate_caches is STDLIB
    """)


def test_package_installs_only_inside_a_spark_task(tmp_path):
    _run_child(tmp_path, """
        from pyspark.taskcontext import TaskContext

        def import_package():
            for name in [m for m in sys.modules if m.startswith("pimbloomfilters_spark")]:
                del sys.modules[name]
            import pimbloomfilters_spark

        import_package()  # a driver: pyspark loaded, no task context
        assert zipimport.zipimporter.invalidate_caches is STDLIB
        TaskContext._getOrCreate()  # what a Python worker sets before a task
        import_package()
        assert zipimport.zipimporter.invalidate_caches.__wrapped__ is STDLIB
    """)
