"""Spark's Python daemon, importing PySpark from its unpacked install.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar at the
head of every Python worker's ``sys.path``. PySpark calls
``importlib.invalidate_caches()`` before each task
(``worker_util.setup_spark_files``), and each zipimporter re-reads its
archive's directory then: 0.1-0.2 s per task on a 4-core box
(BASELINE.md, "Python task floor"). When the same PySpark and py4j are
unpacked on the rest of the path, this module drops the archives before
anything imports ``pyspark`` and then runs Spark's own daemon; the
workers it forks inherit the path. ``session.get_spark`` selects it with
``spark.python.daemon.module``.

Run as ``python -m spartan2_spark.pyworker``; only the standard library
is imported before the path is settled.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_ARCHIVE = (".zip", ".jar")
_UNPACKED = ("pyspark", "py4j")
_VERSION = re.compile(r"^__version__\s*(?::\s*str\s*)?=\s*['\"]([^'\"]+)['\"]", re.M)


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _unpacked_version(name: str, dirs: list[str]) -> str | None:
    """Version of the first package ``name`` on ``dirs``, read from its
    ``version.py`` without importing it; None if absent."""
    for d in dirs:
        pkg = os.path.join(d or ".", name)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            try:
                with open(os.path.join(pkg, "version.py")) as f:
                    return _version(f.read())
            except OSError:
                return None
    return None


def unpacked_path(path: list[str]) -> list[str]:
    """``path`` without its ``.zip``/``.jar`` entries, or ``path`` itself.

    The archives go only when ``pyspark`` and ``py4j`` resolve from the
    remaining entries, and when every archive holds no Python module but
    those two, each in the version the unpacked copy has. An archive
    entry naming no file is dropped with the others: no importer reads it.
    """
    rest = [p for p in path if not p.endswith(_ARCHIVE)]
    if len(rest) == len(path):
        return path
    found = {name: _unpacked_version(name, rest) for name in _UNPACKED}
    if None in found.values():
        return path
    for archive in path:
        if not archive.endswith(_ARCHIVE) or not os.path.isfile(archive):
            continue
        try:
            with zipfile.ZipFile(archive) as z:
                modules = {
                    n.split("/", 1)[0].removesuffix(".pyc").removesuffix(".py")
                    for n in z.namelist()
                    if n.endswith((".py", ".pyc"))
                }
                if not modules <= found.keys() or any(
                    _version(z.read(f"{m}/version.py").decode()) != found[m] for m in modules
                ):
                    return path
        except (OSError, KeyError, zipfile.BadZipFile):
            return path
    return rest


def main() -> None:
    path = unpacked_path(sys.path)
    for p in set(sys.path) - set(path):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = path
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
