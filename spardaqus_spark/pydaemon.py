"""Python worker daemon that imports the installed pyspark, not Spark's zips.

Spark puts `pyspark.zip`, `py4j-*-src.zip` and the spark-core jar in front
of every worker's PYTHONPATH. The zip holds no bytecode, so each new worker
compiles the pyspark modules it imports from source, and every task's
`importlib.invalidate_caches()` makes each cached zipimporter re-read its
whole archive directory (the jar alone has thousands of entries). When the same
pyspark and py4j are installed unzipped, this daemon drops the archives
from `sys.path` and from the importer cache, then runs the stock
`pyspark.daemon.manager()`; otherwise it changes nothing.

Selected by `session.get_spark` for local masters through
`spark.python.daemon.module`. Only stdlib may be imported before the path
fix: an earlier pyspark import would load it from the zip.
"""

import fnmatch
import os
import sys
import zipfile
from importlib.machinery import PathFinder

_ARCHIVES = ("pyspark*.zip", "py4j*.zip", "*.jar")


def _is_archive(entry: str) -> bool:
    return any(fnmatch.fnmatch(os.path.basename(entry), p) for p in _ARCHIVES)


def _unzipped_dir(name: str, path: list[str]) -> str | None:
    """Directory of the regular package `name` resolves to on `path`, or
    None when it does not resolve to one (missing, or inside an archive)."""
    spec = PathFinder.find_spec(name, path)
    if spec is None or not spec.origin or not os.path.isfile(spec.origin):
        return None
    return os.path.dirname(spec.origin)


def _zip_member(archive: str, member: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return z.read(member)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def archive_free_path(path: list[str]) -> list[str]:
    """`path` without Spark's archives when an unzipped pyspark and py4j
    remain importable and that pyspark's `version.py` is byte-equal to the
    pyspark zip's; else `path` itself, unchanged."""
    kept = [e for e in path if not _is_archive(e)]
    zips = [e for e in path if fnmatch.fnmatch(os.path.basename(e), "pyspark*.zip")]
    pyspark = _unzipped_dir("pyspark", kept)
    if not zips or pyspark is None or _unzipped_dir("py4j", kept) is None:
        return path
    try:
        with open(os.path.join(pyspark, "version.py"), "rb") as f:
            installed = f.read()
    except OSError:
        return path
    if any(_zip_member(z, "pyspark/version.py") != installed for z in zips):
        return path
    return kept


def drop_archives(path: list[str], importer_cache: dict) -> None:
    """Apply `archive_free_path` to `path` in place and evict the dropped
    archives' importers, subpackage entries included, from the cache."""
    new = archive_free_path(path)
    if new is path:
        return
    dropped = [e for e in path if e not in new]
    path[:] = new
    for key in list(importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del importer_cache[key]


def main() -> None:
    drop_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
