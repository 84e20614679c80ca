"""Start-up hook of the Python processes Spark starts for a `get_spark`
session (`session.py` says why). A `sitecustomize` it shadows still runs."""

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps = {}  # archive -> (st_mtime_ns, st_size) of the read zipimport caches


def invalidate_caches(self):
    """`zipimporter.invalidate_caches` that re-reads only a changed archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
        self._files = files
    else:
        _reread(self)
        _stamps[self.archive] = stamp


def install(path):
    """Take Spark's archives off path when `*.dist-info` names show the
    installed pyspark and py4j are their releases; else guard zip re-reads."""
    names = {p: os.path.basename(p) for p in path}
    jar = next((n for n in names.values() if n.startswith("spark-core_") and n.endswith(".jar")), None)
    pyspark = f"pyspark-{jar[:-4].rpartition('-')[2]}" if jar else None
    want = {p: pyspark for p, n in names.items() if n in ("pyspark.zip", jar)}
    want |= {p: n[:-8] for p, n in names.items() if n.startswith("py4j-") and n.endswith("-src.zip")}
    rest = [p for p in path if p not in want]
    if all(w and any(os.path.isdir(os.path.join(d, w + ".dist-info")) for d in rest) for w in want.values()):
        path[:] = rest
        for p in want:  # `importlib.invalidate_caches()` walks this cache too
            sys.path_importer_cache.pop(p, None)
    elif sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # one stamped read per archive


if __name__ == "sitecustomize":
    from importlib.machinery import PathFinder
    from importlib.util import module_from_spec

    install(sys.path)
    below = sys.path[sys.path.index(os.path.dirname(__file__)) + 1 :]
    if shadowed := PathFinder.find_spec("sitecustomize", below):
        shadowed.loader.exec_module(module_from_spec(shadowed))
