"""Ship the crabspark package to Spark Python workers.

On a real cluster the job runs ``spark-submit --py-files crabspark.zip``
(north rule); in-process sessions get the same effect via
``SparkContext.addPyFile`` on a freshly-zipped copy of the package, so
pandas UDFs that close over crabspark kernels unpickle on workers that did
not inherit the driver's sys.path.

Inside a Spark Python worker, importing crabspark also installs a guard on
``zipimport.zipimporter.invalidate_caches`` (``install_worker_zip_guard``).
pyspark calls ``importlib.invalidate_caches()`` at the start of every task,
and before CPython 3.13 that makes each ``zipimporter`` on the worker
eagerly re-read its whole archive directory: pyspark.zip holds over a
thousand entries and a worker holds about 17 importers over it, about
125-150 ms of CPU per task before any row moves. The guard reuses the
cached directory while the archive file is unchanged, so every UDF task
after a worker's first pays one ``stat`` per importer instead."""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

_SHIPPED_ATTR = "_crabspark_shipped"
_GUARD_ATTR = "_crabspark_zip_guard"


def build_zip(dest_dir: str | None = None) -> str:
    """Zip the installed crabspark package (py files only) for --py-files.
    The zip is content-addressed (source hash in the directory name) and
    reused across sessions in the same interpreter boot — repeated Engine
    constructions must not leak one temp dir each."""
    import hashlib

    import crabspark

    pkg_dir = os.path.dirname(os.path.abspath(crabspark.__file__))
    sources = [
        os.path.join(pkg_dir, f)
        for f in sorted(os.listdir(pkg_dir))
        if f.endswith(".py")
    ]
    contents = {}
    h = hashlib.sha1()
    for p in sources:
        with open(p, "rb") as f:
            data = f.read()
        contents[f"crabspark/{os.path.basename(p)}"] = data
        h.update(p.encode())
        h.update(data)
    if dest_dir is None:
        # Per-user, mode-0700 cache dir: the path is predictable from public
        # sources, so on a shared host another user could pre-create it and
        # plant a zip. Refuse to reuse anything we don't own, and re-verify
        # the cached zip's contents against the source hash before trusting
        # it; fall back to a private mkdtemp on any mismatch.
        uid = os.getuid() if hasattr(os, "getuid") else 0
        dest_dir = os.path.join(
            tempfile.gettempdir(),
            f"crabspark-ship-{uid}-{h.hexdigest()[:12]}",
        )
        try:
            os.makedirs(dest_dir, mode=0o700, exist_ok=True)
            st = os.stat(dest_dir)
            if hasattr(os, "getuid") and st.st_uid != uid:
                raise PermissionError("cache dir owned by another user")
        except OSError:
            dest_dir = tempfile.mkdtemp(prefix="crabspark-ship-")
    zip_path = os.path.join(dest_dir, "crabspark.zip")
    if os.path.exists(zip_path) and _zip_matches(zip_path, contents):
        return zip_path
    tmp = zip_path + f".tmp-{os.getpid()}"
    with zipfile.ZipFile(tmp, "w") as zf:
        for arcname, data in contents.items():
            zf.writestr(arcname, data)
    os.replace(tmp, zip_path)
    return zip_path


def _zip_matches(zip_path: str, contents: dict[str, bytes]) -> bool:
    """True iff the cached zip holds exactly the expected member bytes."""
    try:
        with zipfile.ZipFile(zip_path) as zf:
            names = zf.namelist()
            if sorted(names) != sorted(contents):
                return False
            return all(zf.read(n) == contents[n] for n in names)
    except (OSError, zipfile.BadZipFile, KeyError):
        return False


def ship_package(spark) -> None:
    """Idempotently attach the package zip to the session.

    When the driver itself imported crabspark FROM a zip archive (the
    ``spark-submit --py-files crabspark.zip`` launch path), the package
    directory is not a real filesystem dir and cannot be re-zipped — and
    does not need to be: --py-files already put the archive on every
    executor's sys.path. Detect that case and no-op."""
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    import crabspark

    pkg_dir = os.path.dirname(os.path.abspath(crabspark.__file__))
    if not os.path.isdir(pkg_dir):
        setattr(sc, _SHIPPED_ATTR, True)
        return
    sc.addPyFile(build_zip())
    setattr(sc, _SHIPPED_ATTR, True)


def in_spark_worker() -> bool:
    """True inside a Spark Python worker. pyspark sets the flag while it
    sets up a task's files, before any UDF is unpickled; the driver never
    sets it."""
    files = sys.modules.get("pyspark.core.files")
    return files is not None and bool(
        getattr(files.SparkFiles, "_is_running_on_worker", False)
    )


def zip_guard_installed() -> bool:
    """True iff this process runs the guarded ``invalidate_caches``."""
    return getattr(zipimport.zipimporter.invalidate_caches, _GUARD_ATTR, False)


def guard_zip_directory_cache() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip the directory re-read
    while the archive is unchanged; True iff the guard is active.

    The archive counts as unchanged while its ``(st_ino, st_size,
    st_mtime_ns)`` equals the stamp taken just before the last full
    re-read, so a rewrite during that read still triggers the next one. A
    changed stamp, a failed ``stat`` or a missing cache entry fall through
    to the stock re-read: modules added to a rewritten archive still
    become importable. Idempotent, and a no-op where the interpreter
    already re-reads lazily (``zipimporter._get_files``, CPython 3.13+)."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return False
    if zip_guard_installed():
        return True
    stock = cls.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stamps.pop(self.archive, None)
            stock(self)
            return
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        cache = zipimport._zip_directory_cache
        files = cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        stock(self)
        if self.archive in cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    invalidate_caches.__doc__ = stock.__doc__
    setattr(invalidate_caches, _GUARD_ATTR, True)
    cls.invalidate_caches = invalidate_caches
    return True


def install_worker_zip_guard() -> bool:
    """Install the zip-directory guard in a Spark Python worker only; the
    driver's import machinery stays stock. True iff the guard is active."""
    return in_spark_worker() and guard_zip_directory_cache()
