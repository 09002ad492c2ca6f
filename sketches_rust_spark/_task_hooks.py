"""Two hooks on a Python worker's per-task setup: no zip re-read, no
delayed-ACK stall.

Both hang off one call. A pyspark 4.1 Python worker ends every task's setup
with ``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files(infile)``), and on CPython 3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every zip importer in
``sys.path_importer_cache``. Python workers are reused across tasks, and
every worker that unpickles one of this library's UDFs imports the package,
whose ``__init__`` calls :func:`install`. So both hooks apply from a
worker's second library task on, to every UDF that worker runs (user UDFs
included: what an import finds and what a task reads are unchanged). If a
pyspark release stops calling ``importlib.invalidate_caches`` from
``setup_spark_files``, or renames its ``infile`` argument, the hooks do
nothing and tasks run as without them.

**Zip directories.** Each zip importer's ``invalidate_caches`` re-reads its
archive's whole directory. A worker holds 16 of them: two over
``spark-core_2.13-4.1.2.jar`` (5,359 entries, about 40 ms a read), twelve
over ``pyspark.zip`` (1,328 entries, about 10 ms a read) and the rest over
py4j. Timed inside ``mapInPandas`` tasks (``local[3]``, 4-core host, 8
tasks) that re-read took 0.11-0.19 s of every task; with the hook it took
0.00006-0.00018 s, and a 30-row ``mapInPandas`` went from a median of
0.42 s to 0.12 s (a query of the same rows with no Python stage: 0.05-0.07
s). The hook keeps, on each importer, the archive's ``(st_mtime_ns,
st_size)`` at its last read, and calls the original method only when the
stamp on disk differs or ``os.stat`` fails. An archive that is new,
rewritten or deleted is therefore handled exactly as before: read, re-read
or emptied.

**Task-start ACK.** The worker reads each task's setup from its TCP socket
to the JVM, and the JVM then writes the task's first Arrow batch. The
worker has sent nothing back by then, so the kernel holds its ACK of the
setup bytes for the delayed-ACK timer (40 ms on Linux), and the JVM's send
of the batch waits on that ACK under Nagle's algorithm. Neither Spark nor
pyspark sets ``TCP_NODELAY`` on that socket. Timed inside a 3-row
``mapInPandas`` over 3 cached partitions (``local[3]``, 4-core host, 6
rounds), the wait from the UDF's entry to its first batch was 37-51 ms;
with ``TCP_QUICKACK`` set at task setup, 1-4 ms. The hook wraps
``importlib.invalidate_caches``: it calls the original first, then sets
``TCP_QUICKACK`` on the socket behind its caller's ``infile`` (read from
the caller's frame, the one place this depends on pyspark's internals).
That sends the pending ACK, and the JVM's held batch follows at once. It
acts only in a Python worker (``pyspark.worker`` is loaded) and only on an
``AF_INET``/``AF_INET6`` stream socket; with a Unix-domain socket, off
Linux (no ``TCP_QUICKACK``), or when no socket is found, it does nothing,
and it never raises. Spark's own alternative is
``spark.python.unix.domain.socket.enabled=true`` (1-12 ms in the same
probe): core configuration, which a library cannot set on a running
session. ``scripts/l2_floor.py`` measures the wait.
"""

import importlib
import os
import socket
import sys
import zipimport

_zip_original = zipimport.zipimporter.invalidate_caches
_importlib_original = importlib.invalidate_caches
_QUICKACK = getattr(socket, "TCP_QUICKACK", None)  # Linux only

last_fd = None  # the descriptor of the last socket acknowledged


def _zip_invalidate_caches(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        self._zipcache_stamp = None  # a restored copy is read again
        return _zip_original(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_zipcache_stamp", None) != stamp:
        _zip_original(self)
        self._zipcache_stamp = stamp


def _quickack(infile) -> None:
    global last_fd
    sock = socket.socket(fileno=infile.fileno())
    try:
        if (sock.family in (socket.AF_INET, socket.AF_INET6)
                and sock.type == socket.SOCK_STREAM):
            sock.setsockopt(socket.IPPROTO_TCP, _QUICKACK, 1)
            last_fd = sock.fileno()
    finally:
        sock.detach()  # the descriptor stays the worker's


def _invalidate_caches():
    _importlib_original()
    if _QUICKACK is None or "pyspark.worker" not in sys.modules:
        return
    try:
        _quickack(sys._getframe(1).f_locals["infile"])
    except Exception:  # not a worker's task setup: nothing to acknowledge
        pass


def install():
    """Patch ``zipimport.zipimporter.invalidate_caches`` and
    ``importlib.invalidate_caches``; idempotent."""
    zipimport.zipimporter.invalidate_caches = _zip_invalidate_caches
    importlib.invalidate_caches = _invalidate_caches
