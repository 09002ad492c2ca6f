"""The task-start ACK hook (``sketches_rust_spark/_task_hooks.py``)."""

import importlib
import os
import socket
import sys
import types

import pytest

from sketches_rust_spark import _task_hooks

linux_only = pytest.mark.skipif(not hasattr(socket, "TCP_QUICKACK"),
                                reason="TCP_QUICKACK is Linux-only")


def setup_spark_files(infile):
    """Stands in for pyspark's task setup, which ends the same way."""
    importlib.invalidate_caches()


@pytest.fixture
def hooked(monkeypatch):
    monkeypatch.setattr(importlib, "invalidate_caches", _task_hooks._invalidate_caches)
    monkeypatch.setattr(_task_hooks, "last_fd", None)


@pytest.fixture
def tcp_pair():
    with socket.create_server(("127.0.0.1", 0)) as server:
        client = socket.create_connection(server.getsockname())
        peer, _ = server.accept()
    if hasattr(socket, "TCP_QUICKACK"):
        # TCP_QUICKACK reads 1 until the connection turns interactive:
        # start from 0 so that the hook's write shows
        client.setsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK, 0)
    yield client
    client.close()
    peer.close()


def _quickack_of(sock):
    return sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK)


def _worker_loaded(monkeypatch):
    monkeypatch.setitem(sys.modules, "pyspark.worker", types.ModuleType("pyspark.worker"))


@linux_only
def test_hook_acks_a_workers_tcp_socket(hooked, tcp_pair, monkeypatch):
    _worker_loaded(monkeypatch)
    with os.fdopen(os.dup(tcp_pair.fileno()), "rb") as infile:  # as the daemon opens it
        setup_spark_files(infile)
        assert _task_hooks.last_fd == infile.fileno()
    assert _quickack_of(tcp_pair) == 1
    tcp_pair.sendall(b"still open")


@linux_only
def test_hook_is_inert_outside_a_worker(hooked, tcp_pair, monkeypatch):
    monkeypatch.delitem(sys.modules, "pyspark.worker", raising=False)
    with os.fdopen(os.dup(tcp_pair.fileno()), "rb") as infile:
        setup_spark_files(infile)
    assert _quickack_of(tcp_pair) == 0
    assert _task_hooks.last_fd is None


def test_hook_is_inert_on_unix_sockets_and_without_a_socket(hooked, monkeypatch):
    _worker_loaded(monkeypatch)
    left, right = socket.socketpair()
    with left, right, os.fdopen(os.dup(left.fileno()), "rb") as infile:
        setup_spark_files(infile)
        left.sendall(b"x")
        assert right.recv(1) == b"x"
    setup_spark_files(None)
    with open(os.devnull, "rb") as not_a_socket:
        setup_spark_files(not_a_socket)
        assert not_a_socket.read() == b""  # still open
    importlib.invalidate_caches()  # a caller with no ``infile`` at all
    assert _task_hooks.last_fd is None


def test_hook_does_nothing_off_linux(hooked, tcp_pair, monkeypatch):
    _worker_loaded(monkeypatch)
    monkeypatch.setattr(_task_hooks, "_QUICKACK", None)
    with os.fdopen(os.dup(tcp_pair.fileno()), "rb") as infile:
        setup_spark_files(infile)
    assert _task_hooks.last_fd is None


@linux_only
def test_hook_runs_in_spark_worker_tasks(spark):
    """Inside a task of a worker that has imported the package, the hook
    has acknowledged the worker's socket to the JVM."""
    if spark.conf.get("spark.python.unix.domain.socket.enabled", "false") == "true":
        pytest.skip("workers talk to the JVM over a Unix-domain socket")

    def jvm_socket_acked(batches):
        """Whether the hook ran on this worker's loopback TCP socket to the
        JVM (None before the worker imported the package)."""
        import pandas as pd

        from sketches_rust_spark import _task_hooks
        fd = _task_hooks.last_fd
        acked = None
        if fd is not None:
            with socket.socket(fileno=os.dup(fd)) as sock:
                acked = (sock.family in (socket.AF_INET, socket.AF_INET6)
                         and sock.getpeername()[0] in ("127.0.0.1", "::1"))
        for _ in batches:
            pass
        yield pd.DataFrame({"acked": [acked]})

    df = spark.range(8).repartition(8)
    seen = [r["acked"] for _ in range(3)
            for r in df.mapInPandas(jvm_socket_acked, "acked boolean").collect()]
    assert True in seen, seen
    assert False not in seen, seen
