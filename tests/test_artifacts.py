"""The artifact store contract (spark_file_mover_spark.artifacts), pinned
without a JVM or test data: a stub session only needs
``sparkContext.applicationId``, and corpus keys only need a directory
of ``*.parquet`` files to fingerprint.

Plus the guard that keeps the store the only owner of cross-call
artifacts: no package module outside ``artifacts.py`` and
``sources/io.py`` builds a validity key by hand, and no hand-rolled
cache global (``_*CACHE*`` / ``_last_*``) comes back.
"""

from __future__ import annotations

import ast
import logging
import os
import sys
import threading
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

from spark_file_mover_spark import artifacts
from spark_file_mover_spark.checkpoints import lazy_checkpoints

PKG = Path(artifacts.__file__).parent


def _session(app: str = "app-1"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture(autouse=True)
def _clean_store():
    yield
    for n in artifacts.names():
        if n.startswith("t."):
            artifacts.evict(n)


def _counting(value="v"):
    calls = []

    def build():
        calls.append(1)
        return f"{value}{len(calls)}"

    return build, calls


def test_one_build_per_key():
    spark = _session()
    build, calls = _counting()
    assert artifacts.get_or_build(spark, "t.one", build) == "v1"
    assert artifacts.get_or_build(spark, "t.one", build) == "v1"
    assert calls == [1]
    assert artifacts.peek("t.one") == "v1"
    assert "t.one" in artifacts.names()


def test_corpus_key_follows_in_place_rewrite(tmp_path):
    spark = _session()
    (tmp_path / "orders.parquet").write_bytes(b"x")
    build, calls = _counting()
    assert artifacts.get_or_build(spark, "t.corpus", build, sf_dir=str(tmp_path)) == "v1"
    assert artifacts.get_or_build(spark, "t.corpus", build, sf_dir=str(tmp_path)) == "v1"
    (tmp_path / "orders.parquet").write_bytes(b"xx")
    assert artifacts.get_or_build(spark, "t.corpus", build, sf_dir=str(tmp_path)) == "v2"


def test_new_key_releases_old_entry():
    released = []
    build, calls = _counting()
    artifacts.get_or_build(_session("app-1"), "t.rel", build, release=released.append)
    assert released == []
    v = artifacts.get_or_build(_session("app-2"), "t.rel", build, release=released.append)
    assert (v, released) == ("v2", ["v1"])
    # one live entry per name: other names are untouched
    artifacts.get_or_build(_session("app-2"), "t.other", build, release=released.append)
    assert released == ["v1"]


def test_raising_release_is_logged_not_raised(caplog):
    def release(_v):
        raise RuntimeError("session stopped")

    build, _ = _counting()
    artifacts.get_or_build(_session("app-1"), "t.boom", build, release=release)
    with caplog.at_level(logging.WARNING, logger=artifacts.__name__):
        v = artifacts.get_or_build(_session("app-2"), "t.boom", build, release=release)
        artifacts.evict("t.boom")
    assert v == "v2"
    failures = [r for r in caplog.records if "t.boom" in r.getMessage()]
    assert len(failures) == 2
    assert all(r.levelno == logging.WARNING and r.exc_info for r in failures)


def test_lazy_mode_bypasses_read_write_and_eviction():
    released = []
    build, calls = _counting()
    artifacts.get_or_build(_session("app-1"), "t.lazy", build, release=released.append)
    with lazy_checkpoints():
        # no read: a matching live entry is not served
        assert artifacts.get_or_build(_session("app-1"), "t.lazy", build) == "v2"
        # no eviction: a different key leaves the live entry in place
        assert artifacts.get_or_build(
            _session("app-2"), "t.lazy", build, release=released.append
        ) == "v3"
        # no write: nothing new is stored
        artifacts.get_or_build(_session("app-1"), "t.lazy-new", build)
    assert artifacts.peek("t.lazy") == "v1"
    assert "t.lazy-new" not in artifacts.names()
    assert released == []
    assert artifacts.get_or_build(_session("app-1"), "t.lazy", build) == "v1"


def test_concurrent_callers_build_once():
    calls = []
    n_threads = 8  # more than the cores, so builds and lookups interleave
    start = threading.Barrier(n_threads)

    def build():
        calls.append(1)
        time.sleep(0.05)
        return object()

    results = []

    def worker():
        start.wait(timeout=10)
        results.append(artifacts.get_or_build(_session(), "t.race", build))

    threads = [threading.Thread(target=worker) for _ in range(n_threads)]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert calls == [1]
    assert len(results) == n_threads
    assert all(r is results[0] for r in results)


def test_builds_nest():
    spark = _session()

    def outer():
        return artifacts.get_or_build(spark, "t.inner", lambda: "in") + "+out"

    assert artifacts.get_or_build(spark, "t.outer", outer) == "in+out"
    assert artifacts.peek("t.inner") == "in"


def test_dir_fixture_rebuilds_when_reaped_and_removes_superseded(tmp_path):
    made = []

    def write():
        d = tmp_path / f"fixture{len(made)}"
        d.mkdir()
        made.append(str(d))
        return str(d)

    first = artifacts.get_or_build_dir(_session("app-1"), "t.dir", write, sf_dir=str(tmp_path))
    assert artifacts.get_or_build_dir(_session("app-1"), "t.dir", write, sf_dir=str(tmp_path)) == first
    os.rmdir(first)  # a tmp reaper removes the live directory
    second = artifacts.get_or_build_dir(_session("app-1"), "t.dir", write, sf_dir=str(tmp_path))
    assert second != first and os.path.isdir(second)
    third = artifacts.get_or_build_dir(_session("app-2"), "t.dir", write, sf_dir=str(tmp_path))
    assert not os.path.exists(second) and os.path.isdir(third)
    artifacts.evict("t.dir")
    assert not os.path.exists(third)


def test_unpersist_release_handles_tuples():
    seen = []
    rel = SimpleNamespace(unpersist=lambda: seen.append("rel"))
    artifacts.unpersist(rel)
    artifacts.unpersist((rel, 42, {"k": 1}))
    artifacts.unpersist(None)
    assert seen == ["rel", "rel"]


# ---------------------------------------------------------------------------
# Guard: the store is the only owner of cross-call artifacts
# ---------------------------------------------------------------------------

_KEY_OWNERS = {PKG / "artifacts.py", PKG / "sources" / "io.py"}
# load_table's session-scoped scan memo is deliberately its own cache:
# it is keyed on the session object, not on an artifact key
_SCAN_MEMO = {
    (PKG / "sources" / "io.py", name)
    for name in ("_CACHE", "_CACHE_SESSION_KEY", "_CacheKey")
}


def _modules():
    return sorted(p for p in PKG.rglob("*.py") if "__pycache__" not in p.parts)


def _module_globals(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        for t in targets:
            if isinstance(t, ast.Name):
                yield t.id, node.lineno


def test_no_hand_rolled_artifact_keys():
    offenders = []
    for path in _modules():
        if path in _KEY_OWNERS:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "applicationId":
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno} .applicationId")
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name == "artifact_cache_key":
                    offenders.append(f"{path.relative_to(PKG)}:{node.lineno} artifact_cache_key(")
    assert not offenders, "use artifacts.get_or_build: " + ", ".join(offenders)


def test_no_module_cache_globals():
    offenders = []
    for path in _modules():
        if path == PKG / "artifacts.py":
            continue
        for name, line in _module_globals(ast.parse(path.read_text())):
            if (path, name) in _SCAN_MEMO:
                continue
            if (name.startswith("_") and "CACHE" in name.upper()) or name.startswith("_last_"):
                offenders.append(f"{path.relative_to(PKG)}:{line} {name}")
    assert not offenders, "module cache globals: " + ", ".join(offenders)
