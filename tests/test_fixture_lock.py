"""Cross-process fixture build lock: concurrent sessions sharing the
fixture root (bench + pytest) must not wipe each other's in-progress
builds. ``_fixture(path, build)`` holds an exclusive ``flock`` on
``<path>.lock`` while ``build`` runs and releases it on every exit
path; racers wait, then observe ``_COMPLETE`` and reuse the finished
fixture. The kernel releases the lock of a holder that dies. No
SparkSession needed — the guard is pure filesystem."""

import ast
import fcntl
import multiprocessing
import os
import signal
import time

import pytest

import __spark_entry__ as entrymod


def _lock_is_free(path):
    """Non-blocking probe from a fresh open file description, so it
    also sees a lock this very process holds."""
    fd = os.open(path + ".lock", os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        return False
    finally:
        os.close(fd)
    return True


def _fds_open_on(path):
    """This process's open file descriptors that point at ``path``."""
    target = os.path.realpath(path)
    fds = []
    for fd in os.listdir("/proc/self/fd"):
        try:
            if os.readlink(f"/proc/self/fd/{fd}") == target:
                fds.append(fd)
        except OSError:  # the descriptor listdir itself used
            pass
    return fds


def _never(path):
    raise AssertionError(f"{path} was rebuilt although it is complete")


def _racer(path, build_sleep, q):
    import __spark_entry__ as e

    built = []

    def build(p):
        os.makedirs(p)
        time.sleep(build_sleep)  # widen the race window
        with open(os.path.join(p, "data"), "w") as fh:
            fh.write("built\n")
        built.append(p)

    assert e._fixture(path, build) == path
    q.put("built" if built else "reused")


def _race(path, n):
    q = multiprocessing.Queue()
    procs = [
        multiprocessing.Process(target=_racer, args=(path, 0.5, q))
        for _ in range(n)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(30)
    return sorted(q.get(timeout=5) for _ in procs)


def test_exactly_one_builder_wins_the_race(tmp_path):
    path = str(tmp_path / "fx")
    assert _race(path, 3) == ["built", "reused", "reused"]
    # the winner's build survived intact and the lock was released
    assert open(os.path.join(path, "data")).read() == "built\n"
    assert os.path.exists(os.path.join(path, "_COMPLETE"))
    assert _lock_is_free(path)


def test_half_build_is_wiped_and_lock_cycle_is_reentrant(tmp_path):
    path = str(tmp_path / "fx2")
    # crashed half-build: dir exists, no _COMPLETE
    os.makedirs(path)
    with open(os.path.join(path, "partial"), "w") as fh:
        fh.write("junk\n")

    def failing(p):
        assert not os.path.exists(os.path.join(p, "partial"))  # wiped
        assert not _lock_is_free(p)  # build lock held
        os.makedirs(p)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        entrymod._fixture(path, failing)
    assert not os.path.exists(path)  # the failed build is wiped too
    assert _lock_is_free(path)
    # same-process retry after a failed build must not self-deadlock;
    # a build that makes no directory still gets one for its marker
    assert entrymod._fixture(path, lambda p: None) == path
    assert _lock_is_free(path)
    assert os.path.exists(os.path.join(path, "_COMPLETE"))
    assert entrymod._fixture(path, _never) == path


def _holder(path, held, done):
    """Take the build lock, leave a partial build, and wait."""
    import __spark_entry__ as e

    def build(p):
        os.makedirs(p)
        with open(os.path.join(p, "partial"), "w") as fh:
            fh.write("junk\n")
        held.set()
        done.wait(60)

    e._fixture(path, build)


def _kill_holder_mid_build(path):
    """Start a child that takes the build lock and leaves a partial
    build, then SIGKILL it, as a crashed session would."""
    held, done = multiprocessing.Event(), multiprocessing.Event()
    child = multiprocessing.Process(target=_holder, args=(path, held, done))
    child.start()
    assert held.wait(30)
    os.kill(child.pid, signal.SIGKILL)
    child.join(30)
    assert os.path.exists(os.path.join(path, "partial"))


def test_stale_lock_from_crashed_holder_is_broken(tmp_path):
    """A builder killed mid-build leaves no lock behind: the kernel
    frees it, so the next session takes the lock at once and wipes
    the partial files before rebuilding."""
    path = str(tmp_path / "fx3")
    _kill_holder_mid_build(path)

    def build(p):
        assert not os.path.exists(os.path.join(p, "partial"))
        assert not _lock_is_free(p)  # the new builder holds it
        os.makedirs(p)

    t0 = time.monotonic()
    entrymod._fixture(path, build)
    assert time.monotonic() - t0 < 5
    assert _lock_is_free(path)
    assert entrymod._fixture(path, _never) == path


def test_concurrent_stale_break_is_atomic(tmp_path):
    """After a holder is killed mid-build, racing sessions still get
    exactly one builder; the others reuse its finished fixture."""
    path = str(tmp_path / "fx5")
    _kill_holder_mid_build(path)
    assert _race(path, 4) == ["built", "reused", "reused", "reused"]
    assert open(os.path.join(path, "data")).read() == "built\n"
    assert not os.path.exists(os.path.join(path, "partial"))
    assert _lock_is_free(path)


def test_stale_aged_lock_with_live_holder_is_not_broken(
    tmp_path, monkeypatch
):
    """A lock held by a live session is never broken, however old its
    file looks: the waiter gives up after _FIXTURE_LOCK_WAIT_S with
    TimeoutError and leaves the holder's lock and build alone."""
    path = str(tmp_path / "fx4")
    held, done = multiprocessing.Event(), multiprocessing.Event()
    child = multiprocessing.Process(target=_holder, args=(path, held, done))
    child.start()
    try:
        assert held.wait(30)
        old = time.time() - 3600
        os.utime(path + ".lock", (old, old))
        monkeypatch.setattr(entrymod, "_FIXTURE_LOCK_WAIT_S", 0.5)
        with pytest.raises(TimeoutError):
            entrymod._fixture(path, _never)
        assert _fds_open_on(path + ".lock") == []
        assert not _lock_is_free(path)
        assert os.path.exists(os.path.join(path, "partial"))
    finally:
        done.set()
        child.join(30)
    assert child.exitcode == 0
    assert _lock_is_free(path)
    assert entrymod._fixture(path, _never) == path


def _failing_builder(path, failed, done):
    """A session whose build raises, and which then carries on."""
    import __spark_entry__ as e

    def build(p):
        os.makedirs(p)
        with open(os.path.join(p, "partial"), "w") as fh:
            fh.write("junk\n")
        raise RuntimeError("build failed")

    try:
        e._fixture(path, build)
    except RuntimeError:
        failed.set()
    done.wait(60)


def test_failed_build_releases_the_lock_in_a_live_session(
    tmp_path, monkeypatch
):
    """A build that raises gives its lock back at once: a live
    session that failed does not make the next session wait for the
    whole _FIXTURE_LOCK_WAIT_S (3600 s in production)."""
    path = str(tmp_path / "fx6")
    failed, done = multiprocessing.Event(), multiprocessing.Event()
    child = multiprocessing.Process(
        target=_failing_builder, args=(path, failed, done)
    )
    child.start()
    try:
        assert failed.wait(30)
        assert child.is_alive()
        monkeypatch.setattr(entrymod, "_FIXTURE_LOCK_WAIT_S", 5.0)
        t0 = time.monotonic()
        entrymod._fixture(path, lambda p: os.makedirs(p))
        assert time.monotonic() - t0 < 5
        assert not os.path.exists(os.path.join(path, "partial"))
        assert os.path.exists(os.path.join(path, "_COMPLETE"))
    finally:
        done.set()
        child.join(30)
    assert child.exitcode == 0


def _entry_tree():
    with open(entrymod.__file__) as fh:
        return ast.parse(fh.read())


def test_every_marker_gated_fixture_uses_the_one_guard():
    """One fixture protocol: no string naming a completion marker
    appears in the entry file outside _fixture, so no fixture gates on
    a marker of its own that bypasses the build lock."""
    tree = _entry_tree()
    guard = set()
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == "_fixture":
            guard.update(id(n) for n in ast.walk(node))
    assert guard
    stray = [
        (node.lineno, node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "COMPLETE" in node.value
        and id(node) not in guard
    ]
    assert stray == []


def test_one_fixture_root_and_no_unguarded_publish():
    """Every fixture path derives from the one root constant, and no
    fixture is published by a tmp write plus ``os.replace`` beside the
    guard."""
    tree = _entry_tree()
    roots = [
        (node.lineno, node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "mape_spark_fixtures" in node.value
    ]
    assert len(roots) == 1, roots
    replaces = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "replace"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "os"
    ]
    assert replaces == []


def test_bench_prebuilds_every_fixture_a_query_reaches():
    """bench.py builds the fixtures before its timed passes: every
    function of the entry file that calls ``_fixture`` and that a
    registered builder reaches through the module's call graph is also
    reached from a name in ``bench.PREBUILD_QUERIES``. Otherwise the
    first timed pass includes that fixture's build. AST walk; starts no
    Spark."""
    import bench

    tree = _entry_tree()
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    calls = {
        name: {
            n.id
            for n in ast.walk(fn)
            if isinstance(n, ast.Name) and n.id in funcs and n.id != name
        }
        for name, fn in funcs.items()
    }
    sites = {
        name
        for name in calls
        if name != "_fixture" and "_fixture" in calls[name]
    }

    def reached(roots):
        seen, todo = set(), list(roots)
        while todo:
            name = todo.pop()
            if name not in seen:
                seen.add(name)
                todo.extend(calls[name])
        return seen & sites

    queries = entrymod.queries()
    registered = reached(fn.__name__ for fn in queries.values())
    prebuilt = reached(queries[name].__name__ for name in bench.PREBUILD_QUERIES)
    assert len(registered) > 20
    assert sorted(registered - prebuilt) == []
