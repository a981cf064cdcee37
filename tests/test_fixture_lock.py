"""Cross-process fixture build lock: concurrent sessions sharing
/tmp/mape_spark_fixtures (bench + pytest) must not wipe each other's
in-progress builds. ``_fixture_ready`` returning False holds an
exclusive ``flock`` on ``<path>.lock`` until the matching
``_mark_fixture_ready``; racers wait, then observe ``_COMPLETE`` and
reuse the finished fixture. The kernel releases the lock of a holder
that dies. No SparkSession needed — the guard is pure filesystem."""

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


def _racer(path, build_sleep, q):
    import __spark_entry__ as e

    if not e._fixture_ready(path):
        os.makedirs(path, exist_ok=True)
        time.sleep(build_sleep)  # widen the race window
        with open(os.path.join(path, "data"), "w") as fh:
            fh.write("built\n")
        e._mark_fixture_ready(path)
        q.put("built")
    else:
        q.put("reused")


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
    assert entrymod._fixture_ready(path) is False
    assert not os.path.exists(os.path.join(path, "partial"))  # wiped
    assert not _lock_is_free(path)  # build lock held
    # same-process retry after a failed build must not self-deadlock
    assert entrymod._fixture_ready(path) is False
    os.makedirs(path, exist_ok=True)
    entrymod._mark_fixture_ready(path)
    assert _lock_is_free(path)
    assert entrymod._fixture_ready(path) is True


def _holder(path, held, done):
    """Take the build lock, leave a partial build, and wait."""
    import __spark_entry__ as e

    assert e._fixture_ready(path) is False
    os.makedirs(path)
    with open(os.path.join(path, "partial"), "w") as fh:
        fh.write("junk\n")
    held.set()
    done.wait(60)
    e._mark_fixture_ready(path)


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
    t0 = time.monotonic()
    assert entrymod._fixture_ready(path) is False
    assert time.monotonic() - t0 < 5
    assert not os.path.exists(os.path.join(path, "partial"))
    assert not _lock_is_free(path)  # the new builder holds it
    os.makedirs(path, exist_ok=True)
    entrymod._mark_fixture_ready(path)
    assert _lock_is_free(path)
    assert entrymod._fixture_ready(path) is True


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
            entrymod._fixture_ready(path)
        assert path not in entrymod._FIXTURE_BUILD_LOCKS
        assert not _lock_is_free(path)
        assert os.path.exists(os.path.join(path, "partial"))
    finally:
        done.set()
        child.join(30)
    assert child.exitcode == 0
    assert _lock_is_free(path)
    assert entrymod._fixture_ready(path) is True


def test_every_marker_gated_fixture_uses_the_one_guard():
    """One fixture protocol: no string naming a completion marker
    appears in the entry file outside _fixture_ready and
    _mark_fixture_ready, so no fixture gates on a marker of its own
    that bypasses the build lock."""
    import ast

    with open(entrymod.__file__) as fh:
        tree = ast.parse(fh.read())
    guard = set()
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name in (
            "_fixture_ready",
            "_mark_fixture_ready",
        ):
            guard.update(id(n) for n in ast.walk(node))
    stray = [
        (node.lineno, node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "COMPLETE" in node.value
        and id(node) not in guard
    ]
    assert stray == []
