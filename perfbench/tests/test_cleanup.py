"""The benchmark leaves no process behind: started on ``meds_preprocess``
and killed mid-pass, neither its gateway JVM (java ... SparkSubmit) nor
its Python workers (pyspark.daemon) outlive it."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import procs  # noqa: E402


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _start_and_wait_for_workers(tmp_path) -> tuple[subprocess.Popen, set[int]]:
    """Start a run, return once Python workers exist (the warm-up pass is
    writing its .nrt files) with every descendant seen so far."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "meds_preprocess",
         "--seed", "1", "--seconds", "6", "--trace", "0"],
        cwd=str(tmp_path), stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    seen: set[int] = set()
    deadline = time.monotonic() + 150
    while time.monotonic() < deadline and proc.poll() is None:
        kids = procs.descendants(proc.pid)
        seen.update(kids)
        if any("pyspark.daemon" in _cmdline(p) for p in kids):
            return proc, seen
        time.sleep(0.1)
    proc.kill()
    pytest.fail(f"no Python workers appeared; exit {proc.poll()}: {proc.stderr.read()[-2000:]!r}")


def _survivors(pids: set[int], timeout: float) -> list[str]:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        left = [p for p in pids if procs.alive(p)]
        if not left:
            return []
        time.sleep(0.2)
    return [f"{p}: {_cmdline(p)[:120]}" for p in pids if procs.alive(p)]


@pytest.mark.parametrize("sig", [signal.SIGTERM, signal.SIGINT, signal.SIGKILL])
def test_killed_mid_pass_leaves_no_process(tmp_path, sig):
    proc, seen = _start_and_wait_for_workers(tmp_path)
    assert any("SparkSubmit" in _cmdline(p) for p in seen)
    proc.send_signal(sig)
    out, _ = proc.communicate(timeout=60)
    assert proc.returncode != 0
    assert out == b"", "an interrupted run must print no result"
    # a graceful stop waits for its tree before exiting; after SIGKILL the
    # JVM sees its stdin close and takes its workers down with it
    assert _survivors(seen, timeout=1 if sig != signal.SIGKILL else 30) == []
    if sig != signal.SIGKILL:
        work = os.path.join(HERE, ".work", f"run-{proc.pid}")
        assert not os.path.exists(work), "scratch outputs left behind"
