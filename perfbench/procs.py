"""The benchmark's child processes: find them, stop them, wait for them.

The engine's session starts a JVM (through spark-submit), and the JVM
forks the Python worker daemon and its workers. Stopping the session
does not wait for any of them: the JVM exits only when it reads EOF on
its stdin, a moment after the Python process that launched it has
gone. ``stop_all`` closes that pipe, waits for the JVM, then terminates
and waits for every process left below this one, so that a run leaves
nothing behind on any path out of it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    """Make orphaned descendants (the worker daemon once the JVM has
    exited) children of this process instead of init, so they stay
    visible to ``descendants`` and can be reaped. Best effort."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, parent pid) of ``pid``, or None once it has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], int(fields[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` (zombies excluded)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None and st[0] != "Z":
                children.setdefault(st[1], []).append(int(entry))
    out, stack = [], [root]
    while stack:
        for pid in children.get(stack.pop(), ()):
            out.append(pid)
            stack.append(pid)
    return out


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_jvm(timeout_s: float) -> None:
    """Let the session's JVM exit by closing its stdin; wait for it."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may be gone already
        pass
    try:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=timeout_s)
    except Exception:  # noqa: BLE001 - TimeoutExpired or a broken pipe
        proc.kill()
        proc.wait()


def stop_all(jvm_timeout_s: float = 20.0, grace_s: float = 10.0) -> bool:
    """Stop the JVM and every other process below this one, and wait
    until each has ended: SIGTERM first, SIGKILL after ``grace_s``.
    Returns False if some process was still there after that."""
    me = os.getpid()
    # the worker daemon must be found while the JVM is still its parent
    # (if this process could not become a subreaper)
    left = set(descendants(me))
    _stop_jvm(jvm_timeout_s)
    sig = signal.SIGTERM
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        left = {p for p in left | set(descendants(me))
                if (_stat(p) or ("Z",))[0] != "Z"}
        if not left:
            return True
        now = time.monotonic()
        if now > deadline + grace_s:
            print(f"processes still running: {sorted(left)}",
                  file=sys.stderr)
            return False
        if now > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
