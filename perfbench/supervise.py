"""Run the benchmark in a child process and end every process it starts.

The Spark JVM starts Python workers that outlive it for a moment, and a
run cut short by an error or a signal can leave the JVM itself behind.
``supervise`` makes this process a child subreaper, so every orphaned
descendant is re-parented to it, and it returns only once each of them
has ended and been reaped.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

from perfbench.host import descendants

_PR_SET_PDEATHSIG = 1
_PR_SET_CHILD_SUBREAPER = 36


class _Stopped(Exception):
    pass


def _prctl(option: int, arg: int) -> None:
    if ctypes.CDLL(None, use_errno=True).prctl(option, arg, 0, 0, 0):
        raise OSError(ctypes.get_errno(), "prctl failed")


def _die_with_parent() -> None:
    _prctl(_PR_SET_PDEATHSIG, signal.SIGKILL)


def _reap() -> dict[int, int]:
    """Reap every child that has ended: {pid: wait status}."""
    done = {}
    while True:
        try:
            pid, status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return done
        if pid == 0:
            return done
        done[pid] = status


def end_all(grace_s: float) -> None:
    """SIGTERM every descendant still running, SIGKILL those left after
    ``grace_s``, and return once all of them are reaped."""
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        left = descendants(os.getpid())
        if not left:
            return
        sig = (signal.SIGTERM if time.monotonic() < deadline
               else signal.SIGKILL)
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def supervise(cmd: list[str], env: dict[str, str], deadline_s: float,
              grace_s: float) -> int:
    """Run ``cmd`` with ``env`` added to the environment; return its exit
    code, or 124 if it runs past ``deadline_s``."""

    def stop(signum, _frame):
        raise _Stopped(signum)

    _prctl(_PR_SET_CHILD_SUBREAPER, 1)
    sigs = (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)
    before = {sig: signal.signal(sig, stop) for sig in sigs}
    rc = 1
    try:
        child = subprocess.Popen(cmd, env={**os.environ, **env},
                                 preexec_fn=_die_with_parent)
        end = time.monotonic() + deadline_s
        while True:
            # reap adopted orphans as they end, not only the child
            status = _reap().get(child.pid)
            if status is not None:
                rc = child.returncode = os.waitstatus_to_exitcode(status)
                break
            if time.monotonic() > end:
                print(f"perfbench: no result within {deadline_s:.0f}s",
                      file=sys.stderr, flush=True)
                rc = 124
                break
            time.sleep(0.05)
    except _Stopped as e:
        rc = 128 + e.args[0]
    finally:
        for sig in sigs:
            signal.signal(sig, signal.SIG_IGN)
        end_all(grace_s)
        for sig, handler in before.items():
            signal.signal(sig, handler)
    return rc
