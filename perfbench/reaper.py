"""Run the benchmark in a child process and leave no process behind.

The parent marks itself a child subreaper (``prctl(PR_SET_CHILD_SUBREAPER)``),
so every process the run starts and orphans -- the driver JVM, PySpark's
worker daemon (which moves to its own process group) and its workers,
multiprocessing helpers -- is re-parented to it rather than to init.  When
the child has exited, or has run past its time limit, the parent signals
every remaining descendant, then waits until each has ended.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

PR_SET_CHILD_SUBREAPER = 36
CHILD_ENV = "PERFBENCH_CHILD"


def _children() -> dict[int, str]:
    """Pid -> state letter of each process whose parent is this one."""
    me = os.getpid()
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended while listing
        # the command name may hold spaces and parentheses: fields follow the last ')'
        fields = stat[stat.rfind(")") + 2 :].split()
        if int(fields[1]) == me:
            out[int(name)] = fields[0]
    return out


def _name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode(errors="replace").strip()
        if not cmd:  # exiting: its command line is already gone
            with open(f"/proc/{pid}/comm") as f:
                cmd = f"[{f.read().strip()}]"
        return cmd[:120]
    except OSError:
        return "?"


def _collect() -> None:
    """Wait for every child that has already ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap(grace_s: float = 5.0) -> dict[int, str]:
    """SIGTERM every descendant, SIGKILL what is left after ``grace_s``,
    and return once none remains; returns the command line of each
    process it signalled."""
    signalled: dict[int, str] = {}
    deadline = time.monotonic() + grace_s
    while True:
        _collect()
        kids = _children()
        if not kids:
            return signalled
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid, state in kids.items():
            if state == "Z":
                continue  # ended; the next _collect() waits for it
            if pid not in signalled:
                signalled[pid] = _name(pid)
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def supervise(script: str, argv: list[str], limit_s: float) -> int:
    """Run ``python3 script argv`` as a child with ``CHILD_ENV`` set, kill it
    after ``limit_s`` seconds, reap every descendant, and return its exit
    code (1 if it was killed)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"perfbench: prctl failed (errno {ctypes.get_errno()})", file=sys.stderr)
        return 2
    child = subprocess.Popen([sys.executable, script, *argv], env={**os.environ, CHILD_ENV: "1"})

    def stop(signum, _frame):
        child.kill()

    old = signal.signal(signal.SIGTERM, stop)
    try:
        code = child.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run passed {limit_s:.0f} s; stopped", file=sys.stderr)
        child.kill()
        child.wait()
        code = 1
    finally:
        signal.signal(signal.SIGTERM, old)
        left = reap()
    for pid, cmd in left.items():
        print(f"perfbench: stopped pid {pid} the run left behind: {cmd}", file=sys.stderr)
    return code if code >= 0 else 1
