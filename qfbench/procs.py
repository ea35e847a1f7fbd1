"""Run one workload child and leave no process of it behind.

The child starts in a new session, so every process it spawns (the Spark
JVM, ``pyspark.daemon`` and its forked Python workers) keeps the child's
session id even after its own parent dies: ``pyspark.daemon`` moves itself
to a new process group, never to a new session. The harness marks itself a
child subreaper, so orphans of that session are re-parented to it and can
be reaped instead of lingering as zombies.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time
from dataclasses import dataclass, field

PR_SET_CHILD_SUBREAPER = 36
SAMPLE_S = 0.1  # PSS sampling period
EXIT_GRACE_S = 5.0  # after the child exits, for its processes to follow
TERM_GRACE_S = 5.0  # between SIGTERM and SIGKILL
KILL_WAIT_S = 10.0  # after SIGKILL, for the kernel to let them go


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


@dataclass(frozen=True)
class Proc:
    pid: int
    comm: str
    state: str


def pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between processes (the Python
    workers are forked from one daemon) are split among them, not counted
    once per process as RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited, or a zombie without an address space
    return 0


def session_members(sid: int) -> list[Proc]:
    """Every live or zombie process whose session id is ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue  # exited between listdir and open
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2 :].split()
        # fields after the comm: state ppid pgrp session ...
        if int(rest[3]) == sid:
            out.append(Proc(int(name), comm, rest[0]))
    return out


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _live(sid: int) -> list[Proc]:
    return [p for p in session_members(sid) if p.state != "Z"]


def _wait_gone(sid: int, wait_s: float) -> bool:
    """Reap and poll until no member of the session is left, zombies
    included: a zombie's parent may die after it, and only then is the
    zombie re-parented to this process and reaped."""
    deadline = time.monotonic() + wait_s
    while True:
        _reap_children()
        if not session_members(sid):
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.05)


def kill_session(sid: int) -> list[Proc]:
    """SIGTERM, then SIGKILL, every live member of the session, and reap
    what becomes ours. Returns the members that were found alive."""
    alive = _live(sid)
    for sig, wait_s in ((signal.SIGTERM, TERM_GRACE_S), (signal.SIGKILL, KILL_WAIT_S)):
        if _wait_gone(sid, 0):
            break
        for p in _live(sid):
            try:
                os.kill(p.pid, sig)
            except ProcessLookupError:
                pass
        if _wait_gone(sid, wait_s):
            break
    return alive


@dataclass
class ChildRun:
    sid: int = 0
    returncode: int | None = None
    timed_out: bool = False
    leftovers: list[str] = field(default_factory=list)
    peak_pss_bytes: int = 0
    # (time.monotonic(), summed PSS) every SAMPLE_S while the child ran
    pss_samples: list[tuple[float, int]] = field(default_factory=list)
    spawn_mono: float = 0.0
    wall_s: float = 0.0


def run_child(argv, env, log_path: str, timeout_s: float) -> ChildRun:
    """Run ``argv`` in its own session with a hard timeout, sampling the
    summed PSS of the session's processes. Whatever of the session is
    still alive ``EXIT_GRACE_S`` after the child ended (or on timeout, or
    when the harness itself is interrupted) is killed and reaped and listed
    in ``leftovers``."""
    res = ChildRun()
    stop = threading.Event()

    def sample(sid: int) -> None:
        while not stop.is_set():
            total = sum(pss_bytes(p.pid) for p in session_members(sid) if p.state != "Z")
            res.peak_pss_bytes = max(res.peak_pss_bytes, total)
            res.pss_samples.append((time.monotonic(), total))
            stop.wait(SAMPLE_S)

    with open(log_path, "ab") as log:
        res.spawn_mono = time.monotonic()
        proc = subprocess.Popen(argv, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
    sid = res.sid = proc.pid
    sampler = threading.Thread(target=sample, args=(sid,), daemon=True)
    sampler.start()
    try:
        try:
            res.returncode = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            res.timed_out = True
        res.wall_s = time.monotonic() - res.spawn_mono
        if not res.timed_out:
            _wait_gone(sid, EXIT_GRACE_S)
    finally:
        # a second interrupt must not cut the clean-up short
        blocked = signal.pthread_sigmask(signal.SIG_BLOCK, {signal.SIGINT, signal.SIGTERM})
        try:
            stop.set()
            sampler.join()
            killed = kill_session(sid)
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            res.leftovers = [f"{p.pid}:{p.comm}" for p in killed if p.pid != sid]
        finally:
            signal.pthread_sigmask(signal.SIG_SETMASK, blocked)
    return res
