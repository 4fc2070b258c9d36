"""Process-tree helpers over /proc: resident memory of a tree, and
stopping a process group and waiting until every member has exited."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def _stat(pid: str) -> tuple[int, int] | None:
    """(ppid, pgrp) of ``pid``, or None once it has exited (a zombie
    has exited: only its parent's wait is pending)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("latin-1")
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    if fields[0] == "Z":
        return None
    return int(fields[1]), int(fields[2])


def _all() -> dict[int, tuple[int, int]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                out[int(name)] = st
    return out


def tree(roots: list[int]) -> set[int]:
    """``roots`` and all their descendants that are alive now."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in _all().items():
        children.setdefault(ppid, []).append(pid)
    seen: set[int] = set()
    todo = list(roots)
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(children.get(pid, ()))
    return seen


def _hwm_kb(pid: int) -> int:
    """Peak resident set of ``pid`` so far (VmHWM), 0 once it exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak memory of the process trees under ``roots``: the sum over
    every process seen in them of its own peak resident set (VmHWM).
    The kernel keeps each process's peak, so the figure does not depend
    on when the tree is sampled, only on which processes are seen; a
    process is seen if it lives across one ``sample()``.  Used as a
    context manager, a background thread samples every ``interval``
    seconds."""

    def __init__(self, roots: list[int], interval: float = 0.25) -> None:
        self.roots = list(roots)
        self.interval = interval
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_mb(self) -> float:
        return sum(self._hwm.values()) / 1024.0

    def sample(self) -> None:
        for pid in tree(self.roots):
            self._hwm[pid] = max(self._hwm.get(pid, 0), _hwm_kb(pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def group_members(pgid: int) -> list[int]:
    return [pid for pid, (_, pgrp) in _all().items() if pgrp == pgid]


def stop_group(pgid: int, leader: subprocess.Popen | None = None, grace: float = 10.0) -> None:
    """Stop process group ``pgid`` (a process started with
    ``start_new_session=True`` leads one): SIGTERM, then SIGKILL after
    ``grace`` seconds, and return only when no member is left.  Pass
    the leader's Popen when it is this process's child, so it is reaped."""
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 30.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            if leader is not None:
                leader.poll()
            if not group_members(pgid):
                return
            time.sleep(0.05)
    raise RuntimeError(f"process group {pgid} did not exit")
