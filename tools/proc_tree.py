#!/usr/bin/env python
"""Peak memory of a command's process tree, process by process.

Usage:
    python tools/proc_tree.py CMD [ARG ...]

Runs CMD (its stdout and stderr pass through) and samples its process
tree every 0.1 s with ``perfbench.procs.tree``.  When CMD exits, prints
one line per process seen, in the order first seen: its peak resident
set (VmHWM) in MB, its pid and its command line, as read at the sample
that saw that peak (a child cloned but not yet ``exec``ed shows its
parent's); then the sum over all of them, the figure ``perfbench``'s
``peak_rss_mb`` reports for a tree.  A process is seen only if it lives
across one sample.  Exits with CMD's exit code.

    python tools/proc_tree.py python3 perfbench/run.py \\
        --workload daemon_live --seed 1 --seconds 8 --trace 0
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.procs import _hwm_kb, tree  # noqa: E402

INTERVAL_S = 0.1
ARG_CHARS = 60  # a longer argument (a classpath) is cut to this length


def _read(pid: int, name: str) -> bytes:
    try:
        with open(f"/proc/{pid}/{name}", "rb") as f:
            return f.read()
    except OSError:
        return b""


def _command(pid: int) -> str:
    args = _read(pid, "cmdline").decode("latin-1").rstrip("\0").split("\0")
    return " ".join(a if len(a) <= ARG_CHARS else a[:ARG_CHARS] + "..." for a in args)


def _start(pid: int) -> str:
    """The start time of ``pid``: with the pid, it names one process."""
    raw = _read(pid, "stat").decode("latin-1")
    return raw[raw.rindex(")") + 2 :].split()[19] if raw else ""


class Sampler:
    """Per process of the tree under ``root``: its peak VmHWM (kB) and
    the command line it had then, keyed by (pid, start time)."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.peaks: dict[tuple[int, str], tuple[int, str]] = {}

    def sample(self) -> None:
        for pid in tree([self.root]):
            key = (pid, _start(pid))
            kb = _hwm_kb(pid)
            old_kb, old_cmd = self.peaks.get(key, (-1, ""))
            # a process caught between fork and exec has no command line yet
            if key[1] and (kb > old_kb or not old_cmd):
                self.peaks[key] = (max(kb, old_kb), _command(pid))

    def report(self) -> str:
        lines = [
            f"{kb / 1024:9.1f} MB  {pid:>7}  {cmd}"
            for (pid, _), (kb, cmd) in self.peaks.items()
        ]
        total = sum(kb for kb, _ in self.peaks.values()) / 1024
        lines.append(f"{total:9.1f} MB  total over {len(self.peaks)} processes")
        return "\n".join(lines)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    proc = subprocess.Popen(argv)
    sampler = Sampler(proc.pid)
    while proc.poll() is None:
        sampler.sample()
        time.sleep(INTERVAL_S)
    print(sampler.report(), flush=True)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
