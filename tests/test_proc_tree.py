"""`tools/proc_tree.py`: per-process peaks of a command's tree, and their sum."""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = "import time; held = bytearray(64 * 2**20); time.sleep(1)"
PARENT = (
    "import subprocess, sys; "
    f"sys.exit(subprocess.run([sys.executable, '-c', {CHILD!r}]).returncode + 3)"
)


def test_proc_tree_reports_each_process_and_the_sum() -> None:
    out = subprocess.run(
        [sys.executable, "tools/proc_tree.py", sys.executable, "-c", PARENT],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 3, out.stderr
    *rows, total = out.stdout.splitlines()
    parsed = [re.match(r"\s*([\d.]+) MB\s+(\d+)  (.*)", row).groups() for row in rows]
    assert [cmd.split(" -c ")[1][:20] for _, _, cmd in parsed] == [
        PARENT[:20], CHILD[:20]
    ], rows
    parent_mb, child_mb = (float(mb) for mb, _, _ in parsed)
    assert child_mb >= 64 > parent_mb > 0
    m = re.match(r"\s*([\d.]+) MB  total over 2 processes$", total)
    assert m, total
    assert abs(float(m.group(1)) - (parent_mb + child_mb)) <= 0.1
