"""Durable file publish — the one stage-and-rename every writer uses.

stdlib only: the socket front-end (streaming/socket_spool) imports it
and keeps its no-Spark-imports property.
"""

from __future__ import annotations

import os


def atomic_write(path: str, text: str) -> None:
    """Publish ``text`` at ``path`` so a reader or a crash sees either the
    old file or the whole new one.

    The text is staged in a dot-prefixed file in the same directory
    (directory listings skip it), the staged file is fsynced, renamed
    over ``path``, and the directory is fsynced so the rename itself
    survives a power loss.
    """
    directory, name = os.path.split(os.path.abspath(path))
    os.makedirs(directory, exist_ok=True)
    staged = os.path.join(directory, f".{name}.tmp")
    with open(staged, "w", encoding="utf-8") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(staged, path)
    fd = os.open(directory, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
