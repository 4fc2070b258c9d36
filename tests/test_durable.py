"""Durable publish: every writer of a published file fsyncs the file and
its directory and leaves no staged file behind."""

from __future__ import annotations

import asyncio
import os

import pytest

from eventstreamd_spark.operators import inference
from eventstreamd_spark.sources import jsonlines
from eventstreamd_spark.streaming.socket_spool import SpoolWriter


@pytest.fixture
def synced(monkeypatch) -> set:
    """(st_dev, st_ino) of every file or directory passed to os.fsync."""
    seen: set = set()
    real = os.fsync

    def record(fd: int) -> None:
        st = os.fstat(fd)
        seen.add((st.st_dev, st.st_ino))
        real(fd)

    monkeypatch.setattr(os, "fsync", record)
    return seen


def _assert_durable(synced: set, path: str) -> None:
    directory = os.path.dirname(path)
    for p in (path, directory):
        st = os.stat(p)
        assert (st.st_dev, st.st_ino) in synced, f"{p} was not fsynced"
    assert not [n for n in os.listdir(directory) if n.endswith(".tmp")]


def _spool_writer(out: str) -> str:
    async def write() -> None:
        writer = SpoolWriter(out)
        await writer.add('{"id": "a"}')
        await writer.flush()

    asyncio.run(write())
    return os.path.join(out, "000000000000.jsonl")


def _write_spool_file(out: str) -> str:
    return jsonlines.write_spool_file(out, [{"id": "a"}], 0)


def _commit_shard(out: str) -> str:
    inference._commit_shard(out, 3, 10)
    return os.path.join(out, "_progress", "shard-3.json")


def _job_identity(out: str) -> str:
    inference._check_job_identity(out, 8, inference.classifier_kernel, "x string")
    return os.path.join(out, "_progress", "job.json")


@pytest.mark.parametrize(
    "writer", [_spool_writer, _write_spool_file, _commit_shard, _job_identity]
)
def test_writer_syncs_file_and_directory(writer, synced, tmp_path) -> None:
    _assert_durable(synced, writer(str(tmp_path / "out")))


def test_monitor_state_syncs_file_and_directory(
    spark, monitor, synced, tmp_path
) -> None:
    """The streaming monitors persist their merged state beside the
    checkpoint through the same publish."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    monitor.write_source(spark, src)
    monitor.run(spark, src, ckpt, lambda *args: None)
    _assert_durable(synced, os.path.join(ckpt, monitor.state_file))
