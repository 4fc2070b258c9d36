"""tools/suite_ledger.py: one command ledgers the query suite."""

from __future__ import annotations

import fnmatch
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ("dedup_minhash_lsh", "similarity_lsh_ann")
ROW = ("build_s", "action_s", "build_jobs", "action_jobs", "stages",
       "single_task_stages", "task_s")


@pytest.fixture(scope="module")
def ledger(sf_dir) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "suite_ledger.py"), sf_dir, *QUERIES],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout)


def test_ledger_rows_and_pass_totals(ledger) -> None:
    assert ledger["cores"] == 2
    assert ledger["failures"] == {"first": {}, "steady": {}}
    assert sorted(ledger["queries"]) == sorted(QUERIES)
    for p in ("first", "steady"):
        rows = [ledger["queries"][q][p] for q in QUERIES]
        for row in rows:
            assert set(row) == set(ROW)
            assert row["build_s"] > 0 and row["action_s"] > 0
            assert row["action_jobs"] >= 1
            assert 0 <= row["single_task_stages"] <= row["stages"]
        total = ledger["passes"][p]
        assert total["queries"] == len(QUERIES)
        for k in ROW:
            assert total[k] == pytest.approx(sum(r[k] for r in rows), abs=1e-3)
        assert total["jobs"] == total["build_jobs"] + total["action_jobs"]
        assert total["wall_s"] == pytest.approx(total["build_s"] + total["action_s"], abs=1e-3)
        assert total["build_share"] == pytest.approx(total["build_s"] / total["wall_s"], abs=1e-3)
        assert total["utilization"] == pytest.approx(
            total["task_s"] / (total["wall_s"] * 2), abs=1e-3
        )


def test_ledger_jobs_all_belong_to_ledger_groups(ledger) -> None:
    # the session fires no job outside a (pass, query, step) group, so
    # the rows account for every job in the event log
    assert ledger["ungrouped_jobs"] == 0


def test_ledger_names_the_fixtures_it_built(ledger) -> None:
    # the blob fixtures that appeared during the run: whether a first
    # pass includes a one-time fixture build
    built = ledger["fixtures_built"]
    assert isinstance(built, list) and built == sorted(built)
    for path in built:
        assert fnmatch.fnmatchcase(path, ".scratch/media_fixture/*/*/*.parquet")
        assert os.path.isdir(os.path.join(REPO, path))


def test_ledger_steady_pass_hits_the_memo(ledger) -> None:
    # the first pass checkpoints the MinHash pair tier through
    # plans.memo.shared; the steady pass reads it back without those jobs
    rows = ledger["queries"]["dedup_minhash_lsh"]
    assert rows["steady"]["build_jobs"] < rows["first"]["build_jobs"]
