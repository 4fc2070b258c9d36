"""Driver-contract invariants of the query registry: the properties the
correctness harness depends on but no oracle can check."""

from __future__ import annotations

from eventstreamd_spark import queries_registry as qr


def test_every_query_has_an_oracle() -> None:
    missing = [n for n in qr.QUERIES if n not in qr.ORACLES]
    assert not missing, f"rows-only queries reappeared: {missing}"


def test_priority_window_is_first_and_complete() -> None:
    names = list(qr.QUERIES)
    pri = qr._PRIORITY
    assert names[: len(pri)] == pri  # window layout is exactly _PRIORITY
    assert len(set(pri)) == len(pri)


def test_tail_is_cost_sorted() -> None:
    names = list(qr.QUERIES)
    tail = names[len(qr._PRIORITY):]
    costs = [qr._COST_HINT.get(n, 99.0) for n in tail]
    assert costs == sorted(costs)


def test_queries_and_oracles_share_order() -> None:
    assert list(qr.ORACLES) == [n for n in qr.QUERIES if n in qr.ORACLES]


def test_registry_digest_sits_in_the_driver_window() -> None:
    names = list(qr.QUERIES)
    assert names.index("registry_digest") == qr.DIGEST_SLOT < 50


def test_digest_row_count_pins_the_whole_tail() -> None:
    """Window insurance (round-9 ask #8): the digest's one-row-per-tail
    -query contract means its row count must equal len(QUERIES) - 50 —
    if a future rotation drops the digest out of the first 50, or the
    tail list desyncs from the registry, this fails BEFORE the driver
    records a silently-narrower correctness gate."""
    names = list(qr.QUERIES)
    assert "registry_digest" in names[:50], "digest rotated out of window"
    tail = [n for n in names[qr.DIGEST_SLOT :] if n != "registry_digest"]
    assert len(tail) == len(names) - 50
    # the registered digest arm iterates exactly this tail
    assert tail == [n for n in names[50:]]


def test_digest_manifest_covers_the_whole_tail() -> None:
    from eventstreamd_spark.digest_manifest import DIGEST_MANIFEST

    tail = [n for n in list(qr.QUERIES)[qr.DIGEST_SLOT:] if n != "registry_digest"]
    missing = [n for n in tail if n not in DIGEST_MANIFEST]
    assert not missing, f"rerun tools/gen_digest_manifest.py: {missing}"
    # every digested query must have an oracle for the SQL twin arm
    assert all(n in qr.ORACLES for n in tail)


def test_oracles_avoid_engine_libm_and_nondeterminism() -> None:
    """The cross-engine exactness discipline, enforced repo-wide: no
    oracle may evaluate a transcendental (ln/log/exp/pow — Java's
    Math.* and DuckDB's libm disagree in the last ulp) or any
    nondeterministic function in SQL that feeds hashed values.  sqrt
    is exempt (IEEE 754 requires correct rounding).  Allowlisted:
    tfidf_top_terms uses ln for ORDERING ONLY and never emits the
    float score (documented in its docstring)."""
    import re

    allow = {"tfidf_top_terms": {"ln"}}
    pat = re.compile(
        r"(?<![a-z_])(ln|log|log2|log10|exp|pow|power|random|now|"
        r"current_date|current_timestamp)\s*\(",
        re.I,
    )
    offenders = {}
    for name, sql in qr.ORACLES.items():
        hits = {m.group(1).lower() for m in pat.finditer(sql)}
        hits -= allow.get(name, set())
        if hits:
            offenders[name] = sorted(hits)
    assert not offenders, offenders


def test_scoreboard_counts_match_registry() -> None:
    # README/COVERAGE quote the registered-query count; tools/scoreboard.py
    # generates it from len(QUERIES) and this pins it — evidence counts
    # cannot drift (VERDICT r6 nit #4)
    import re
    import os

    from eventstreamd_spark import queries_registry as qr

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # anchored CURRENT-count phrasings only: a blanket `\d+ registered
    # queries` assertion forced scoreboard.py into a blanket rewrite that
    # corrupted three HISTORICAL statements (round-3/4 delta endpoints,
    # the "first 50" driver window) — history must be allowed to disagree
    # with the present
    pats = (
        r"all (\d+) registered queries pass",
        r"\*\*(\d+) registered queries\*\*",
        r"\((\d+) queries, ALL",
    )
    for doc in ("README.md", "COVERAGE.md"):
        text = open(os.path.join(repo, doc)).read()
        found = False
        for pat in pats:
            for m in re.finditer(pat, text):
                found = True
                assert int(m.group(1)) == len(qr.QUERIES), (doc, pat)
        assert found, doc


def test_import_leaves_process_paths_alone() -> None:
    """Importing the package changes neither this process's ``sys.path``
    nor the ``PYTHONPATH`` every Spark Python worker inherits."""
    import os
    import subprocess
    import sys

    probe = (
        "import os, sys\n"
        "before = (list(sys.path), os.environ.get('PYTHONPATH'))\n"
        "import eventstreamd_spark.session\n"
        "assert (list(sys.path), os.environ.get('PYTHONPATH')) == before\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    subprocess.run([sys.executable, "-c", probe], cwd=repo, env=env, check=True)
