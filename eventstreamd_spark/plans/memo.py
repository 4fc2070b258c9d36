"""Session-scoped relation memo: ``shared(fn, *frames, **params)``.

Spark has no cross-action common-subtree reuse: every action re-runs
its whole plan.  Several registered queries compose the same expensive
intermediate — the hashed-shingle relation and the MinHash pair tier
under nine dedup faces, one signature decode under every media tier,
the exact ANN ranking under the recall reports — so the engine keeps
ONE session catalog of such relations.  An operator asks for the
producer it needs over its own inputs and parameters::

    sh = shared(with_hashed_shingles, docs, n=n)
    pairs = shared(minhash_lsh_dedup, docs, n=n, threshold=threshold)

The key is ``(applicationId, fn's module and qualname, bound
parameters with defaults applied, semanticHash of each frame)``.  It is
built from the producer and its INPUT plans, never from the output
plan: ``dedup_clusters`` runs its connected-components convergence
jobs while its plan is built, and that plan hashes differently on
every build, so an output-keyed memo would never hit and would pay the
fixed point per call.  Here ``fn`` runs only on a miss.  A relation
built with other parameters has another key, so a consumer cannot be
handed a relation of the wrong tier.  Producers must be module-level
functions: every input they depend on is a frame or a parameter.

Storage policy: one, eager ``localCheckpoint`` on the miss.  The
relation enters every consumer's plan as an ``ExistingRDD`` leaf with
size statistics the planner can use (lazy checkpoints measured 1.3-1.5x
slower because the planner lost them).  Blocks are MEMORY_AND_DISK, so
growth spills rather than OOMs, and NON-reliable: an executor loss
kills them and the job (the at-scale answer is a persisted index, see
``write_ivf_index``).  Building a plan pays the producer's jobs even
if the plan is never executed.

Footprints (``tools/MEMO_FOOTPRINT_SF1.json``, sf1 blow-up of 60k docs
and 20k vectors): hashed shingles 27.0 MB (1.37x the raw text column;
measured when they were a cached view, not yet re-measured as a
checkpoint), IVF cells 7.6 MB, LSH buckets 7.5 MB, all linear in the
corpus; every other entry (pairs, clusters, signatures, rankings,
registers) is small.  The whole resident set at sf0.1 was 7.4 MB, and
a resident vs cleared A/B showed no eviction pressure on unrelated
queries (``tools/CACHE_PRESSURE_AB.json``).

Streaming rule: nothing reachable from a ``foreachBatch`` writer may
call ``shared``.  Every micro-batch is a new plan, so the daemon's memo
would grow without bound.  Memoize at batch-operator call sites; the
kernels the stream calls directly (``perceptual_hashes``,
``simhash_admission_signatures``, ``admission_decisions_from_sig``)
stay memo-free.

Staleness contract: the key covers input PATHS, not file contents, so
inputs are assumed immutable for the life of the session (true for the
read-only parquet inputs).  Code that rewrites an input in place must
call ``memo_clear()``; a restarted application invalidates everything.
"""

from __future__ import annotations

import inspect
from typing import Callable, Dict, Tuple

from pyspark.sql import DataFrame

_MEMO: Dict[Tuple, DataFrame] = {}

# Observability: how many calls were served from the memo.
HITS = 0


def shared(fn: Callable[..., DataFrame], *frames: DataFrame, **params) -> DataFrame:
    """``fn(*frames, **params)`` materialized once per Spark application;
    later calls with the same producer, parameters and semantically
    identical input frames get the same materialized relation."""
    global HITS
    if "<locals>" in fn.__qualname__:
        raise ValueError(
            f"shared() needs a module-level producer, got {fn.__qualname__}"
        )
    bound = inspect.signature(fn).bind(*frames, **params)
    bound.apply_defaults()
    args = list(bound.arguments.items())[len(frames):]
    key = (
        frames[0].sparkSession.sparkContext.applicationId,
        fn.__module__,
        fn.__qualname__,
        repr(sorted(args)),
        tuple(f.semanticHash() for f in frames),
    )
    hit = _MEMO.get(key)
    if hit is not None:
        HITS += 1
        return hit
    out = _MEMO[key] = fn(*frames, **params).localCheckpoint()
    return out


def memo_clear() -> None:
    """Drop all memo entries (tests that rewrite their inputs)."""
    _MEMO.clear()
