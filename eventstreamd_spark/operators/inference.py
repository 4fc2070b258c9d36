"""Resumable batch inference — the one LLM-pipeline stage the engine
lacked (VERDICT r6 ask #7): score a corpus with a model behind an
Arrow-batched ``mapInPandas`` kernel, with a per-shard progress manifest
so a killed job resumes with no duplicate and no missing outputs.

Why this shape at 100 TB: model scoring is the pipeline stage most
likely to die mid-flight (GPU preemption, OOM on a pathological batch),
and a scoring job over 10^10 documents cannot restart from zero.  The
standard fix — exactly what this module builds — is

  shard -> score -> overwrite-write -> atomic commit marker,

the batch transposition of ``streaming/pipeline.idempotent_parquet_writer``'s
replay fence: checkpointed retry gives at-least-once SHARD execution,
and the overwrite + commit-after-write discipline makes a replayed
shard land on the same files instead of duplicating — at-least-once
execution + idempotent publish = exactly-once corpus scoring.  A shard
is the resume quantum: committed shards are skipped wholesale on
restart; a shard that died between write and commit re-runs and
overwrites its own torn output.

The "model" here is the repo's frozen deterministic classifier
(``textops.classifier_quality_scores``'s hash-derived linear model),
reimplemented as a pandas kernel bit-for-bit (same md5 bigram weights,
same left-to-right fold, same HALF_UP rounding) — so the whole harness
is oracle-exact against the Catalyst twin while exercising the exact
plumbing (Arrow batch streaming, shard partition layout, manifest
commit protocol) a real checkpoint-loading model kernel would use.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from collections.abc import Callable, Iterator
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession, functions as F

from eventstreamd_spark.durable import atomic_write
from eventstreamd_spark.functions.text import HASH_MOD
from eventstreamd_spark.operators.textops import CLF_W_RANGE

INFER_SCHEMA = "doc_id bigint, n_feats bigint, logit double, keep boolean"

_HALF = (CLF_W_RANGE - 1) // 2
# Explicit ASCII whitespace class: Python's \s is Unicode-aware (\xa0,
#  , ...) while the Catalyst twin (F.split, Java regex) and the
# DuckDB oracle treat \s as ASCII — the bit-for-bit parity contract
# requires the kernel to tokenize exactly like Java's \s.
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _weight(bigram: str) -> float:
    """w(s) = ((md5_60(s) % HASH_MOD) % 2001 - 1000) / 1000 — the same
    hash-derived weight as textops.poly_hash feeding the Catalyst twin
    (functions/text.py:65: first 15 md5 hex chars as a 60-bit int)."""
    h = int(hashlib.md5(bigram.encode("utf-8")).hexdigest()[:15], 16)
    return ((h % HASH_MOD) % CLF_W_RANGE - _HALF) / 1000.0


def _score_text(text: str | None) -> tuple[int, float, bool]:
    toks = [t for t in _WS.split((text or "").lower()) if t]
    feats = [f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)]
    raw = 0.0
    for s in feats:  # left-to-right, matching F.aggregate's fold order
        raw = raw + _weight(s)
    if feats:
        # Spark's round() converts the double via BigDecimal.valueOf —
        # the SHORTEST round-trip decimal string, not the exact binary
        # expansion — before HALF_UP.  Python's repr() is the same
        # shortest round-trip string, so Decimal(repr(x)) replays the
        # exact rounding path (Decimal(x) would diverge on values like
        # -0.2928125 whose binary form sits just below the half).
        logit = float(
            Decimal(repr(raw / len(feats))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
    else:
        logit = 0.0
    return len(feats), logit, logit >= 0.0


def classifier_kernel(batches) -> Iterator:
    """mapInPandas kernel: Arrow batches of (doc_id, text) stream in,
    scored frames stream out — one batch at a time, never the whole
    partition in memory (the property that lets a real model kernel
    hold its weights once per task and stream the corpus through)."""
    import pandas as pd

    for pdf in batches:
        scored = [_score_text(t) for t in pdf["text"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_feats": pd.Series(
                    [s[0] for s in scored], dtype="int64"
                ),
                "logit": pd.Series([s[1] for s in scored], dtype="float64"),
                "keep": pd.Series([s[2] for s in scored], dtype="bool"),
            }
        )


# --- progress manifest -------------------------------------------------------


def _progress_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_progress")


def read_progress(out_dir: str) -> dict[int, dict]:
    """Committed shards: {shard: {"rows": n}} — a shard is committed
    iff its marker file exists; the marker is written with an atomic
    rename AFTER the shard's parquet is fully written."""
    pdir = _progress_dir(out_dir)
    done: dict[int, dict] = {}
    if not os.path.isdir(pdir):
        return done
    for name in os.listdir(pdir):
        if name.startswith("shard-") and name.endswith(".json"):
            with open(os.path.join(pdir, name)) as fh:
                rec = json.load(fh)
            done[int(rec["shard"])] = rec
    return done


def _commit_shard(out_dir: str, shard: int, rows: int) -> None:
    # atomic: a crash leaves no torn marker
    atomic_write(
        os.path.join(_progress_dir(out_dir), f"shard-{shard}.json"),
        json.dumps({"shard": shard, "rows": rows}),
    )


def _check_job_identity(
    out_dir: str, n_shards: int, kernel: Callable, schema: str
) -> None:
    """Pin the job identity (sharding + kernel + schema) in the
    manifest: shard markers are only valid under the pmod modulus they
    were written with — resuming with a different ``n_shards`` would
    silently reuse markers from the old sharding while membership
    changed, duplicating and dropping doc_ids.  Written atomically
    before the first shard; a mismatch on resume raises instead of
    corrupting."""
    pdir = _progress_dir(out_dir)
    ident = {
        "n_shards": n_shards,
        "kernel": getattr(kernel, "__qualname__", repr(kernel)),
        "schema": schema,
    }
    path = os.path.join(pdir, "job.json")
    if not os.path.exists(path) and read_progress(out_dir):
        # Shard markers with no identity record: a manifest written by
        # a pre-guard run (or a torn one).  Adopting the CURRENT
        # identity would silently reuse markers of unknown sharding —
        # exactly the corruption this guard exists to prevent — so
        # refuse instead of stamping.
        raise ValueError(
            f"resume manifest at {out_dir} has committed shard markers "
            "but no job.json identity record (written by a pre-identity-"
            "guard run?); cannot verify the markers' sharding/kernel/"
            "schema — use a fresh out_dir or delete the _progress dir "
            "to rescore from scratch"
        )
    if os.path.exists(path):
        with open(path) as fh:
            prev = json.load(fh)
        if prev != ident:
            raise ValueError(
                f"resume identity mismatch for {out_dir}: manifest was "
                f"written by {prev}, this run is {ident}; scoring into "
                "the same out_dir with a different sharding/kernel/"
                "schema would duplicate and drop doc_ids — use a fresh "
                "out_dir or the original parameters"
            )
        return
    atomic_write(path, json.dumps(ident))


def resumable_inference(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    kernel: Callable = classifier_kernel,
    schema: str = INFER_SCHEMA,
    _crash_before_commit: int | None = None,
) -> dict:
    """Run (or resume) the scoring job; returns a summary dict.

    Shards are ``pmod(doc_id, n_shards)`` — a hash-stable assignment,
    so a resume sees the identical shard membership.  Per uncommitted
    shard: filter -> mapInPandas(kernel) -> parquet OVERWRITE into the
    shard's own directory -> atomic commit marker.  Shard granularity
    is the unit of lost work on a crash (at 100 TB: pick n_shards so a
    shard is ~minutes of scoring).

    ``_crash_before_commit`` is the pytest fault injector: raise AFTER
    shard s's parquet write but BEFORE its marker — the torn state the
    commit protocol exists to survive.
    """
    _check_job_identity(out_dir, n_shards, kernel, schema)
    done = read_progress(out_dir)
    ran, skipped = [], sorted(done)
    for s in range(n_shards):
        if s in done:
            continue
        shard_df = docs.filter(F.pmod(F.col("doc_id"), F.lit(n_shards)) == s)
        out = shard_df.select("doc_id", "text").mapInPandas(kernel, schema)
        path = os.path.join(out_dir, f"shard={s}")
        out.write.mode("overwrite").parquet(path)
        if _crash_before_commit == s:
            raise RuntimeError(f"injected crash before commit of shard {s}")
        rows = docs.sparkSession.read.parquet(path).count()
        _commit_shard(out_dir, s, rows)
        ran.append(s)
    return {
        "n_shards": n_shards,
        "ran": ran,
        "skipped": skipped,
        "rows": sum(r["rows"] for r in read_progress(out_dir).values()),
    }


def read_inference_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """The scored corpus as one DataFrame — ONLY committed shards (an
    uncommitted shard directory may be torn; the manifest is the source
    of truth, exactly like a table format's snapshot manifest)."""
    done = read_progress(out_dir)
    paths = [os.path.join(out_dir, f"shard={s}") for s in sorted(done)]
    if not paths:
        return spark.createDataFrame([], INFER_SCHEMA)
    return spark.read.parquet(*paths)
