from __future__ import annotations

import datetime
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventstreamd_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("eventstreamd-spark-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class Monitor:
    """One ``start_*_monitor`` driven over a parquet source of ``SCHEMA``
    rows.  ``state_arg`` is the sink argument that carries the running
    state; ``one_shot(df)`` is that state built in one batch over ``df``."""

    SCHEMA = (
        "event_id long, user_id long, ts timestamp, props string,"
        " l_extendedprice double"
    )

    def __init__(self, start, state_file: str, state_arg: int, one_shot) -> None:
        self.start = start
        self.state_file = state_file
        self.state_arg = state_arg
        self.one_shot = one_shot

    def write_source(self, spark, src: str) -> None:
        day0 = datetime.datetime(2024, 1, 1, 12)
        rows = [
            (
                i,
                i % 13,
                day0 + datetime.timedelta(days=i % 9),
                json.dumps({"k": i, "s": "a"} if i % 4 else {"k": f"x{i}", "on": True}),
                10.0 + 3.25 * i,
            )
            for i in range(40)
        ]
        spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.parquet(src)

    def run(self, spark, src: str, ckpt: str, sink) -> None:
        q = self.start(
            spark.readStream.schema(self.SCHEMA).parquet(src),
            sink=sink,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)


def _monitors() -> dict:
    from pyspark.sql import functions as F

    from eventstreamd_spark.operators import sketches as sk
    from eventstreamd_spark.streaming import pipeline as p

    def hll(df) -> dict:
        regs = sk.hll_registers(df, F.col("event_id").cast("string")).collect()
        return {r["bucket"]: r["m_rho"] for r in regs}

    def cms(df) -> dict:
        cells = sk.cms_cells(df, F.col("user_id").cast("string")).collect()
        return {(r["i"], r["col"]): r["cell_count"] for r in cells}

    def quantile(df) -> dict:
        regs = sk.logbucket_registers(df).collect()
        return {r["bucket"]: (r["lb"], r["ub"], r["c"]) for r in regs}

    def payload(df) -> dict:
        # write_source's props: k int and s string on 30 rows, k string
        # and on bool on the other 10
        return {
            ("k", "int"): 30,
            ("s", "string"): 30,
            ("k", "string"): 10,
            ("on", "bool"): 10,
        }

    def wau(df) -> dict:
        days: dict = {}
        for r in sk.day_hll_registers(df).collect():
            days.setdefault(r["d"].isoformat(), {})[r["bucket"]] = r["m_rho"]
        return days

    return {
        "hll": Monitor(p.start_hll_distinct_monitor, "hll_registers.json", 0, hll),
        "cms": Monitor(p.start_cms_topk_monitor, "cms_cells.json", 0, cms),
        "quantile": Monitor(
            p.start_quantile_monitor, "quantile_registers.json", 0, quantile
        ),
        "payload_schema": Monitor(
            p.start_payload_schema_monitor, "payload_schema.json", 2, payload
        ),
        "rolling_wau": Monitor(
            p.start_rolling_wau_monitor, "wau_registers.json", 0, wau
        ),
    }


@pytest.fixture(params=["hll", "cms", "quantile", "payload_schema", "rolling_wau"])
def monitor(request) -> Monitor:
    """Each of the five state-folding streaming monitors in turn."""
    return _monitors()[request.param]
