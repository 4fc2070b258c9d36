"""Self-tests for the benchmark's own helpers.

    python3 -m pytest perfbench -q

They need no Spark session: the ledger reads a small event log recorded
from a traced ``daemon_live`` run (testdata/eventlog_small.jsonl, cut
down to micro-batches 2 and 3, their jobs, one spool-replay job, and
only the fields the reducer reads).
"""

from __future__ import annotations

import os

import pytest

from perfbench import gen, ledger
from perfbench.filtermodel import compile_filter, subscription
from perfbench.stats import median, percentile

HERE = os.path.dirname(os.path.abspath(__file__))


# -- percentile -------------------------------------------------------------


def test_percentile_states_sample_count_and_tail():
    p = percentile(range(1, 101), 99)
    assert p.value == pytest.approx(99.01)
    assert (p.n, p.beyond) == (100, 1)
    p = percentile(range(1, 101), 50)
    assert p.value == pytest.approx(50.5)
    assert (p.n, p.beyond) == (100, 50)


def test_percentile_edges():
    assert percentile([3.0], 99).value == 3.0
    assert percentile([5, 1, 3], 0).value == 1
    assert percentile([5, 1, 3], 100).value == 5
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1], 101)


# -- event-log reducer --------------------------------------------------------


@pytest.fixture(scope="module")
def log():
    return ledger.read(os.path.join(HERE, "testdata", "eventlog_small.jsonl"))


def test_reader_keeps_jobs_stages_and_progress(log):
    assert sorted(log.jobs) == [6, 7, 8, 9, 10, 11, 12]
    assert [j.batch_id for j in map(log.jobs.get, [6, 9, 11])] == [2, 3, None]
    assert log.jobs[11].end_ms - log.jobs[11].start_ms == 2367
    assert log.stages[(11, 0)].tasks == 4
    assert log.stages[(11, 0)].task_ms == 8404
    assert log.stages[(11, 0)].shuffle_write == 230
    assert len(log.progress) == 2


def test_micro_batches_map_spool_offsets(log):
    batches = ledger.micro_batches(log)
    assert [(b["batch_id"], b["files"], b["rows"]) for b in batches] == [
        (2, (19, 22), 334),
        (3, (22, 24), 502),
    ]
    assert batches[1]["end_ms"] - batches[1]["start_ms"] == 3596
    assert ledger.micro_batches(log, since_ms=batches[1]["start_ms"]) == batches[1:]


def test_stream_rows(log):
    rows = ledger.stream_rows(log, ledger.micro_batches(log))
    assert rows["streaming.pipeline.batches"] == 2
    assert rows["streaming.pipeline.batch_s_p50"] == pytest.approx((1.104 + 3.596) / 2)
    assert rows["streaming.http_frontend.push_batch_s"] == pytest.approx((0.954 + 3.292) / 2)
    assert rows["sources.jsonlines.offset_s"] == pytest.approx(0.002)
    # each batch ran one collect job per subscription group (three)
    assert rows["streaming.http_frontend.jobs_per_batch"] == 3
    assert rows["streaming.http_frontend.tasks_per_batch"] == 3


def test_operator_rows(log):
    rows = ledger.operator_rows(log, log.jobs.values(), wall_s=10.0, cores=4)
    assert rows["operators.jobs"] == 7
    assert rows["operators.stages"] == 7
    assert rows["operators.tasks"] == 10
    assert rows["operators.single_task_stages"] == 6
    assert rows["operators.task_s"] == pytest.approx(8.779)
    assert rows["operators.utilization"] == pytest.approx(8.779 / 40)
    assert rows["operators.gc_s"] == pytest.approx(0.021)
    assert rows["operators.shuffle_write_bytes"] == 230


def test_union_s():
    assert ledger.union_s([(1, 3), (2, 4), (6, 7)]) == 4
    assert ledger.union_s([]) == 0


# -- expected-delivery model vs the program's filter parser ------------------

# FIXTURES.md F2: (filter, payload, matches) from the reference's
# filter conformance tests.
F2_CASES = [
    ("foo.bar<='ABC'", {"foo": {"bar": "AAA"}}, True),
    ("foo.bar<='ABC'", {"foo": {"bar": "ABC"}}, True),
    ("foo.bar<='ABC'", {"foo": {"bar": "CAA"}}, False),
    ("foo.bar<'ABC'", {"foo": {"bar": "AAA"}}, True),
    ("foo.bar<'ABC'", {"foo": {"bar": "ABC"}}, False),
    ("foo.bar>'ABC'", {"foo": {"bar": "CAA"}}, True),
    ("foo.bar>'ABC'", {"foo": {"bar": "ABC"}}, False),
    ("foo.bar<='ABC'", {"foo": {}}, False),
    ("foo.bar<='ABC'", {"foo": {"bar": 13}}, False),
    ("foo<=10", {}, False),
    ("foo<=10", {"foo": ""}, False),
    ("foo<=10", {"foo": 9}, True),
    ("foo<=10", {"foo": 10}, True),
    ("foo<=10", {"foo": 11}, False),
    ("foo=10", {"foo": 9}, False),
    ("foo=10", {"foo": 10}, True),
    ("foo>=10", {"foo": 9}, False),
    ("foo>=10", {"foo": 11}, True),
    ("foo='bar'", {"foo": "bar"}, True),
    ("foo='bar'", {"foo": "baz"}, False),
    ("foo=2016-03-24", {"foo": "2000-01-01"}, False),
    ("foo=2016-03-24", {"foo": "2016-03-24"}, True),
    ("foo.bar<=10", {"foo": {"bar": 10}}, True),
]
F2_INVALID = ["INVALID", "foo=bar", "foo='bar", "foo='", "foo=2000-12-32"]


@pytest.mark.parametrize("text,payload,matches", F2_CASES)
def test_model_matches_f2_and_parses_like_the_program(text, payload, matches):
    from eventstreamd_spark.operators.filters import parse_filter

    model, spec = compile_filter(text), parse_filter(text)
    assert (".".join(model.path), model.op, model.kind, model.value) == (
        spec.field, spec.op, spec.kind, spec.value,
    )
    assert model(payload) is matches


@pytest.mark.parametrize("text", F2_INVALID)
def test_model_rejects_what_the_program_rejects(text):
    from eventstreamd_spark.operators.filters import parse_filter

    with pytest.raises(ValueError):
        parse_filter(text)
    with pytest.raises(ValueError):
        compile_filter(text)


def test_subscription_ands_filters_and_routes_by_subsystem():
    sub = subscription("billing", ("meta.level<=2", "day>=2024-01-08"))
    assert sub("billing", {"meta": {"level": 2}, "day": "2024-01-08"})
    assert not sub("billing", {"meta": {"level": 3}, "day": "2024-01-08"})
    assert not sub("billing", {"meta": {"level": 1}, "day": "2024-01-07"})
    assert not sub("orders", {"meta": {"level": 1}, "day": "2024-01-09"})
    assert subscription("users", ())("users", {})


# -- seeded inputs ---------------------------------------------------------------


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a, b = gen.daemon_plan(7, 3, 8.0), gen.daemon_plan(7, 3, 8.0)
    assert a == b
    assert a.events != gen.daemon_plan(8, 3, 8.0).events
    gen.write_tables(str(tmp_path / "x"), 5)
    gen.write_tables(str(tmp_path / "y"), 5)
    for name in os.listdir(tmp_path / "x"):
        assert (tmp_path / "x" / name).read_bytes() == (tmp_path / "y" / name).read_bytes()


def test_measured_traffic_stays_within_the_daemon_queue():
    """No subscriber of a measured run is handed more frames than the
    daemon queues per connection, even over the whole run; the overflow
    probe is all for its one subscriber and four times that bound."""
    for seed in (1, 2, 3):
        plan = gen.daemon_plan(seed, 3, 8.0)
        for s, f in plan.subscriptions:
            match = subscription(s, f)
            n = sum(match(sub, d) for sub, d in plan.events + plan.priming)
            assert n < gen.DAEMON_QUEUE_BOUND
        probe = subscription(*gen.OVERFLOW_SUBSCRIPTION)
        assert all(probe(sub, d) for sub, d in plan.overflow)
        assert len(plan.overflow) == 4 * gen.DAEMON_QUEUE_BOUND
