"""The benchmark's own tests: the tail-percentile rule, generator
determinism, the oracle check failing an operation, CPU accounting and
the speed probe.

    python3 -m pytest kgbench -q
"""

from __future__ import annotations

import os
import time

import pytest

import corpus
import tracing
import workloads as W
from stats import spread, tail


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]
    value, pct, met = tail(samples)
    assert met
    assert sum(s > value for s in samples) == 10
    assert (value, pct) == (90.0, 90.0)


def test_tail_with_eleven_samples_is_the_minimum():
    value, pct, met = tail([5.0, 3.0, 9.0, 1.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
    assert met and value == 1.0
    assert pct == pytest.approx(100.0 / 11)


def test_tail_without_enough_samples_is_the_flagged_maximum():
    assert tail([2.0, 7.0, 3.0]) == (7.0, 100.0, False)
    with pytest.raises(ValueError):
        tail([])


def test_spread_is_quartile_distance_over_median():
    med, q1, q3, sp = spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (med, q1, q3) == (3.0, 1.5, 4.5)
    assert sp == pytest.approx(1.0)


def test_generator_is_deterministic_per_seed():
    a = corpus.generate(7, 12, 6)
    assert a == corpus.generate(7, 12, 6)
    assert a[0] != corpus.generate(8, 12, 6)[0]


def test_every_seed_has_the_same_turn_count():
    sizes = {len(corpus.generate(seed, 30, 8)[0]) for seed in range(6)}
    assert len(sizes) == 1


def test_generator_keeps_the_pathologies():
    rows, alias_rows = corpus.generate(3, 40, 6)
    by_conv: dict[str, list[dict]] = {}
    for r in rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    assert len(by_conv["c000000"]) == 20 * 6  # mega-conversation
    dup = [r["turn_idx"] for r in by_conv["c000003"]]
    assert len(dup) != len(set(dup))  # duplicate turn_idx, told apart by ts
    assert len(by_conv["c000005"]) == 1  # single-turn conversation
    hub = sum(any(corpus.HUB_ALIAS in r["text"].split() for r in rs)
              for rs in by_conv.values())
    assert hub >= 0.3 * len(by_conv)
    texts = " ".join(r["text"] for r in rows)
    assert "unknown_thing_" in texts  # unresolvable mentions
    triples = corpus.oracle(rows, alias_rows)
    assert any(t[1].startswith("external:") or t[3].startswith("external:")
               for t in triples)
    # arrival order is shuffled: conversation 0 does not arrive in turn order
    mega = [r["turn_idx"] for r in rows if r["conv_id"] == "c000000"]
    assert mega != sorted(mega)


def test_corpus_cache_round_trips(tmp_path):
    c = corpus.Corpus(str(tmp_path), 4, 10, 5)
    rows, alias_rows = corpus.generate(4, 10, 5)
    assert c.rows() == rows
    assert c.expected_triples() == corpus.oracle(rows, alias_rows)
    assert corpus.Corpus(str(tmp_path), 4, 10, 5).turns == len(rows)


def test_check_triples_rejects_perturbed_sets():
    rows, alias_rows = corpus.generate(5, 10, 5)
    expected = corpus.oracle(rows, alias_rows)
    ok, detail = corpus.check_triples(sorted(expected), expected)
    assert ok and detail["precision"] == detail["recall"] == 1.0
    some = sorted(expected)[0]
    changed = (some[0], some[1], some[2], some[3] + "_x")
    for bad in (
        sorted(expected)[1:],                        # one triple missing
        sorted(expected) + [changed],                # one extra triple
        sorted(expected - {some}) + [changed],       # one triple changed
        sorted(expected) + [some],                   # a duplicate row
    ):
        assert not corpus.check_triples(bad, expected)[0]


class _Frame:
    def __init__(self, rows):
        self.rows = rows

    def select(self, *cols):
        return self

    def collect(self):
        return self.rows

    def count(self):
        return len(self.rows)


class _Catalog:
    def __init__(self, triples, violations):
        self.tables = {"triples": _Frame(triples),
                       "violations": _Frame(violations)}

    def read_table(self, name):
        return self.tables[name]


@pytest.fixture
def build(tmp_path, monkeypatch):
    ctx = W.Context(None, str(tmp_path), str(tmp_path / "cache"), 9,
                    tracing.Tracer(False))
    b = W.Build(ctx)
    b.transcripts = b.alias_dict = None
    return b, monkeypatch


def _fake_pipeline(monkeypatch, triples, violations=()):
    from codepropertygraph_spark.plans import pipeline as P

    monkeypatch.setattr(
        P, "run_pipeline",
        lambda *a, **k: _Catalog(list(triples), list(violations)),
    )


def test_build_op_passes_on_the_oracle(build):
    b, mp = build
    _fake_pipeline(mp, sorted(b.expected))
    assert W.run_op(b, 0).ok


def test_build_op_fails_on_a_perturbed_oracle(build):
    b, mp = build
    _fake_pipeline(mp, sorted(b.expected))
    some = next(iter(b.expected))
    b.expected = (b.expected - {some}) | {(some[0], some[1], some[2], "perturbed")}
    op = W.run_op(b, 0)
    assert not op.ok and op.detail["recall"] < 1.0


def test_build_op_fails_on_violations(build):
    b, mp = build
    _fake_pipeline(mp, sorted(b.expected), violations=[("edge_fact",)])
    assert not W.run_op(b, 0).ok


def test_raising_op_counts_as_failed(build):
    b, mp = build

    def boom(*a, **k):
        raise RuntimeError("pipeline failed")

    from codepropertygraph_spark.plans import pipeline as P

    mp.setattr(P, "run_pipeline", boom)
    op = W.run_op(b, 0)
    assert not op.ok and op.seconds >= 0


def test_engine_counters_attribute_by_window(tmp_path):
    import json

    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1500},
        {"Event": "SparkListenerJobStart", "Submission Time": 9000},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 3, "Submission Time": 1500,
                        "Completion Time": 1900}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {"Launch Time": 1600},
         "Task Metrics": {"Executor CPU Time": 2e8, "JVM GC Time": 10,
                          "Executor Run Time": t,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1e6},
                          "Disk Bytes Spilled": 0}}
        for t in (100, 100, 300)
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    c = tracing.engine_counters(str(tmp_path), [(1.0, 2.0)], cores=2)
    assert (c["spark.jobs"], c["spark.stages"], c["spark.tasks"]) == (1, 1, 3)
    assert c["spark.cpu_util"] == pytest.approx(0.6 / 2)
    assert c["spark.shuffle_write_mb"] == pytest.approx(3.0)
    assert c["spark.task_skew"] == pytest.approx(3.0)


def test_tree_cpu_counts_this_process():
    before = tracing.tree_cpu_s(os.getpid())
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert tracing.tree_cpu_s(os.getpid()) - before >= 0.2
    assert tracing.steal_s() >= 0.0


def test_speed_probe_scales_cpu_to_the_reference_speed():
    with tracing.SpeedProbe() as probe:
        time.sleep(0.6)
    assert len(probe.samples_ms) >= 2 and probe.loop_ms() > 0
    assert 0 < probe.cpu_s < 0.6
    op = W.Op(0.0, 1.0, 1)
    op.cpu_s, op.loop_ms = 10.0, 2 * tracing.REF_LOOP_MS
    assert op.ref_cpu_s == pytest.approx(5.0)
