import os
import types

import pytest

from spans import LAYER_PROPERTY, SpanRecorder, layer_stats, read_events

SAMPLE = os.path.join(os.path.dirname(__file__), "data", "eventlog_sample.zstd")


class FakeContext:
    def __init__(self):
        self.props = []

    def setLocalProperty(self, key, value):
        self.props.append((key, value))


def test_spans_nest_and_tag_the_innermost_layer():
    sc = FakeContext()
    rec = SpanRecorder(sc)
    with rec.span("outer"):
        with rec.span("inner"):
            pass
        with rec.span("inner"):
            pass
    outer, in1, in2 = rec.spans
    assert outer.parent is None and in1.parent == 0 and in2.parent == 0
    assert rec.total("inner") == pytest.approx(in1.seconds + in2.seconds)
    assert rec.self_time("outer") == pytest.approx(outer.seconds - in1.seconds - in2.seconds)
    assert [v for _, v in sc.props] == ["outer", "inner", "outer", "inner", "outer", None]
    assert {k for k, _ in sc.props} == {LAYER_PROPERTY}


def test_install_wraps_and_uninstall_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    rec = SpanRecorder()
    rec.install(mod, "f", "layer.f")
    assert mod.f(1) == 2 and [s.name for s in rec.spans] == ["layer.f"]
    rec.uninstall()
    assert mod.f is original


def test_event_log_sample_per_layer_counts():
    # Recorded on local[2]: an untagged count, then a groupBy count tagged
    # "agg", then a filtered count tagged "count"; zstd as Spark writes it.
    events = list(read_events(SAMPLE))
    assert events[0]["Event"] == "SparkListenerLogStart"
    stats = layer_stats(events, walls={"agg": 2.0, "count": 1.0}, cores=2)
    assert set(stats) == {"agg", "count"}
    agg, cnt = stats["agg"], stats["count"]
    # agg: a map stage and a reduce stage, two tasks each.
    assert (agg["jobs"], agg["stages"], agg["tasks"]) == (1, 2, 4)
    assert agg["shuffle_write_mb"] == pytest.approx(343e-6)
    assert agg["task_run_s"] == pytest.approx(1.038)
    assert agg["gc_s"] == pytest.approx(0.16)
    assert agg["task_skew"] == pytest.approx(401 / 393)
    assert agg["core_busy_frac"] == pytest.approx(1.038 / (2.0 * 2))
    # count: a two-task partial count, then a one-task final count.
    assert (cnt["jobs"], cnt["stages"], cnt["tasks"]) == (1, 2, 3)
    assert cnt["spill_mb"] == 0 and cnt["gc_s"] == 0


def test_event_log_reader_rejects_unknown_codecs(tmp_path):
    bad = tmp_path / "app.lz4"
    bad.write_bytes(b"")
    with pytest.raises(ValueError):
        list(read_events(str(bad)))
