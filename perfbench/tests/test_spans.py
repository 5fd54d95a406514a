"""Span recording and innermost-span job attribution."""

import types

import pytest

import layers


class FakeContext:
    """Records the job group a thread would carry."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, gid, desc, interrupt):  # noqa: N802 (Spark API)
        self.group = gid

    def setLocalProperty(self, key, value):  # noqa: N802
        if key == "spark.jobGroup.id":
            self.group = value


def _job(jid, group, t0, t1, cpu=0.0):
    return layers.Job(job_id=jid, group=group, submit_s=t0, end_s=t1, exec_cpu_s=cpu)


def test_spans_set_and_restore_the_job_group():
    tr = layers.Tracer()
    sc = FakeContext()
    tr.attach(sc)
    with tr.span("outer") as outer:
        assert sc.group == f"pb-{outer.sid}"
        with tr.span("inner") as inner:
            assert sc.group == f"pb-{inner.sid}"
            assert inner.parent == outer.sid
        assert sc.group == f"pb-{outer.sid}"
    assert sc.group is None


def test_wrap_and_unwrap_module_and_class_attributes():
    mod = types.SimpleNamespace(f=lambda x: x + 1)

    class Table:
        def merge(self, x):
            return x * 2

    tr = layers.Tracer()
    tr.wrap(mod, "f", "mod.f")
    tr.wrap(Table, "merge", "table.merge")
    tr.op = 3
    assert mod.f(1) == 2 and Table().merge(2) == 4
    assert [(s.name, s.op) for s in tr.spans] == [("mod.f", 3), ("table.merge", 3)]
    tr.unwrap_all()
    mod.f(1)
    Table().merge(1)
    assert len(tr.spans) == 2


def _nested():
    # outer [0, 10] holds inner [2, 6]; a sibling [7, 9] runs in another
    # thread while outer is open (a streaming callback)
    return [
        layers.Span(0, "outer", None, 0, 0.0, 10.0),
        layers.Span(1, "inner", 0, 0, 2.0, 6.0),
        layers.Span(2, "callback", 0, 0, 7.0, 9.0),
    ]


def test_jobs_go_to_the_span_named_by_their_group():
    spans = _nested()
    jobs = {
        1: _job(1, "pb-1", 3.0, 4.0),
        2: _job(2, "pb-0", 3.5, 5.0),  # outer's group even while inner is open
        3: _job(3, "pb-2", 7.5, 8.0),
    }
    assert layers.attribute(spans, jobs) == []
    assert [s.jobs for s in spans] == [[2], [1], [3]]


def test_jobs_without_our_group_go_to_the_innermost_open_span():
    spans = _nested()
    jobs = {
        1: _job(1, None, 3.0, 4.0),  # inside inner
        2: _job(2, "some-stream-run-id", 6.5, 6.8),  # only outer open
        3: _job(3, None, 8.0, 8.5),  # inside the callback span
        4: _job(4, None, 11.0, 12.0),  # no span open
    }
    assert layers.attribute(spans, jobs) == [4]
    assert [s.jobs for s in spans] == [[2], [1], [3]]


def test_counters_are_self_not_inclusive():
    spans = _nested()
    jobs = {1: _job(1, "pb-1", 3.0, 5.0, cpu=1.5), 2: _job(2, "pb-0", 6.0, 6.5, cpu=0.25)}
    layers.attribute(spans, jobs)
    c = layers.span_counters(spans, jobs)
    assert c[0]["jobs"] == 1 and c[0]["exec_cpu_s"] == 0.25
    assert c[1]["jobs"] == 1 and c[1]["exec_cpu_s"] == 1.5
    # outer: 10 s minus children [2,6] and [7,9] and its job [6,6.5]
    assert c[0]["driver_s"] == pytest.approx(10 - 4 - 2 - 0.5)
    # inner: 4 s minus its job [3,5]
    assert c[1]["driver_s"] == pytest.approx(2.0)
    assert c[0]["wall_s"] == 10.0


def test_layer_metrics_are_per_timed_op_means():
    spans = [
        layers.Span(0, "a", None, None, 0.0, 1.0),  # warm-up: excluded
        layers.Span(1, "a", None, 5, 1.0, 3.0),
        layers.Span(2, "a", None, 6, 3.0, 7.0),
    ]
    per = layers.layer_metrics(spans, {}, [5, 6])
    assert per["a"]["wall_s"] == pytest.approx(3.0)


def test_per_layer_names_fit_the_report():
    every = ("batch_etl", "stream_ingest", "corpus_curation")
    names = [n for n, _ in layers.per_layer_names(every)]
    assert len(names) == len(set(names)) <= 128
    assert all(len(n) <= 64 for n in names)
    batch = {n for n, _ in layers.per_layer_names(("batch_etl",))}
    assert "merge.upsert_replace.written_bytes" in batch and "jvm.gc_s" in batch
    assert not any(n.startswith(("micro_batch.", "minhash.")) for n in batch)
