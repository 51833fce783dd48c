import pytest

import spans


class FakeContext:
    """Just the local-property surface of a SparkContext."""

    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def _clock(*ticks):
    it = iter(ticks)
    return lambda: next(it)


def test_self_time_of_nested_spans():
    # outer 0..10 holds a 2..5 child (with a 3..4 grandchild) and a 6..8 child
    t = spans.Tracer(clock=_clock(0, 2, 3, 4, 5, 6, 8, 10))
    with t.span("outer"):
        with t.span("a"):
            with t.span("b"):
                pass
        with t.span("a"):
            pass
    got = {s.sid: spans.length(t.self_intervals(s)) for s in t.spans}
    assert got == {0: 5.0, 1: 2.0, 2: 1.0, 3: 2.0}
    stats = spans.layer_stats(t, {})
    assert stats["a"].calls == 2 and stats["a"].self_s == 4.0
    # self times of all spans add up to the outer span's duration
    assert sum(st.self_s for st in stats.values()) == 10.0


def test_driver_time_excludes_stage_intervals():
    t = spans.Tracer(clock=_clock(0, 10))
    with t.span("layer") as s:
        pass
    w = spans.Work(jobs=1, stage_intervals=[(2, 4), (3, 6)])
    assert spans.layer_stats(t, {s.group: w})["layer"].driver_s == 6.0


def test_job_group_restored_after_exception():
    sc = FakeContext()
    sc.setLocalProperty(spans.GROUP_PROP, "caller")
    t = spans.Tracer(sc)
    seen = []

    def boom():
        seen.append(sc.getLocalProperty(spans.GROUP_PROP))
        raise ValueError("inside")

    with pytest.raises(ValueError):
        with t.span("outer"):
            t.wrap("inner", boom)()
    assert seen == [t.spans[1].group]
    assert sc.getLocalProperty(spans.GROUP_PROP) == "caller"
    assert all(s.end >= s.start for s in t.spans)


def test_instrument_rebinds_and_restores():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    original = Mod.f
    t = spans.Tracer()
    with pytest.raises(RuntimeError):
        with t.instrument([(Mod, "f", "layer")]):
            assert Mod.f(1) == 2
            raise RuntimeError
    assert Mod.f is original
    assert [s.name for s in t.spans] == ["layer"]


def test_same_layer_nesting_counts_once():
    t = spans.Tracer()
    inner = t.wrap("registry", lambda: None)
    t.wrap("registry", inner)()
    assert len(t.spans) == 1


def _stage(sid, status="COMPLETE", cpu=1e9):
    return {
        "stageId": sid, "status": status, "executorCpuTime": cpu, "shuffleWriteBytes": 0,
        "outputBytes": 0, "diskBytesSpilled": 0,
    }


def test_attribute_counts_a_shared_stage_once():
    jobs = [
        {"jobId": 5, "jobGroup": "g1", "status": "SUCCEEDED", "stageIds": [1, 2]},
        {"jobId": 6, "jobGroup": "g2", "status": "SUCCEEDED", "stageIds": [2, 3]},
    ]
    stages = [_stage(1), _stage(2), _stage(3), _stage(2, "SKIPPED", 0)]
    work = spans.attribute(jobs, stages, 5, 7)
    assert work["g1"].cpu_s == 2.0 and work["g2"].cpu_s == 1.0
    assert spans.total(work).jobs == 2


def test_attribute_refuses_evicted_jobs_and_stages():
    jobs = [{"jobId": 6, "jobGroup": None, "status": "SUCCEEDED", "stageIds": [3]}]
    with pytest.raises(spans.CountersIncomplete):
        spans.attribute(jobs, [_stage(3)], 5, 7)  # job 5 evicted
    with pytest.raises(spans.CountersIncomplete):
        spans.attribute(jobs, [], 6, 7)  # stage 3 evicted
    running = [{**jobs[0], "status": "RUNNING"}]
    with pytest.raises(spans.CountersIncomplete):
        spans.attribute(running, [_stage(3)], 6, 7)
