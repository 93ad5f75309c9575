"""Traced requests on a live session: per request, the stage time the
status store reports fits inside the request's wall time."""

import os
import time

import pytest

from perfbench import datagen

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
#: status-store times have millisecond resolution
TOL_S = 0.05


@pytest.fixture(scope="module")
def spark():
    # the JVM, and the Python workers it forks, inherit the environment
    # at session start: workers must import the engine from the checkout
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("PYTHONPATH", os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ))
        from obsplus_spark import get_spark

        yield get_spark("perfbench-test")


def test_stage_time_consistent_with_request_wall(spark, tmp_path):
    import __spark_entry__ as entry
    from perfbench.trace import Tracer

    sf_dir = datagen.ensure(str(tmp_path / "sf0.01"), 0.01)
    queries = entry.queries()
    tracer = Tracer(spark).install()
    try:
        for i, name in enumerate(("gaps", "availability", "event_window_join", "mseed_roundtrip")):
            tracer.begin(i, name)
            t_epoch = time.time()
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            build = time.perf_counter() - t0
            df.collect()
            tracer.end(i, name, time.perf_counter() - t0, t_epoch, build)
    finally:
        tracer.uninstall()
    assert len(tracer.requests) == 4
    for rec in tracer.requests:
        assert rec["jobs"] >= 1 and rec["stages"] >= 1
        assert rec["stage_busy_s"] <= rec["wall_s"] + TOL_S
        first, last = rec["stage_span"]
        assert first >= rec["start_epoch_s"] - TOL_S
        assert last <= rec["start_epoch_s"] + rec["wall_s"] + TOL_S
        assert rec["executor_run_s"] >= 0 and rec["tasks"] >= rec["stages"]
    layer = tracer.layer_metrics(1)
    assert layer["operators.gaps.calls"] >= 1
    assert layer["python.rows"] > 0  # mseed_roundtrip runs pandas workers
    assert layer["catalyst.planning_s"] > 0
