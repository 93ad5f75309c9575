"""The shadow model and the trace arithmetic, without Spark."""

from perfbench.oracle import BankShadow, _event_match
from perfbench.trace import _parse_metric, _union_length


def _wave(start, end, path, sp=0):
    return {
        "network": "UU", "station": "A", "location": "", "channel": "HHZ",
        "starttime": start, "endtime": end, "sampling_period": sp, "path": path,
    }


def test_shadow_gaps_use_running_max_end():
    spans = [(0, 10), (2, 5), (6, 8), (20, 25), (24, 30), (50, 60)]
    shadow = BankShadow([], [_wave(a, b, f"f{i}") for i, (a, b) in enumerate(spans)])
    gaps = shadow.expected("gaps", "wave", {})
    assert [(g[5], g[6]) for g in gaps] == [(10, 20), (30, 50)]


def test_shadow_upsert_replaces_by_key():
    shadow = BankShadow([], [_wave(0, 10, "f0")])
    shadow.upsert_waves([_wave(0, 99, "f0"), _wave(5, 6, "f1")])
    rows = shadow.expected("read", "wave", {})
    assert [(r[4], r[5]) for r in rows] == [(0, 99), (5, 6)]


def test_shadow_dateline_box():
    row = {"time": 5, "latitude": 0.0, "longitude": 170.0, "depth": 0.0, "magnitude": 1.0}
    assert _event_match(row, {"minlongitude": 150.0, "maxlongitude": -150.0})
    assert not _event_match(row, {"minlongitude": -90.0, "maxlongitude": 90.0})


def test_parse_metric_values():
    assert _parse_metric("8,959") == 8959
    assert _parse_metric("2.0 KiB") == 2048
    assert _parse_metric("483 ms") == 0.483
    assert _parse_metric("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 2 ms (stage 3.0: task 12))") == 1.5


def test_union_length_merges_overlaps():
    assert _union_length([(0, 2), (1, 3), (5, 6)]) == 4


def test_oracle_answers_are_cached_per_sql(tmp_path):
    import os

    from perfbench import datagen
    from perfbench.oracle import RegistryOracle

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sf_dir = datagen.ensure(str(tmp_path / "sf0.001"), 0.001)
    cache = str(tmp_path / "oracle")
    sql = {"n": "SELECT n_nationkey AS k, n_name FROM nation WHERE n_regionkey = 1"}
    first = RegistryOracle(root, sf_dir, sql, ["n"], cache)
    assert len(os.listdir(cache)) == 1
    again = RegistryOracle(root, sf_dir, sql, ["n"], cache)
    assert again._answers == first._answers
    rows = [(k, f"NATION_{k}") for k in range(1, 25, 5)]
    assert again.compare("n", ["n_name", "k"], [(n, k) for k, n in rows]) is None
    assert again.compare("n", ["k", "n_name"], rows[1:]) == "4 rows != oracle 5"
    RegistryOracle(root, sf_dir, {"n": sql["n"] + " AND n_nationkey > 5"}, ["n"], cache)
    assert len(os.listdir(cache)) == 2
