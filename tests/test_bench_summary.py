"""bench.py's one-line summary: a line over 1,900 chars sheds
diagnostic keys before it touches the per-query dict."""

import json

import bench


def _summary(n_dirty: int) -> dict:
    return {
        "metric": "pages/sec spatial-join+tiling",
        "value": 1234.5,
        "unit": "sec",
        "queries": {q: 1.234 for q in bench.BENCH_QUERIES},
        "sf": 0.1,
        "pages": 16000,
        "routes": 4000,
        "cpus": "4",
        "geo_cpu_sec": 31.9,
        "geo_steal_sec": 0.05,
        "geo_clean": True,
        "geo_capacity_clean": True,
        "dirty_legs": [f"leg_with_a_long_name_{i}" for i in range(n_dirty)],
        "detail": "bench_detail.json",
    }


def test_short_summary_is_unchanged():
    s = _summary(2)
    assert bench._shed_keys(s) == json.dumps(s)


def test_long_summary_keeps_queries():
    s = _summary(200)
    assert len(json.dumps(s)) > 1900
    line = bench._shed_keys(s)
    out = json.loads(line)
    assert len(line) <= 1900
    assert out["queries"] == s["queries"]
    assert "dirty_legs" not in out
    # only what had to go went: the headline keys all stay
    for key in ("metric", "value", "unit", "sf", "pages", "geo_clean", "detail"):
        assert out[key] == s[key]
    assert out["routes"] == s["routes"]
