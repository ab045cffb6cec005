"""Bench artifact chain invariants (round 5, VERDICT r4 #1/#2): the driver
captures only the last 2000 characters of stdout, so every emitted line must
stay under that; and the standing BENCH/BASELINE.md headline must be
storm-proof — computed as the cross-history per-metric max per level, which
interference (one-sided: it only subtracts throughput) can never drag down.
Pure-Python tests, no Spark session."""

from __future__ import annotations

import json

import bench


def _full_result(n_queries: int = 14) -> dict:
    """A result dict shaped like a completed run (every optional section
    populated, long per-sample telemetry in the full object)."""
    high = {
        "cpus": 8, "n_docs": 300000, "n_queries": 15000,
        "build_sec": 21.6, "build_docs_per_sec": 13858.8,
        "query_sec": 31.1, "queries_per_sec": 482.6,
        "result_rows": 150000, "build_layout": "shuffle",
        "build_stats": {"best": 21.6, "median": 25.0, "n": 2},
        "query_stats": {"best": 31.1, "median": 33.0, "n": 2},
        "steal_pct": [0.1, 2.8], "iowait_pct": [0.4, 0.5],
        "membw_gbps": [[15.0, 15.2], [14.9, 15.1]],
    }
    iso = dict(high, cpus=2, n_conc=4, build_docs_per_sec=3458.8,
               queries_per_sec=123.2,
               slice_build_docs_per_sec=[3400.0, 3458.8, 3300.0, 3390.0],
               slice_queries_per_sec=[120.0, 123.2, 121.0, 122.0],
               windows=[{"build_docs_per_sec": 3458.8,
                         "queries_per_sec": 123.2,
                         "slice_build_docs_per_sec": [3400.0] * 4,
                         "slice_queries_per_sec": [120.0] * 4,
                         "steal_pct": 3.9, "iowait_pct": 0.4,
                         "membw_gbps": [15.1, 15.0]}] * 2)
    return {
        "metric": "bench_total_sec", "value": 1372.9, "unit": "sec",
        "queries": {f"query_name_{i:02d}": 12.345 for i in range(n_queries)},
        "queries_detail": {
            f"query_name_{i:02d}": {"best": 12.3, "median": 13.0, "n": 2}
            for i in range(n_queries)
        },
        "sf": 0.1,
        "fulltext": high,
        "scaling": {
            "method": "x" * 400,  # long prose lives in the FULL object only
            "high": high, "high_history_best": high, "iso_low": iso,
            "build_efficiency": 1.002, "query_efficiency": 0.949,
            "sequential_lower_bound": {"build_efficiency": 0.675,
                                       "query_efficiency": 0.846},
            "best_clean_pair": {
                "build_efficiency": 1.002, "query_efficiency": 0.949,
                "high_build_docs_per_sec": 13858.8,
                "high_queries_per_sec": 482.6,
                "iso_slice_build_docs_per_sec": 3458.8,
                "iso_slice_queries_per_sec": 127.2,
            },
            "skipped": ["iso_rep2 (est 575.9s > remaining 528.4s)"],
        },
        "sections_done": ["headline", "fulltext", "scaling_high",
                          "scaling_iso", "scaling_high2", "scaling_iso2",
                          "fulltext2", "headline2", "final"],
        "time_budget_sec": 1650.0,
    }


def test_compact_summary_fits_driver_tail_window():
    """The compact stdout line must fit the driver's 2000-char tail capture
    with margin, even with every section populated — the r4 failure was the
    full cumulative line outgrowing that window (parsed=null)."""
    line = json.dumps(bench._compact_summary(_full_result()))
    assert len(line) < 1900, len(line)
    # and it must round-trip with the efficiencies the driver needs
    d = json.loads(line)
    assert d["scaling"]["build_efficiency"] == 1.002
    assert d["scaling"]["query_efficiency"] == 0.949
    assert d["scaling"]["best_clean_pair"]["build_efficiency"] == 1.002
    assert d["fulltext"]["build_docs_per_sec"] == 13858.8
    assert "queries_detail" not in d          # full-object-only payloads
    assert "method" not in json.dumps(d)      # prose stays in last_run.jsonl


def test_compact_summary_is_json_per_emit_shape():
    """Early emits (no fulltext/scaling yet) must also be valid compact
    lines — any kill point leaves a parseable artifact."""
    r = _full_result()
    r["fulltext"] = None
    r["scaling"] = None
    r["sections_done"] = ["headline"]
    d = json.loads(json.dumps(bench._compact_summary(r)))
    assert d["sections_done"] == ["headline"]
    assert "scaling" not in d and "fulltext" not in d


def test_best_clean_pair_ignores_storm_and_seeded_samples(tmp_path,
                                                          monkeypatch):
    """A storm-hit sample (lower throughput) must never move the pair —
    max-per-level is one-sided-interference-proof — and seeded entries stay
    excluded. Entries at other level keys are ignored."""
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    hist = tmp_path / "BENCH"
    hist.mkdir()
    rows = [
        # clean high, clean iso
        dict(cpus=8, n_docs=300000, n_queries=15000, build_layout="shuffle",
             n_conc=None, max_partition_bytes="128m",
             build_docs_per_sec=13858.8, queries_per_sec=482.6,
             steal_pct=0.1),
        dict(cpus=2, n_docs=300000, n_queries=15000, build_layout="shuffle",
             n_conc=4, max_partition_bytes="128m",
             build_docs_per_sec=3458.8, queries_per_sec=123.2,
             steal_pct=3.9),
        # storm-hit high (slower): must not lower the high max
        dict(cpus=8, n_docs=300000, n_queries=15000, build_layout="shuffle",
             n_conc=None, max_partition_bytes="128m",
             build_docs_per_sec=6258.0, queries_per_sec=271.2,
             steal_pct=10.1),
        # storm-hit iso (slower): must not lower the iso max either (a
        # slower denominator would INFLATE efficiency)
        dict(cpus=2, n_docs=300000, n_queries=15000, build_layout="shuffle",
             n_conc=4, max_partition_bytes="128m",
             build_docs_per_sec=994.0, queries_per_sec=40.0,
             steal_pct=1.0),
        # seeded: excluded even though faster
        dict(cpus=8, n_docs=300000, n_queries=15000, build_layout="shuffle",
             n_conc=None, max_partition_bytes="128m",
             build_docs_per_sec=99999.0, queries_per_sec=9999.0,
             steal_pct=0.0, seeded=True),
        # foreign_load: excluded even though faster — a concurrent
        # workload re-warms shared caches after the protocol's cache drop
        # and can ADD throughput (the one-sidedness axiom fails for cache
        # effects), so such samples are invalid in either direction
        dict(cpus=2, n_docs=300000, n_queries=15000, build_layout="shuffle",
             n_conc=4, max_partition_bytes="128m",
             build_docs_per_sec=44444.0, queries_per_sec=4444.0,
             steal_pct=0.2, foreign_load="concurrent pytest"),
        dict(cpus=8, n_docs=300000, n_queries=15000, build_layout="shuffle",
             n_conc=None, max_partition_bytes="128m",
             build_docs_per_sec=55555.0, queries_per_sec=5555.0,
             steal_pct=0.2, foreign_load="concurrent pytest"),
        # other split config: different job, ignored even though faster
        dict(cpus=8, n_docs=300000, n_queries=15000, build_layout="shuffle",
             n_conc=None, max_partition_bytes="16m",
             build_docs_per_sec=77777.0, queries_per_sec=7777.0,
             steal_pct=0.0),
        # different layout: different job, ignored
        dict(cpus=8, n_docs=300000, n_queries=15000, build_layout="aligned",
             n_conc=None, build_docs_per_sec=88888.0, queries_per_sec=8888.0,
             steal_pct=0.0),
    ]
    with open(hist / "history.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    pair = bench._best_clean_pair(
        (8, 300000, 15000, "shuffle", None, "128m"),
        (2, 300000, 15000, "shuffle", 4, "128m"),
        4.0,
    )
    assert pair["high_build_docs_per_sec"] == 13858.8
    assert pair["iso_slice_build_docs_per_sec"] == 3458.8
    assert pair["build_efficiency"] == 1.002
    assert pair["query_efficiency"] == round(482.6 / 123.2 / 4.0, 3)


def test_best_clean_pair_missing_level_returns_none(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    (tmp_path / "BENCH").mkdir()
    with open(tmp_path / "BENCH" / "history.jsonl", "w") as f:
        f.write(json.dumps(
            dict(cpus=8, n_docs=300000, n_queries=15000,
                 build_layout="shuffle", n_conc=None,
                 build_docs_per_sec=1.0, queries_per_sec=1.0)) + "\n")
    assert bench._best_clean_pair(
        (8, 300000, 15000, "shuffle", None, "128m"),
        (2, 300000, 15000, "shuffle", 4, "128m"), 4.0) is None


def test_append_history_dedups_by_flag(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    s = {"cpus": 8, "build_docs_per_sec": 1.0}
    bench._append_history([s])
    bench._append_history([s])  # assemble() re-runs on the same lists
    lines = open(tmp_path / "BENCH" / "history.jsonl").read().splitlines()
    assert len(lines) == 1
    assert "_in_history" not in lines[0]


def test_best_clean_pair_over_configs_selects_max_min(tmp_path, monkeypatch):
    """Each split config is a consistent job; the headline takes the config
    with the best min(build, query) pair. Legacy entries without the split
    field count as 16m (the session default they ran under)."""
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    (tmp_path / "BENCH").mkdir()
    rows = [
        # 16m pair: 0.8 build, 0.9 query   (legacy row: no split field)
        dict(cpus=8, n_docs=300000, n_queries=15000, build_layout="shuffle",
             n_conc=None, build_docs_per_sec=12800.0, queries_per_sec=460.8,
             steal_pct=0.1),
        dict(cpus=2, n_docs=300000, n_queries=15000, build_layout="shuffle",
             n_conc=4, max_partition_bytes="16m",
             build_docs_per_sec=4000.0, queries_per_sec=128.0, steal_pct=1.0),
        # 128m pair: 1.0 build, 0.95 query -> wins on min()
        dict(cpus=8, n_docs=300000, n_queries=15000, build_layout="shuffle",
             n_conc=None, max_partition_bytes="128m",
             build_docs_per_sec=16000.0, queries_per_sec=486.4,
             steal_pct=0.2),
        dict(cpus=2, n_docs=300000, n_queries=15000, build_layout="shuffle",
             n_conc=4, max_partition_bytes="128m",
             build_docs_per_sec=4000.0, queries_per_sec=128.0, steal_pct=0.5),
    ]
    with open(tmp_path / "BENCH" / "history.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    pair = bench._best_clean_pair_over_configs(
        8, 2, 300000, 15000, "shuffle", 4, 4.0)
    assert pair["max_partition_bytes"] == "128m"
    assert pair["build_efficiency"] == 1.0
    assert pair["query_efficiency"] == 0.95


def test_best_of_history_matches_full_level_key(tmp_path, monkeypatch):
    """A history line at the same six-field level key (_history_key) is
    picked up; lines at another split size or layout are not."""
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    (tmp_path / "BENCH").mkdir()
    level = dict(cpus=8, n_docs=300000, n_queries=15000,
                 build_layout="shuffle", n_conc=None,
                 max_partition_bytes="128m")
    rows = [
        dict(level, build_sec=17.0, build_docs_per_sec=17613.0,
             query_sec=25.0, queries_per_sec=600.0),
        dict(level, max_partition_bytes="16m", build_sec=1.0,
             build_docs_per_sec=99999.0, query_sec=1.0,
             queries_per_sec=9999.0),
        dict(level, build_layout="aligned", build_sec=1.0,
             build_docs_per_sec=88888.0, query_sec=1.0,
             queries_per_sec=8888.0),
    ]
    with open(tmp_path / "BENCH" / "history.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    sample = dict(level, build_sec=49.8, build_docs_per_sec=6029.0,
                  query_sec=31.1, queries_per_sec=482.6)
    best = bench._best_of_history([sample])
    assert best["build_docs_per_sec"] == 17613.0
    assert best["build_sec"] == 17.0
    assert best["queries_per_sec"] == 600.0
    assert best["query_sec"] == 25.0
