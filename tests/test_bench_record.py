"""bench.py's prior-record lookup for the contention re-measure."""

from __future__ import annotations

import json

from bench import prior_queries_min


def _record(path, mins):
    path.write_text(json.dumps({"parsed": None if mins is None else {"queries_min": mins}}))


def test_prior_record_is_newest_exact_round_with_mins(tmp_path):
    _record(tmp_path / "BENCH_r9.json", {"q": 9.0})
    _record(tmp_path / "BENCH_r14.json", {"q": 14.0})
    _record(tmp_path / "BENCH_r15.json", {"q": 15.0})
    _record(tmp_path / "BENCH_r15_c8.json", {"q": 0.8})  # other core count
    _record(tmp_path / "BENCH_r16.json", None)  # truncated record
    (tmp_path / "BENCH_r17.json").write_text("{not json")
    assert prior_queries_min(tmp_path) == {"q": 15.0}


def test_no_prior_record_is_empty(tmp_path):
    _record(tmp_path / "BENCH_r15_c8.json", {"q": 0.8})
    assert prior_queries_min(tmp_path) == {}
