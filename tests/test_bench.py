"""``bench.py``'s solo re-time pass compares a run only against records
taken at the same scale factor and core count."""

import json

import bench


def _record(path, sf, cpus, seconds):
    with open(path, "w") as f:
        json.dump({"sf": sf, "cpus": cpus, "queries": {"q1_x": seconds}}, f)


def test_prior_record_matches_sf_and_cpus(tmp_path):
    _record(tmp_path / "BENCH_full_r01.json", 0.1, 4, 1.0)
    _record(tmp_path / "BENCH_full_r02.json", 0.01, 4, 5.0)
    _record(tmp_path / "BENCH_full_r03.json", 0.01, 32, 0.5)
    _record(tmp_path / "BENCH_full_r03_c8.json", 0.01, 8, 0.7)

    assert bench._load_prior_record(str(tmp_path), 0.01, 4) == (
        {"q1_x": 5.0}, ["BENCH_full_r02.json"])
    assert bench._load_prior_record(str(tmp_path), 0.1, 4) == (
        {"q1_x": 1.0}, ["BENCH_full_r01.json"])
    assert bench._load_prior_record(str(tmp_path), 0.01, 8) == (
        {"q1_x": 0.7}, ["BENCH_full_r03_c8.json"])
    assert bench._load_prior_record(str(tmp_path), 0.1, 32) == ({}, [])


def test_prior_record_is_the_minimum_of_the_newest_two(tmp_path):
    for n, seconds in ((1, 0.2), (2, 3.0), (3, 2.0)):
        _record(tmp_path / f"BENCH_full_r{n:02d}.json", 0.1, 32, seconds)
    assert bench._load_prior_record(str(tmp_path), 0.1, 32) == (
        {"q1_x": 2.0}, ["BENCH_full_r02.json", "BENCH_full_r03.json"])
