"""bench_scaling.py's attempt merge: results merge only across runs of
the same job (posting count, corpus, query count)."""

import bench_scaling as bs

JOB = {"n_postings": 1000, "corpus": "/data/c1", "n_queries": 40}


def _run(build_s, qps, **job):
    return {**JOB, **job, "cores": 4, "build_s": build_s, "reps": [build_s],
            "build_postings_per_sec": 1000 / build_s,
            "query_s": 40 / qps, "queries_per_sec": qps}


def test_same_job_keeps_best_window():
    old = {**_run(2.0, 50.0), "attempts": 2}
    merged = bs.merge_attempt(_run(3.0, 80.0), old)
    assert merged["attempts"] == 3
    assert merged["build_s"] == 2.0 and merged["reps"] == [2.0]
    assert merged["queries_per_sec"] == 80.0


def test_other_job_is_attempt_one():
    new = _run(3.0, 80.0)
    for other in ({"n_postings": 2000}, {"corpus": "/data/c2"},
                  {"n_queries": 10}):
        merged = bs.merge_attempt(new, {**_run(1.0, 99.0, **other),
                                        "attempts": 4})
        assert merged == {**new, "attempts": 1}, other


def test_unlabelled_old_record_is_not_merged():
    old = _run(1.0, 99.0)
    del old["corpus"]
    assert bs.merge_attempt(_run(3.0, 80.0), old)["attempts"] == 1
    assert bs.merge_attempt(_run(3.0, 80.0), None)["attempts"] == 1


def test_rung_key_names_core_pair_and_round():
    assert bs.rung_key(4, 16, 6) == "round6_rung_4_16"
    assert bs.rung_key(2, 8) == f"round{bs.ROUND}_rung_2_8"
    assert len({bs.rung_key(2, 8, 6), bs.rung_key(4, 16, 6),
                bs.rung_key(2, 8, 7)}) == 3


def test_write_rung_leaves_headline_and_other_rungs_alone():
    full = {"metric": "old headline", "round": 4, "build": {"efficiency": 0.98},
            "round5_rung_8_32": {"build": {"efficiency": 0.9}}}
    report = {"metric": "new", "round": 6, "build": {"efficiency": 0.7},
              "raw": {"4": _run(3.0, 80.0)}}
    key = bs.rung_key(4, 16, 6)
    out = bs.write_rung(full, key, report)
    assert out == {**full, key: report}
    assert full == {"metric": "old headline", "round": 4,
                    "build": {"efficiency": 0.98},
                    "round5_rung_8_32": {"build": {"efficiency": 0.9}}}
    # a rerun of the same rung replaces only that rung
    again = bs.write_rung(out, key, {"metric": "newer"})
    assert again == {**full, key: {"metric": "newer"}}
    assert bs.write_rung(None, key, report) == {key: report}
