"""Tests of the benchmark's own metric code. No Spark session needed:

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


# -- tail percentile --------------------------------------------------------

def test_tail_needs_more_than_ten_samples():
    assert metrics.tail_percentile(list(range(10))) is None
    assert metrics.tail_percentile([]) is None


def test_tail_leaves_exactly_ten_samples_beyond():
    samples = list(range(1, 101))          # 1..100, shuffled below
    samples = samples[::3] + samples[1::3] + samples[2::3]
    pct, value = metrics.tail_percentile(samples)
    assert (pct, value) == (90.0, 90)
    assert sum(s > value for s in samples) == 10


def test_tail_smallest_sample_count():
    pct, value = metrics.tail_percentile([5.0] * 3 + [1.0] * 8)
    assert value == 1.0 and pct == pytest.approx(100 / 11)


# -- stage metrics from a captured event log --------------------------------

@pytest.fixture
def groups(tmp_path):
    log = tmp_path / "events"
    log.mkdir()
    with open(os.path.join(HERE, "eventlog_sample.jsonl")) as src, \
            open(log / "app-1", "w") as dst:
        dst.write(src.read())
    return metrics.group_tasks(metrics.read_event_log(str(log)))


def test_tasks_are_attributed_by_job_group(groups):
    assert sorted(groups) == ["spanA", "spanB"]
    assert sorted(groups["spanA"]) == [0, 2, 5]
    assert sorted(groups["spanB"]) == [6, 8]


def test_idle_core_s_and_task_skew(groups):
    m = metrics.span_measures(groups["spanA"], wall_s=3.0, cores=4)
    assert m["task_s"] == pytest.approx(8.805)
    assert m["idle_core_s"] == pytest.approx(4 * 3.0 - 8.805)
    # worst stage: tasks of 54/60/61 ms → 61 / median 60
    assert m["task_skew"] == pytest.approx(61 / 60)
    assert m["tasks"] == 8
    assert m["cpu_s"] == pytest.approx(0.849428106)
    assert m["shuffle_write_mb"] == pytest.approx((4 * 159 + 3 * 59) / 1e6)
    assert m["spill_mb"] == 0


def test_span_without_tasks():
    m = metrics.span_measures({}, wall_s=0.5, cores=4)
    assert m["task_s"] == 0 and m["idle_core_s"] == 2.0
    assert m["task_skew"] == 1.0


def test_net_wall_removes_the_hosts_share_of_steal():
    # 2 vCPU-seconds stolen from 4 busy vCPUs delay the region by 0.5 s
    assert metrics.net_wall(6.0, 2.0, cores=4) == pytest.approx(5.5)
    assert metrics.net_wall(6.0, 0.0, cores=4) == 6.0


def test_stopwatch_reads_wall_and_steal():
    sw = metrics.Stopwatch().stop()
    assert sw.wall >= 0 and sw.steal >= 0
    assert sw.net(4) == pytest.approx(sw.wall - sw.steal / 4)


def test_rolling_event_log_directory(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_2_local-1").write_text('{"Event": "b"}\n')
    (app / "events_1_local-1").write_text('{"Event": "a"}\n')
    (app / "appstatus_local-1").write_text("")
    events = metrics.read_event_log(str(tmp_path))
    assert [e["Event"] for e in events] == ["a", "b"]


# -- metadata refusal -------------------------------------------------------

META = {"workload": "serve", "seed": 1, "n_docs": 1000, "n_postings": 9,
        "inputs_sha256": "ab", "nproc": 4, "master": "local[4]",
        "git_sha": "x", "loadavg_before": [1, 1, 1]}


def test_same_inputs_and_cores_compare():
    other = dict(META, git_sha="y", loadavg_before=[3, 3, 3])
    metrics.check_comparable(META, other)


@pytest.mark.parametrize("key,value", [
    ("seed", 2), ("n_docs", 2000), ("nproc", 8), ("inputs_sha256", "cd"),
    ("workload", "build")])
def test_mismatch_is_refused(key, value):
    with pytest.raises(metrics.MetadataMismatch, match=key):
        metrics.check_comparable(META, dict(META, **{key: value}))


def test_missing_key_is_refused():
    other = {k: v for k, v in META.items() if k != "nproc"}
    with pytest.raises(metrics.MetadataMismatch, match="nproc"):
        metrics.check_comparable(META, other)


def test_compare_command_refuses_other_seed(tmp_path):
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    e2e = {"setup_s": 1.0, "latency_p50_ms": 2.0, "throughput_per_s": 3.0,
           "peak_rss_mb": 4.0}
    a.write_text(json.dumps({"metadata": META, "end_to_end": e2e}))
    b.write_text(json.dumps({"metadata": dict(META, seed=9),
                             "end_to_end": e2e}))
    cmd = [sys.executable, os.path.join(BENCH, "compare.py")]
    refused = subprocess.run(cmd + [str(a), str(b)], capture_output=True,
                             text=True)
    assert refused.returncode == 2 and "seed" in refused.stderr
    same = subprocess.run(cmd + [str(a), str(a)], capture_output=True,
                          text=True)
    assert same.returncode == 0 and "latency_p50_ms" in same.stdout


# -- seeded inputs ----------------------------------------------------------

ROWS = [(i, " ".join(f"ident{(i * 7 + j) % 40:04d}" for j in range(12))
         + f" def class uniq{i}tok pair{i // 2}x") for i in range(60)]


def test_query_mix_is_byte_identical_per_seed():
    a = inputs.serving_batch(inputs.Vocabulary(ROWS), 50, 7, 1)
    b = inputs.serving_batch(inputs.Vocabulary(list(ROWS)), 50, 7, 1)
    assert inputs.digest(ROWS, a) == inputs.digest(ROWS, b)
    c = inputs.serving_batch(inputs.Vocabulary(ROWS), 50, 8, 1)
    assert inputs.digest(ROWS, a) != inputs.digest(ROWS, c)


def test_query_shapes():
    vocab = inputs.Vocabulary(ROWS)
    batch = inputs.serving_batch(vocab, 100, 3, 1)
    assert len({q for q, _ in batch}) == 100
    neghot = batch[50:75]
    assert all(t[0] in vocab.hot and t[1] in vocab.unique for _, t in neghot)
    adhoc = inputs.adhoc_batch(vocab, 10, 3, 1)
    assert all(q >= inputs.ADHOC_QID_BASE for q, _ in adhoc)
    assert all(len(set(t)) == 2 and set(t) <= set(vocab.mid)
               for _, t in adhoc)


# -- BENCHMARK.json stays in step with the code -----------------------------

def test_benchmark_json_lists_the_metrics_the_code_prints():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] \
        == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == run.per_layer_metrics()
    assert [w["name"] for w in spec["workloads"]] == ["build", "serve"]
