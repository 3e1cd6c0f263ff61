import threading

import pytest

from perfbench.tracing import (
    CONSTRUCT,
    EXECUTE,
    Py4jCounter,
    StreamRecord,
    _stream_metrics,
    attribute_jobs,
    job_group,
    parse_sql_metric,
)


def test_jobs_are_attributed_by_group_and_stream_run_id():
    jobs = [
        {"jobId": 0, "jobGroup": job_group("q", CONSTRUCT)},
        {"jobId": 1, "jobGroup": "run-1"},
        {"jobId": 2, "jobGroup": job_group("q", EXECUTE)},
        {"jobId": 3, "jobGroup": job_group("other", EXECUTE)},
        {"jobId": 4},
    ]
    by_phase, unattributed = attribute_jobs(jobs, "q", {"run-1"})
    assert [j["jobId"] for j in by_phase[CONSTRUCT]] == [0, 1]
    assert [j["jobId"] for j in by_phase[EXECUTE]] == [2]
    assert [j["jobId"] for j in unattributed] == [3, 4]


def test_a_query_name_prefix_does_not_capture_another_query():
    jobs = [{"jobId": 0, "jobGroup": job_group("psum_cal_day_tz", EXECUTE)}]
    by_phase, unattributed = attribute_jobs(jobs, "psum_cal_day", set())
    assert not by_phase[EXECUTE] and len(unattributed) == 1


@pytest.mark.parametrize(
    "text,mtype,expected",
    [
        ("total (min, med, max (stageId: taskId))\n1.5 KiB (512.0 B, 512.0 B, 512.0 B (stage 1.0: task 2))", "size", 1536.0),
        ("12 ms", "timing", 0.012),
        ("total (min, med, max)\n2.0 s (0 ms, 1.0 s, 1.0 s)", "nsTiming", 2.0),
        ("1,234", "sum", 1234.0),
        ("0.0 B", "size", 0.0),
    ],
)
def test_formatted_sql_metrics_parse_to_base_units(text, mtype, expected):
    assert parse_sql_metric(text, mtype) == pytest.approx(expected)


class _FakeClient:
    def __init__(self):
        self.sent = []

    def send_command(self, command):
        self.sent.append(command)
        return "ok"


def test_py4j_counter_counts_only_enabled_calls_of_its_own_thread():
    client = _FakeClient()
    orig = client.send_command
    counter = Py4jCounter(client)
    client.send_command("a")
    counter.enabled = True
    client.send_command("b")
    client.send_command("c")
    t = threading.Thread(target=client.send_command, args=("d",))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    assert counter.take()[0] == 2
    assert counter.take()[0] == 0
    assert client.sent == ["a", "b", "c", "d"]
    counter.close()
    assert client.send_command == orig


def test_stream_metrics_sum_batches_of_every_run():
    runs = [
        StreamRecord("r1", [
            {"batch_id": 0, "input_rows": 10, "state_rows": 3,
             "duration_ms": {"triggerExecution": 100, "addBatch": 60}},
            {"batch_id": 1, "input_rows": 5, "state_rows": 4,
             "duration_ms": {"triggerExecution": 50, "addBatch": 20}},
        ]),
        StreamRecord("r2", []),
    ]
    m = _stream_metrics(runs)
    assert m["batches"] == 2
    assert m["batch_trigger_ms"] == [100, 50]
    assert m["add_batch_ms"] == 80.0
    assert m["batch_overhead_ms"] == 70.0
    assert m["stream_input_rows"] == 15
    assert m["state_rows"] == 7
