import os

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def jobs():
    with open(FIXTURE) as f:
        return {j.job_id: j for j in eventlog.parse(f)}


def test_jobs_carry_their_op_tag():
    js = jobs()
    assert [js[i].op for i in range(4)] == [None, "7", "7", "8"]
    assert (js[1].submit_ms, js[1].end_ms) == (3000, 3200)


def test_task_metrics_sum_per_job():
    j = jobs()[1]
    assert j.tasks == 3
    assert j.executor_cpu_ns == 140_000_000
    assert j.executor_run_ms == 260
    assert j.gc_ms == 5
    assert j.shuffle_write_bytes == 1500
    assert j.shuffle_read_bytes == 1500


def test_reused_stage_is_not_counted_twice():
    # job 2 lists stage 1 (already run by job 1: skipped) and runs stage 3
    j = jobs()[2]
    assert j.tasks == 1 and j.executor_run_ms == 80


def test_job_result():
    js = jobs()
    assert js[1].ok and not js[3].ok and js[3].tasks == 0


def test_event_log_file_skips_unfinished(tmp_path):
    (tmp_path / "local-1.inprogress").write_text("")
    (tmp_path / "local-2").write_text("")
    assert eventlog.event_log_file(str(tmp_path)).endswith("local-2")
