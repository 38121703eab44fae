from perfbench.fold import fold_jobs, fold_progress, group_jobs, union_seconds


def _stage(cpu_s, tasks=1, shuffle=0):
    return {"tasks": tasks, "run_s": 2 * cpu_s, "cpu_s": cpu_s, "gc_s": 0.0,
            "shuffle_bytes": shuffle, "spill_bytes": 0}


def test_union_seconds_merges_overlaps():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_seconds([(5, 6), (0, 10)]) == 10.0


def test_fold_jobs_counts_shared_stages_once():
    jobs = [
        {"job_id": 1, "group": "a", "stage_ids": [1, 2], "start_s": 0.0, "end_s": 2.0},
        {"job_id": 2, "group": "a", "stage_ids": [2, 3], "start_s": 1.0, "end_s": 4.0},
    ]
    stages = {1: _stage(1.0, 4, 100), 2: _stage(2.0, 2), 3: _stage(0.5)}
    f = fold_jobs(jobs, stages)
    assert f["jobs"] == 2
    assert f["cpu_s"] == 3.5
    assert f["tasks"] == 7
    assert f["shuffle_bytes"] == 100
    assert f["busy_s"] == 4.0


def test_fold_jobs_skips_unsubmitted_stages_and_running_jobs():
    jobs = [{"job_id": 1, "group": "", "stage_ids": [7, 8], "start_s": 0.0, "end_s": None}]
    f = fold_jobs(jobs, {7: _stage(1.0)})
    assert f["cpu_s"] == 1.0 and f["busy_s"] == 0.0


def test_group_jobs_per_job_group():
    jobs = [{"group": "q:build"}, {"group": "q:execute"}, {"group": "q:build"}]
    groups = group_jobs(jobs)
    assert {k: len(v) for k, v in groups.items()} == {"q:build": 2, "q:execute": 1}


def test_fold_progress_splits_data_and_empty_batches():
    progress = [
        {"id": "a", "numInputRows": 10,
         "durationMs": {"addBatch": 300, "queryPlanning": 20, "walCommit": 5, "triggerExecution": 400},
         "stateOperators": [{"commitTimeMs": 7, "numRowsTotal": 3}]},
        {"id": "a", "numInputRows": 0,
         "durationMs": {"addBatch": 90, "queryPlanning": 10, "walCommit": 4, "triggerExecution": 120},
         "stateOperators": [{"commitTimeMs": 2, "numRowsTotal": 1}]},
        {"id": "b", "numInputRows": 5,
         "durationMs": {"addBatch": 50, "triggerExecution": 60}, "stateOperators": []},
    ]
    f = fold_progress(progress)
    assert f["batches"] == 3 and f["empty_batches"] == 1
    assert f["add_batch_ms"] == 350
    assert f["empty_batch_ms"] == 120
    assert f["query_planning_ms"] == 30 and f["wal_commit_ms"] == 9
    assert f["state_commit_ms"] == 9
    assert f["state_rows"] == 1  # each query's last state size
