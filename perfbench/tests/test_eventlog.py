"""The event-log stage parser on a hand-written log."""

import json

from perfbench.eventlog import combine, parse


def _job(jid, desc, stages, start):
    props = {"spark.job.description": desc} if desc else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
            "Stage IDs": stages, "Properties": props}


def _task(stage, launch, finish, cpu_ns=0, gc_ms=0, shuffle=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Deserialize CPU Time": 0,
            "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}


def test_parse_sums_tasks_and_jobs_per_description(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        _job(0, "lsh", [0, 1], 1000),
        _task(0, 1000, 1500, cpu_ns=200_000_000, shuffle=2**20),
        _task(1, 1500, 2500, gc_ms=100),
        _end(0, 2600),
        # overlaps job 0: busy time is the union, not the sum
        _job(1, "lsh", [2], 2000),
        _task(2, 2000, 3000, spill=512),
        _end(1, 3000),
        _job(2, None, [3], 4000),
        _task(3, 4000, 4100),
        _end(2, 4200),
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    per = parse(str(path))
    lsh = per["lsh"]
    assert (lsh.jobs, lsh.tasks) == (2, 3)
    assert abs(lsh.task_s - 2.5) < 1e-9
    assert abs(lsh.cpu_s - 0.2) < 1e-9
    assert abs(lsh.gc_s - 0.1) < 1e-9
    assert lsh.shuffle_write_bytes == 2**20 and lsh.spill_bytes == 512
    assert abs(lsh.busy_s - 2.0) < 1e-9  # [1.0, 3.0] s
    assert per[None].jobs == 1 and abs(per[None].busy_s - 0.2) < 1e-9

    both = combine(per, ["lsh", None, "absent"])
    assert both.jobs == 3 and both.tasks == 4
    assert abs(both.busy_s - 2.2) < 1e-9
