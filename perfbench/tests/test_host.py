"""Exit cleanup kills only the processes the harness saw, not a later
process that reuses one of their pid numbers."""

import subprocess

from perfbench import host


def test_reap_leaves_a_reused_pid_alone_and_kills_a_seen_one(monkeypatch):
    monkeypatch.setattr(host, "REAP_TIMEOUT_S", 0.2)
    proc = subprocess.Popen(["sleep", "30"])
    try:
        started = host.start_time(proc.pid)
        assert started is not None
        # a different start time: the pid now names another process
        assert host.reap({proc.pid: started + 1}) == []
        assert proc.poll() is None
        assert host.reap({proc.pid: started}) == [proc.pid]
        assert proc.wait(timeout=5) == -9
    finally:
        proc.kill()
        proc.wait()
