"""Session sizing: the default master follows the host, not a constant."""

from __future__ import annotations

import os

from mrs_mapreduce_spark import session


def test_default_cpus_follow_host_affinity(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the master and the shuffle width are
    the cores this process may run on; the env var still wins."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session._session_cpus() == "3"
    assert session._default_shuffle_partitions("3") == "3"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert session._session_cpus() == "5"
