"""get_spark's defaults, checked on a recording builder (no JVM)."""

import os

from cross_modal_multivector_search_spark import session


class _Recorder:
    def __init__(self):
        self.master_url, self.conf = None, {}

    def master(self, url):
        self.master_url = url
        return self

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


def test_cpu_default_follows_affinity(monkeypatch):
    """Without SPARK_GRAFT_CPUS the session sizes itself to the CPUs the
    process may run on: master local[n] and n shuffle partitions."""
    rec = _Recorder()
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.SparkSession, "builder", rec)
    out = session.get_spark()
    n = len(os.sched_getaffinity(0))
    assert out.master_url == f"local[{n}]"
    assert out.conf["spark.sql.shuffle.partitions"] == str(n)
