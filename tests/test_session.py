"""Session helpers: fast_planning's conf scoping under overlapping
entrants, and env knobs that fall back on malformed values."""

from types import SimpleNamespace

from fhc_rco_etl_scalable_spark import session as S

KEY = "spark.sql.constraintPropagation.enabled"


def test_fast_planning_overlapping_scopes_restore_once(spark):
    # Two site threads on one session: A enters, B enters, A exits,
    # B exits. B's scope must still run with the conf off after A
    # leaves, and the session must end where it started.
    df = spark.range(1)
    start = spark.conf.get(KEY, None)
    a, b = S.fast_planning(df), S.fast_planning(df)
    a.__enter__()
    b.__enter__()
    assert spark.conf.get(KEY, None) == "false"
    a.__exit__(None, None, None)
    assert spark.conf.get(KEY, None) == "false"
    b.__exit__(None, None, None)
    assert spark.conf.get(KEY, None) == start


def test_fast_planning_threads_never_see_conf_restored_early(spark):
    # More threads than cores enter and leave overlapping scopes on one
    # session; inside any scope the conf must read "false", and the
    # session must end where it started.
    import sys
    import threading

    df = spark.range(1)
    start = spark.conf.get(KEY, None)
    bad = []

    def worker():
        for _ in range(10):
            with S.fast_planning(df):
                if spark.conf.get(KEY, None) != "false":
                    bad.append(1)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not bad
    assert spark.conf.get(KEY, None) == start


class _Builder:
    """Stands in for SparkSession.builder: records master and configs."""

    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda _: None), conf=self.conf
        )


def test_malformed_shuffle_env_falls_back(monkeypatch):
    monkeypatch.setattr(S, "SparkSession", SimpleNamespace(builder=_Builder()))
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "2MiB")
    assert S.get_spark().conf["spark.sql.shuffle.partitions"] == "32"
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "12")
    assert S.get_spark().conf["spark.sql.shuffle.partitions"] == "12"


def test_malformed_cpus_env_falls_back(monkeypatch):
    monkeypatch.setattr(S, "SparkSession", SimpleNamespace(builder=_Builder()))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert S.get_spark().conf["master"] == "local[*]"
    for bad in ("4x", "0", "-2"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        assert S.get_spark().conf["master"] == "local[*]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert S.get_spark().conf["master"] == "local[3]"


def test_malformed_driver_mem_env_falls_back(monkeypatch):
    monkeypatch.setattr(S, "SparkSession", SimpleNamespace(builder=_Builder()))
    default = S._default_driver_mem()
    for bad in ("4 GiB", "lots", "g", ""):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", bad)
        assert S.get_spark().conf["spark.driver.memory"] == default
    for good in ("512m", "3g", "2gb", "1048576"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", good)
        assert S.get_spark().conf["spark.driver.memory"] == good


def test_release_checkpoint_drops_the_rdd(spark):
    # DataFrame.unpersist leaves a localCheckpoint RDD registered;
    # release_checkpoint must drop it, eager or lazy, while a frame cut
    # from it afterwards still collects
    import pytest

    jsc = spark.sparkContext._jsc
    for eager in (True, False):
        base = spark.range(40).localCheckpoint(eager=eager)
        base_id = base._jdf.queryExecution().logical().rdd().id()
        later = base.filter("id % 4 = 0").localCheckpoint()
        assert base_id in set(jsc.getPersistentRDDs().keySet())
        S.release_checkpoint(base)
        assert base_id not in set(jsc.getPersistentRDDs().keySet())
        assert sorted(r.id for r in later.collect()) == list(range(0, 40, 4))
        with pytest.raises(TypeError, match="localCheckpoint"):
            S.release_checkpoint(later.select("id"))
        S.release_checkpoint(later)
