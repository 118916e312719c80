"""The spark.local.dir scratch resolver (session._scratch_local_dir).

Pure-python: the conf itself is static (JVM-start-time), so the shared test
session can't exercise it end-to-end — these pin the resolution contract the
bench/driver sessions rely on (round-14: shuffle-file creation latency on the
default tempdir measured 27x the RAM fs on the bench host; guide §6).
"""

import os

from flink_notebooks_spark.session import _scratch_local_dir


def test_env_knob_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    d = _scratch_local_dir()
    assert d is not None and d.startswith(str(tmp_path))
    assert os.path.isdir(d)


def test_env_knob_bypasses_free_space_floor(tmp_path, monkeypatch):
    # an explicit operator choice is honored even where the default would
    # have declined (e.g. a deliberately small scratch volume)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    d = _scratch_local_dir(min_free_bytes=1 << 60)
    assert d is not None and d.startswith(str(tmp_path))


def test_default_declines_when_free_space_insufficient(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    assert _scratch_local_dir(min_free_bytes=1 << 60) is None


def test_default_resolves_to_writable_dir(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    d = _scratch_local_dir(min_free_bytes=1)
    if d is None:  # no writable /dev/shm on this host — Spark default stands
        assert not os.access("/dev/shm", os.W_OK)
    else:
        assert d.startswith("/dev/shm/") and os.access(d, os.W_OK)


def test_empty_env_value_means_unset(monkeypatch):
    # ADVICE r14: "" used to make mkdtemp(dir="") create scratch in CWD
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "   ")
    d = _scratch_local_dir(min_free_bytes=1 << 60)
    # with an impossible floor the default path declines → None, never CWD
    assert d is None or d.startswith("/dev/shm/")


def test_none_value_opts_out_of_ram_fs(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "none")
    assert _scratch_local_dir(min_free_bytes=1) is None
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "DEFAULT")
    assert _scratch_local_dir(min_free_bytes=1) is None


def test_env_knob_creates_missing_dir(tmp_path, monkeypatch):
    target = tmp_path / "not" / "yet" / "there"
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(target))
    d = _scratch_local_dir()
    assert d is not None and d.startswith(str(target))


def test_env_knob_unusable_path_names_the_env_var(monkeypatch):
    import pytest

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/proc/definitely/not/writable")
    with pytest.raises(OSError, match="SPARK_GRAFT_LOCAL_DIR"):
        _scratch_local_dir()


def test_stale_scratch_of_dead_pid_is_swept(tmp_path, monkeypatch):
    # a dir named for a pid that cannot exist is reclaimed on next resolve
    stale = tmp_path / "fns-spark-local-4194999-abc"
    stale.mkdir()
    live = tmp_path / "fns-spark-local-nonnumeric"  # pre-r15 layout: kept
    live.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    d = _scratch_local_dir()
    assert d is not None
    assert not stale.exists()
    assert live.exists()


def test_ram_headroom_margin_scales_with_phys_ram(monkeypatch):
    import flink_notebooks_spark.session as sess

    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    # pretend the host has absurdly large RAM: 1/8 of it can never be free
    monkeypatch.setattr(sess, "_phys_ram_bytes", lambda: 1 << 62)
    assert sess._scratch_local_dir(min_free_bytes=1) is None


def test_rocksdb_provider_end_to_end_parity(spark, sf_dir, monkeypatch):
    """The opt-in provider must not change any result: run a stateful
    streaming replay under RocksDB and compare to the same query under the
    default provider (conf is captured at query start, so scoping the
    session conf around the build is enough)."""
    from flink_notebooks_spark.queries import QUERIES

    rocksdb_confs = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
            "true"
        ),
    }
    name = "streaming_dedup_keys"
    base = QUERIES[name](spark, sf_dir).collect()
    prev = {}
    for k, v in rocksdb_confs.items():
        prev[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        rocks = QUERIES[name](spark, sf_dir).collect()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert rocks == base
