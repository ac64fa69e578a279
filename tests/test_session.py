"""build_session defaults, checked against a recording builder (no Spark)."""

from __future__ import annotations

from pyspark.sql import SparkSession

from config_driven_pyspark_spark import session as session_mod

DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"


class _RecordingBuilder:
    def __init__(self):
        self.confs: dict[str, str] = {}

    def appName(self, name):
        self.app_name = name
        return self

    def master(self, master):
        self.master_url = master
        return self

    def config(self, key, value):
        self.confs[key] = value
        return self

    def getOrCreate(self):
        return self


def _build(monkeypatch, **kwargs):
    recorder = _RecordingBuilder()
    monkeypatch.setattr(SparkSession, "builder", recorder)
    assert session_mod.build_session(**kwargs) is recorder
    return recorder


def test_call_site_capture_off_by_default(monkeypatch):
    recorder = _build(monkeypatch)
    assert recorder.confs[DEBUG_CONF] == "false"
    assert recorder.confs["spark.sql.adaptive.enabled"] == "true"


def test_user_confs_override_defaults(monkeypatch):
    recorder = _build(
        monkeypatch, master="local[2]", shuffle_partitions=3,
        confs={DEBUG_CONF: "true"},
    )
    assert recorder.confs[DEBUG_CONF] == "true"
    assert recorder.confs["spark.sql.shuffle.partitions"] == "3"
    assert recorder.master_url == "local[2]"
