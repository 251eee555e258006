"""The k8s SparkApplication manifests against the job CLIs they launch.

Each ``k8s/spark/*.yaml`` names a job module (``mainApplicationFile``)
and the argument list it passes. This test calls that module's ``main``
with exactly those arguments, with ``get_spark`` replaced by a function
that raises a sentinel: the sentinel coming out proves argparse accepted
every argument, and no Spark session starts. A manifest that still
passes an option its job no longer defines fails here (argparse exits).
"""

from __future__ import annotations

import glob
import importlib
import os

import pytest
import yaml

import flink_tank_spark.session

K8S_SPARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "k8s", "spark")
MANIFESTS = sorted(glob.glob(os.path.join(K8S_SPARK, "*.yaml")))


class SessionRequested(Exception):
    pass


def _no_session(*args, **kwargs):
    raise SessionRequested


def test_manifests_found():
    assert MANIFESTS, f"no SparkApplication manifests under {K8S_SPARK}"


@pytest.mark.parametrize("path", MANIFESTS, ids=os.path.basename)
def test_manifest_arguments_parse(path, monkeypatch):
    with open(path) as f:
        app = yaml.safe_load(f)
    assert app["kind"] == "SparkApplication"
    main_file = app["spec"]["mainApplicationFile"]
    rel = main_file[main_file.index("flink_tank_spark/"):]
    module = importlib.import_module(rel.removesuffix(".py").replace("/", "."))

    # jobs that import get_spark at module level hold their own binding;
    # curation_job imports it inside main, from the session module
    monkeypatch.setattr(flink_tank_spark.session, "get_spark", _no_session)
    if hasattr(module, "get_spark"):
        monkeypatch.setattr(module, "get_spark", _no_session)

    with pytest.raises(SessionRequested):
        module.main([str(a) for a in app["spec"]["arguments"]])


class _RecordingReader:
    """A ``spark.readStream`` stand-in that records its options."""

    def __init__(self):
        self.options: dict[str, str] = {}

    def format(self, source):
        self.source = source
        return self

    def option(self, key, value):
        self.options[key] = value
        return self

    def load(self):
        return self

    def selectExpr(self, *exprs):
        return self


def test_event_processor_caps_kafka_batches(monkeypatch):
    """Job 1's Kafka read carries maxOffsetsPerTrigger, so a fresh
    checkpoint's first batch is not the whole retained topic."""
    from flink_tank_spark.jobs import event_processor

    reader = _RecordingReader()

    class _Spark:
        readStream = reader

    monkeypatch.setattr(event_processor, "get_spark", lambda *a, **k: _Spark())

    def _no_query(*args, **kwargs):
        raise SessionRequested

    monkeypatch.setattr(event_processor, "start_processor_query", _no_query)
    with pytest.raises(SessionRequested):
        event_processor.main(["--checkpoint-dir", "/unused"])
    assert reader.source == "kafka"
    assert reader.options["maxOffsetsPerTrigger"] == str(event_processor.MAX_OFFSETS_PER_TRIGGER)
