from __future__ import annotations

import pytest

from kafka_elasticsearch_standalone_consumer_spark.session import get_spark

# incremental.DRIVER_MAX_SEGMENT_BYTES per --segment-placement: just below
# an unknown size (Long.MAX_VALUE, or a plan that can multiply rows, still
# goes to the executors), or below zero (even an empty batch runs as Spark
# jobs)
SEGMENT_LIMITS = {"driver": 1 << 62, "executor": -1}
# engine.DRIVER_MAX_POSTINGS and engine.DRIVER_MAX_DOCS per
# --query-placement: the values the ``placements`` fixture forces
QUERY_LIMITS = {"driver": 1 << 62, "executor": 0}
QUERY_CONSTANTS = ("DRIVER_MAX_POSTINGS", "DRIVER_MAX_DOCS")
QUERY_DEFAULTS: dict = {}  # the engine's own values, before any override


def pytest_addoption(parser):
    parser.addoption(
        "--segment-placement",
        choices=sorted(SEGMENT_LIMITS),
        default=None,
        help="force the placement of every index build in the run (build_index, "
        "append_segment, compact, reindex, optimize) by setting "
        "incremental.DRIVER_MAX_SEGMENT_BYTES for the whole session",
    )
    parser.addoption(
        "--query-placement",
        choices=sorted(QUERY_LIMITS),
        default=None,
        help="force the placement of every search() / search_many() whose mask "
        "compiles on the driver by setting engine.DRIVER_MAX_POSTINGS and "
        "engine.DRIVER_MAX_DOCS for the whole session",
    )


def pytest_configure(config):
    placement = config.getoption("--segment-placement")
    if placement is not None:
        from kafka_elasticsearch_standalone_consumer_spark.pipeline import incremental

        incremental.DRIVER_MAX_SEGMENT_BYTES = SEGMENT_LIMITS[placement]
    placement = config.getoption("--query-placement")
    if placement is not None:
        from kafka_elasticsearch_standalone_consumer_spark.query import engine

        for name in QUERY_CONSTANTS:
            QUERY_DEFAULTS[name] = getattr(engine, name)
            setattr(engine, name, QUERY_LIMITS[placement])


@pytest.fixture(scope="session")
def spark():
    # Job-count assertions read statusTracker().getJobIdsForGroup(None),
    # which keeps spark.ui.retainedJobs ids (default 1000) and drops 100
    # at once past that: late in a session the count can fall while jobs
    # run. Retain every job of a test session so the count only grows.
    s = get_spark(
        app_name="kesc-tests", master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.ui.retainedJobs": str(1 << 20)},
    )
    yield s


@pytest.fixture(scope="session")
def transcripts(spark):
    """Small deterministic corpus (~1k turns) shared across tests."""
    from kafka_elasticsearch_standalone_consumer_spark.corpus import generate_transcripts

    df = generate_transcripts(spark, n_convs=100, seed=42, partitions=4)
    df.persist().count()
    return df


@pytest.fixture(scope="session")
def built_index(spark, transcripts, tmp_path_factory):
    """Index built once over the shared corpus; returns (Index, warehouse path)."""
    from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index
    from kafka_elasticsearch_standalone_consumer_spark.query.engine import Index

    path = str(tmp_path_factory.mktemp("warehouse") / "idx")
    # small shards so multi-shard paths are exercised at test scale
    build_index(spark, transcripts, path, docs_per_shard=256, n_buckets=8)
    return Index(spark, path), path


@pytest.fixture
def placements(monkeypatch):
    """Iterate the placements of search() / search_many(), each forced in
    turn: 'driver' lifts the posting-volume and doc-count thresholds out
    of reach, 'executor' sets them to 0 so every query takes the Spark
    job path.
    Identity tests loop over it so both paths stay compared with the
    serving kernel (the default threshold sends test-sized queries to the
    driver, where search() and search_local share the kernel)."""
    from kafka_elasticsearch_standalone_consumer_spark.query import engine

    def each():
        for placement, limit in QUERY_LIMITS.items():
            for name in QUERY_CONSTANTS:
                monkeypatch.setattr(engine, name, limit)
            yield placement
        monkeypatch.undo()

    return each


@pytest.fixture
def default_query_placement(monkeypatch):
    """The engine's own placement thresholds for one test, whatever
    --query-placement forced for the session: for tests that pin which
    queries the default rule sends to the driver."""
    from kafka_elasticsearch_standalone_consumer_spark.query import engine

    for name, value in QUERY_DEFAULTS.items():
        monkeypatch.setattr(engine, name, value)


@pytest.fixture
def segment_placements(monkeypatch):
    """Iterate the placements of the index build (build_index,
    append_segment and the merges), each forced in turn through
    ``SEGMENT_LIMITS``."""
    from kafka_elasticsearch_standalone_consumer_spark.pipeline import incremental

    def each():
        for name, limit in SEGMENT_LIMITS.items():
            monkeypatch.setattr(incremental, "DRIVER_MAX_SEGMENT_BYTES", limit)
            yield name
        monkeypatch.undo()

    return each
