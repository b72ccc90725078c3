from __future__ import annotations

import os
import uuid

import pytest
from hypothesis import settings as _hyp_settings
from hypothesis.database import (
    DirectoryBasedExampleDatabase,
    MultiplexedDatabase,
    ReadOnlyDatabase,
)

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # lighter session for unit tests

# Cross-engine parity properties replay a COMMITTED example database
# (tests/hypothesis_examples) so a counterexample found once — like the
# r11 Welford 1-ulp divergence — fails every subsequent run on every
# machine, not just the host whose database caught it. That set is read
# only: new failing examples go to the gitignored .hypothesis/examples,
# so a run whose Spark JVM died cannot record its infrastructure errors
# as counterexamples in the committed set. Promoting a real
# counterexample is a deliberate copy of its entry into
# tests/hypothesis_examples/.
# Profiles: `default` for regular CI; `nightly` (HYPOTHESIS_PROFILE=
# nightly) widens the search to 500 examples per property — the r10/r11
# lesson that 40 random draws per run finds knife-edge bugs one round
# late. derandomize stays False in both: fresh sampling is the point.
_TESTS = os.path.dirname(__file__)
_HYP_DB = MultiplexedDatabase(
    ReadOnlyDatabase(DirectoryBasedExampleDatabase(os.path.join(_TESTS, "hypothesis_examples"))),
    DirectoryBasedExampleDatabase(os.path.join(_TESTS, os.pardir, ".hypothesis", "examples")),
)
_hyp_settings.register_profile(
    "default", database=_HYP_DB, derandomize=False, max_examples=100
)
_hyp_settings.register_profile(
    "nightly", database=_HYP_DB, derandomize=False, max_examples=500
)
_hyp_settings.load_profile(os.environ.get("HYPOTHESIS_PROFILE", "default"))


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "scaling: hour-scale sf0.1->sf1 sweep gate — regenerates the sf1 "
        "fixture and fails if any witness exponent regresses past its pin "
        "(tools/run_scaling.PINNED_EXPONENTS). Run explicitly with "
        "`pytest -m scaling`; skipped otherwise.",
    )


def pytest_collection_modifyitems(config, items):
    # The scaling gate takes ~an hour (fixture build + 20-witness sweep,
    # fresh session per witness) — it must never run inside the default
    # `pytest tests/` gate, only when selected by marker.
    markexpr = config.getoption("-m", default="") or ""
    if "scaling" in markexpr:
        return
    skip = pytest.mark.skip(reason="run with `pytest -m scaling` (hour-scale)")
    for item in items:
        if "scaling" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from habits_etl_spark.session import get_spark

    s = get_spark("habits_etl_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture()
def jobs_run_by(spark):
    """``jobs_run_by(fn)``: the ids of the Spark jobs that ``fn()`` runs,
    read after the listener bus has drained (the status store is fed
    asynchronously)."""
    sc = spark.sparkContext

    def run(fn) -> list[int]:
        label = f"jobs_run_by:{uuid.uuid4().hex}"
        sc.setJobGroup(label, label)
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(label))

    return run
