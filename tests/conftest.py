from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

from lexam_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def _marker_line(config) -> str:
    expr = config.getoption("markexpr")
    return f"marker expression: -m {expr!r}" + ("" if expr else " (no tests deselected by marker)")


def pytest_report_header(config):
    """State the active ``-m`` marker expression, so every run's output
    says which marked tests it deselected (pytest.ini defaults to
    ``not slowsuite``; ``-m ""`` runs everything)."""
    return _marker_line(config)


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    # ``-q`` hides the header; repeat the line under the summary instead
    if config.getoption("verbose") < 0:
        terminalreporter.write_line(_marker_line(config))


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="lexam-tests", master="local[4]", shuffle_partitions=4,
                      extra_conf={"spark.ui.enabled": "false",
                                  # bucketed-table tests need a catalog
                                  # warehouse; keep it out of the repo
                                  "spark.sql.warehouse.dir": "/tmp/lexam-test-warehouse"})
    yield spark


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


class MemoryStateStore:
    """In-memory named-table state store for the streaming maintainers
    (state contract: ``streaming/state.py``).  ``write`` materializes the
    frame's rows and captures its schema, so a later ``read`` never
    touches the plan that produced them.  It lives here, not in the
    engine: the engine builds no frame with ``createDataFrame``
    (tests/test_local_rows.py)."""

    def __init__(self, spark):
        self.spark, self.rows, self.schemas = spark, {}, {}

    def read(self, name: str):
        if name not in self.rows:
            return None
        return self.spark.createDataFrame(self.rows[name], self.schemas[name])

    def write(self, name: str, df) -> None:
        self.rows[name], self.schemas[name] = df.collect(), df.schema

    def state(self, tables) -> dict:
        return {t: self.read(t) for t in tables}


@pytest.fixture
def state_store(spark):
    """Factory of fresh :class:`MemoryStateStore` instances."""
    return lambda: MemoryStateStore(spark)
