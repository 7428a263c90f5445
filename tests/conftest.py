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
