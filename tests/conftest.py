from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this file lives in, so a copy of the repo tests its own package
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.session import build_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = build_session("cdcagg-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
