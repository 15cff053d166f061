from __future__ import annotations

import os

import pandas as pd
import pytest

from wtq.generate import ensure_pages
from wtq.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_01 = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("wtq-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_path() -> str:
    return ensure_pages(SF_SMOKE)


@pytest.fixture(scope="session")
def pages_pdf(pages_path) -> pd.DataFrame:
    return pd.read_parquet(pages_path)


@pytest.fixture(scope="session")
def sf01_pages_pdf() -> pd.DataFrame:
    return pd.read_parquet(ensure_pages(SF_01))
