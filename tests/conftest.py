from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from similarity_analysis_big_data_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_session(
        app_name="sabds-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
    )
    yield spark


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


@pytest.fixture
def flagship_on(spark):
    """``flagship_on(sf_dir, verdict)``: ``title_best_abstract`` with its
    strategy memo for ``sf_dir`` seeded to ``"dense"`` or ``"sparse"``. A
    memoized verdict takes exactly that strategy's path, as every repeat
    call does in production; the memo entry is restored afterwards."""
    from similarity_analysis_big_data_spark.plans import similarity as S

    def run(sf_dir: str, verdict: str):
        key = (spark.sparkContext.applicationId, sf_dir)
        prior = S._AUTO_STRATEGY_CACHE.pop(key, None)
        S._AUTO_STRATEGY_CACHE[key] = verdict
        try:
            return S.title_best_abstract(spark, sf_dir)
        finally:
            S._AUTO_STRATEGY_CACHE.pop(key, None)
            if prior is not None:
                S._AUTO_STRATEGY_CACHE[key] = prior

    return run
