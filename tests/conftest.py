from __future__ import annotations

import os
import sys

import pytest

# the checkout this conftest belongs to, ahead of any installed copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spartan2_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def block_store(spark, tmp_path_factory):
    """A small three-day store built by ``run_pipeline``; returns the
    path of its ``blocks_1h`` table (partitioned by ``dt``)."""
    from spartan2_spark.datagen import synth_pages
    from spartan2_spark.plans.pipeline import run_pipeline

    root = str(tmp_path_factory.mktemp("block_store"))
    run_pipeline(spark, synth_pages(spark, 2000, n_urls=12, days=3), root)
    return os.path.join(root, "blocks_1h")
