"""Fixtures for the benchmark's own tests.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import feeds as G  # noqa: E402

SMALL = G.FeedSpec(history_days=6, new_days=4, devices=200, events_per_day=600)


@pytest.fixture(scope="session")
def small_stage(tmp_path_factory):
    """A small seeded feed with every day landed."""
    stage = str(tmp_path_factory.mktemp("stage"))
    feeds = G.generate(5, SMALL)
    G.land(feeds, stage, feeds.all_days())
    G.land_geo(feeds, stage)
    return feeds, stage


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import env

    work = str(tmp_path_factory.mktemp("spark"))
    env.bootstrap(work)
    session = env.start_spark(work, cpus=2)
    yield session
    env.shutdown(session)
