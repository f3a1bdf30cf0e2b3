"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CHECK = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ssg_etl_spark.session import get_spark

    spark = get_spark("ssg-etl-tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


class InjectedCrash(Exception):
    """Raised by ``crash_once`` in place of the call it intercepts."""


def _commit_crashes() -> dict:
    import shutil

    from ssg_etl_spark.sources import sinks

    return {
        # stage written, record not
        "staged": (sinks, "replace_file", lambda p, _: p.endswith("_record.json")),
        # record written, swap not begun
        "recorded": (sinks, "_swap", lambda _: True),
        # target renamed aside, stage not yet renamed in
        "mid_swap": (os, "rename", lambda src, _: str(src).endswith("__staging")),
        # stage renamed in, aside copy not yet removed
        "swapped": (shutil, "rmtree", lambda p, *_: str(p).endswith("__old")),
    }


# The crash points of the directory commit (sources/sinks.commit_directory),
# each as the call that dies: (owner, attribute, which calls).
COMMIT_CRASHES = _commit_crashes()


@pytest.fixture
def crash_once(monkeypatch):
    """``crash_once(owner, name, when)``: the next call of ``owner.name``
    whose positional arguments satisfy ``when`` raises ``InjectedCrash``
    instead of running; later calls run normally."""

    def arm(owner, name, when):
        real = getattr(owner, name)

        def hook(*args, **kwargs):
            if when(*args):
                monkeypatch.setattr(owner, name, real)
                raise InjectedCrash(name)
            return real(*args, **kwargs)

        monkeypatch.setattr(owner, name, hook)

    return arm
