from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from filemap_spark import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("filemap-tests", master="local[8]")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("FILEMAP_TEST_SF_DIR", SF_SMALL)


class StateCrash(Exception):
    """A simulated process death at one boundary of a state commit."""


@pytest.fixture
def state_crash(monkeypatch):
    """Arm ONE crash at a boundary of the next state commit
    (filemap_spark/state.py):

    - "before_rename": the commit moved its files into their tables, and
      dies before its manifest rename;
    - "before_delete": the manifest rename committed, and the commit dies
      before deleting the files it dropped;
    - "after_commit": the commit completed, and its caller dies before
      returning (a foreachBatch sink before Spark logs the batch).
    """
    from filemap_spark import state

    def arm(boundary: str) -> None:
        name = "commit" if boundary == "after_commit" else "_write"
        real = getattr(state.Transaction, name)

        def die(txn, *args):
            # only the commit that moves files in: an open that writes a
            # new root's manifest is not it
            if name == "_write" and not getattr(txn, "_moves", None):
                return real(txn, *args)
            monkeypatch.setattr(state.Transaction, name, real)
            if boundary != "before_rename":
                real(txn, *args)
            raise StateCrash(boundary)

        monkeypatch.setattr(state.Transaction, name, die)

    return arm
