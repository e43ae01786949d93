from __future__ import annotations

import pytest

import tamer_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = tamer_spark.get_spark("tamer-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


class CacheWatch:
    """What the shared session holds cached, taken when made; ``added()``
    names what was cached since and is still held.

    It reads both the persisted RDDs and the CacheManager's entries:
    ``persist()`` makes an entry at once but an RDD only when an action
    fills it, so a frame marked for caching whose pass never ran shows only
    in the entries. Other tests' frames are released by GC finalizers at
    any time, so only growth counts."""

    def __init__(self, spark):
        self.spark = spark
        self.rdds, self.entries = self._held()

    def _held(self) -> tuple[set[int], int]:
        rdds = self.spark.sparkContext._jsc.sc().getPersistentRDDs()
        it = rdds.keysIterator()
        entries = self.spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
        return {it.next() for _ in range(rdds.size())}, entries

    def added(self) -> dict:
        rdds, entries = self._held()
        out = {}
        if rdds - self.rdds:
            out["rdd_ids"] = sorted(rdds - self.rdds)
        if entries > self.entries:
            out["cache_entries"] = entries - self.entries
        return out


#: the four steps of a state commit, in order: a crash at one of the first
#: three leaves the previous doc, a crash at the last the new one
COMMIT_STEPS = ("tmp_write", "tmp_fsync", "replace", "dir_fsync")


class Crash(BaseException):
    """An injected process death. Not an ``Exception``, so no retry or
    failure handler of the code under test takes it for a failed step."""


def crash_commit(monkeypatch, step: str, at: int = 1) -> None:
    """Make the ``at``-th state commit from now on die at ``step``, leaving
    what a crash there leaves: half a ``.tmp`` at "tmp_write", a whole but
    unsynced ``.tmp`` at "tmp_fsync", the ``.tmp`` not yet renamed at
    "replace", the rename done but the directory unsynced at "dir_fsync".
    Later commits run normally."""
    import os

    import tamer_spark.state as state_mod

    assert step in COMMIT_STEPS, step
    commits = fsyncs = 0
    real_open = open

    class Torn:
        """A ``.tmp`` whose write dies halfway."""

        def __init__(self, f):
            self.f = f

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

        def write(self, s):
            self.f.write(s[: len(s) // 2])
            self.f.flush()
            raise Crash("injected crash in the tmp_write")

    def open_(path, mode="r", **kw):
        nonlocal commits, fsyncs
        f = real_open(path, mode, **kw)
        if "w" not in mode:
            return f
        commits, fsyncs = commits + 1, 0
        return Torn(f) if step == "tmp_write" and commits == at else f

    class CrashingOs:
        """``os`` as the state module sees it."""

        def __getattr__(self, name):
            return getattr(os, name)

        def fsync(self, fd):
            nonlocal fsyncs
            fsyncs += 1  # a commit syncs the tmp file, then the directory
            if commits == at and (step, fsyncs) in (("tmp_fsync", 1), ("dir_fsync", 2)):
                raise Crash(f"injected crash in the {step}")
            os.fsync(fd)

        def replace(self, src, dst):
            if step == "replace" and commits == at:
                raise Crash("injected crash in the replace")
            os.replace(src, dst)

    monkeypatch.setattr(state_mod, "open", open_, raising=False)
    monkeypatch.setattr(state_mod, "os", CrashingOs())
