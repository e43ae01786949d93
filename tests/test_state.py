"""State-store semantics: init/resume/fingerprint-fork (reference
Tamer.scala:108-148 startup decision table)."""

from __future__ import annotations

import pytest

from tamer_spark.errors import StateForkError
from tamer_spark.state import StateDoc, StateStore, fingerprint


def test_fingerprint_stable_and_sensitive():
    a = fingerprint("SELECT 1", {"from": "2020-01-01"})
    assert a == fingerprint("SELECT 1", {"from": "2020-01-01"})
    assert a != fingerprint("SELECT 2", {"from": "2020-01-01"})
    assert a != fingerprint("SELECT 1", {"from": "2020-01-02"})


def test_initialize_then_resume(tmp_path):
    st = StateStore(str(tmp_path / "cp"), "fp1")
    assert st.load() is None
    doc = st.initialize({"cursor": 0})
    assert (doc.epoch, doc.state) == (0, {"cursor": 0})
    # initialize is idempotent
    assert st.initialize({"cursor": 999}).state == {"cursor": 0}
    st.commit(1, {"cursor": 10})
    # a fresh store instance (process restart) resumes the committed state
    st2 = StateStore(str(tmp_path / "cp"), "fp1")
    doc2 = st2.load()
    assert (doc2.epoch, doc2.state) == (1, {"cursor": 10})


def test_foreign_fingerprint_is_hard_error(tmp_path):
    st = StateStore(str(tmp_path / "cp"), "fp1")
    st.initialize(0)
    other = StateStore(str(tmp_path / "cp"), "fp2")
    with pytest.raises(StateForkError):
        other.load()


def test_state_doc_roundtrip():
    doc = StateDoc("fp", "g", 3, {"window": ["2020-01-01", "2020-01-06"]}, 123.0)
    assert StateDoc.from_json(doc.to_json()) == doc


def test_rapid_commits_keep_every_superseded_doc(tmp_path):
    """Back-to-back commits land in the same millisecond; each superseded
    doc still gets its own history file (none overwritten)."""
    st = StateStore(str(tmp_path / "cp"), "fp1")
    st.initialize(0)
    n = 50
    for i in range(1, n + 1):
        st.commit(i, i)
    hist = tmp_path / "cp" / "history"
    epochs = sorted(StateDoc.from_json(p.read_text()).epoch for p in hist.iterdir())
    assert epochs == list(range(n))
    assert st.load().epoch == n


@pytest.mark.parametrize("step", ["link", "replace"], ids=["during_history", "after_history"])
def test_crash_at_any_commit_step_leaves_the_previous_doc(tmp_path, monkeypatch, step):
    """A crash inside the commit — while the current doc goes into history,
    or after it went there but before the replace — leaves load() returning
    the previous doc. None would silently re-initialize at epoch 0."""
    import tamer_spark.state as state_mod

    st = StateStore(str(tmp_path / "cp"), "fp1")
    st.initialize(0)
    st.commit(1, {"cursor": 10})
    real = getattr(state_mod.os, step)

    def crash(src, dst, *a, **kw):
        if step == "link" or dst == st.path:
            raise OSError(f"injected crash in os.{step}")
        return real(src, dst, *a, **kw)

    monkeypatch.setattr(state_mod.os, step, crash)
    if step == "link":  # the copy fallback is part of the same step
        monkeypatch.setattr(state_mod.shutil, "copy2", crash)
    with pytest.raises(OSError, match="injected crash"):
        st.commit(2, {"cursor": 20})
    monkeypatch.undo()
    doc = StateStore(str(tmp_path / "cp"), "fp1").load()
    assert doc is not None and (doc.epoch, doc.state) == (1, {"cursor": 10})
    # the next commit still succeeds over the leftover tmp file
    st.commit(2, {"cursor": 20})
    assert st.load().epoch == 2
