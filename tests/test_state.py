"""State-store semantics: init/resume/fingerprint-fork (reference
Tamer.scala:108-148 startup decision table)."""

from __future__ import annotations

import pytest

from tamer_spark.errors import StateForkError
from tamer_spark.state import StateDoc, StateStore, fingerprint
from tests.conftest import COMMIT_STEPS, Crash, crash_commit


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


def test_state_json_bytes_are_pinned(tmp_path):
    """The committed bytes are the ones earlier releases wrote (sorted
    keys, default separators), so either side reads the other's doc."""
    st = StateStore(str(tmp_path / "cp"), "fp", "g")
    st._commit(StateDoc("fp", "g", 3, {"window": ["2020-01-01", "2020-01-06"], "n": 1.5, "u": "é"}, 123.0))
    assert (tmp_path / "cp" / "state.json").read_bytes() == (
        b'{"epoch": 3, "fingerprint": "fp", "group_id": "g", "state": {"n": 1.5, '
        b'"u": "\\u00e9", "window": ["2020-01-01", "2020-01-06"]}, "updated_at": 123.0}'
    )


def test_fifty_commits_leave_only_state_json(tmp_path):
    """The checkpoint keeps the latest doc and nothing else: no trail of
    superseded docs, no leftover tmp file."""
    st = StateStore(str(tmp_path / "cp"), "fp1")
    st.initialize(0)
    for i in range(1, 51):
        st.commit(i, i)
    assert [p.name for p in (tmp_path / "cp").iterdir()] == ["state.json"]
    assert st.load().epoch == 50


def test_checkpoint_with_a_history_dir_resumes(tmp_path):
    """A checkpoint written while superseded docs were still kept (a
    ``history/`` dir beside ``state.json``) resumes at its committed epoch;
    commits leave that dir as it was."""
    cp = tmp_path / "cp"
    (cp / "history").mkdir(parents=True)
    old = {
        "history/state-0-1700000000000000000.json": b'{"epoch": 0, "fingerprint": "fp1", "group_id": "default", "state": 0, "updated_at": 1700000000.0}',
        "history/state-1-1700000000000000001.json": b'{"epoch": 1, "fingerprint": "fp1", "group_id": "default", "state": {"cursor": 10}, "updated_at": 1700000000.5}',
    }
    for name, data in old.items():
        (cp / name).write_bytes(data)
    (cp / "state.json").write_bytes(
        b'{"epoch": 2, "fingerprint": "fp1", "group_id": "default", "state": {"cursor": 20}, "updated_at": 1700000001.0}'
    )
    st = StateStore(str(cp), "fp1")
    assert st.load() == StateDoc("fp1", "default", 2, {"cursor": 20}, 1700000001.0)
    assert st.initialize({"cursor": 0}).epoch == 2
    st.commit(3, {"cursor": 30})
    assert (st.load().epoch, st.load().state) == (3, {"cursor": 30})
    assert {n: (cp / n).read_bytes() for n in old} == old
    assert sorted(p.name for p in (cp / "history").iterdir()) == sorted(n.split("/")[1] for n in old)


@pytest.mark.parametrize("step", COMMIT_STEPS)
def test_crash_at_each_commit_step_leaves_a_whole_doc(tmp_path, monkeypatch, step):
    """A crash at any step of a commit leaves load() returning the previous
    doc before the replace and the new doc after it, never None (which
    would silently re-initialize at epoch 0). The next commit succeeds
    over whatever tmp file the crash left."""
    st = StateStore(str(tmp_path / "cp"), "fp1")
    st.initialize(0)
    st.commit(1, {"cursor": 10})
    crash_commit(monkeypatch, step)
    with pytest.raises(Crash):
        st.commit(2, {"cursor": 20})
    monkeypatch.undo()
    want = (2, {"cursor": 20}) if step == "dir_fsync" else (1, {"cursor": 10})
    doc = StateStore(str(tmp_path / "cp"), "fp1").load()
    assert doc is not None and (doc.epoch, doc.state) == want
    assert (tmp_path / "cp" / "state.json.tmp").exists() == (step != "dir_fsync")
    st.commit(3, {"cursor": 30})
    assert (st.load().epoch, st.load().state) == (3, {"cursor": 30})
    assert [p.name for p in (tmp_path / "cp").iterdir()] == ["state.json"]
