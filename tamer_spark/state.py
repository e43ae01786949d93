"""Durable pipeline state — the Spark-side analog of tamer's compacted state topic.

The reference persists every state transition as a record in a compacted Kafka
topic keyed by ``StateKey(stateHash, groupId)`` (reference
core/src/main/scala/tamer/Tamer.scala:56,103), where ``stateHash`` is a
consistent hash of (query template, initial state)
(db/src/main/scala/tamer/db/DbSetup.scala:44-48, Hashable.scala:28-34). On
startup it decides Initialize / Resume / Fail ("Tamer is stuck") by comparing
committed offsets with the topic end (Tamer.scala:108-134).

Here the same contract is a checkpoint directory holding one JSON document::

    {fingerprint, group_id, epoch, state, updated_at}

committed in three steps: write and fsync ``state.json.tmp``,
``os.replace`` it over ``state.json``, fsync the directory. A crash before
the replace leaves the previous doc, a crash after it the new one, and
never no doc. Like the compacted topic, which keeps only the latest state
per key, the checkpoint keeps only the latest doc: recovery needs nothing
older (the D-Streams / Structured Streaming recovery model: the last
committed state plus a deterministic replay). Semantics preserved:

- fingerprint mismatch on resume → hard :class:`StateForkError` (never
  silently consume another pipeline's state),
- first run → initialize with the user's initial state (Tamer.scala:136-148),
- each successful epoch commits ``(epoch+1, new_state)`` exactly once; a
  crash between sink write and state commit replays the epoch, and sinks are
  required to be idempotent per epoch (see engine.py).

The fingerprint itself is sha256 over canonical JSON — stable across Python
versions and machines, unlike builtin ``hash()`` (the reference needs the
same property across JVM runs, Hashable.scala:30-33).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass
from hashlib import sha256
from typing import Any


def fingerprint(*parts: Any) -> str:
    """Stable hex fingerprint of pipeline identity.

    Mirrors ``Setup.stateKey = sql.hash + initialState.hash``
    (reference db/DbSetup.scala:44-48): feed it the query template / source
    descriptor and the initial state.
    """
    canon = json.dumps(parts, sort_keys=True, separators=(",", ":"), default=str)
    return sha256(canon.encode("utf-8")).hexdigest()[:16]


@dataclass
class StateDoc:
    fingerprint: str
    group_id: str
    epoch: int
    state: Any
    updated_at: float

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "StateDoc":
        return StateDoc(**json.loads(s))


class StateStore:
    """Checkpointed single-document state with atomic commit."""

    def __init__(self, checkpoint_dir: str, fingerprint: str, group_id: str = "default"):
        self.dir = checkpoint_dir
        self.fingerprint = fingerprint
        self.group_id = group_id
        self.path = os.path.join(self.dir, "state.json")
        os.makedirs(self.dir, exist_ok=True)

    def load(self) -> StateDoc | None:
        """Read current state; None if never initialized.

        Raises :class:`StateForkError` if the stored doc belongs to a
        different pipeline fingerprint or group (the reference's
        "Tamer is stuck" manual-recovery condition, Tamer.scala:119-134).
        """
        from tamer_spark.errors import StateForkError

        if not os.path.exists(self.path):
            return None
        with open(self.path, encoding="utf-8") as f:
            doc = StateDoc.from_json(f.read())
        if doc.fingerprint != self.fingerprint or doc.group_id != self.group_id:
            raise StateForkError(
                f"checkpoint at {self.path} belongs to pipeline "
                f"({doc.fingerprint!r}, {doc.group_id!r}), not "
                f"({self.fingerprint!r}, {self.group_id!r}); refusing to resume. "
                "Delete the checkpoint dir to re-initialize."
            )
        return doc

    def initialize(self, initial_state: Any) -> StateDoc:
        """First-run transition: persist epoch 0 with the initial state.

        Idempotent: if a doc already exists it is returned instead
        (Tamer.scala:136-148 produces the initial state only when the group
        never committed).
        """
        existing = self.load()
        if existing is not None:
            return existing
        doc = StateDoc(self.fingerprint, self.group_id, 0, initial_state, time.time())
        self._commit(doc)
        return doc

    def commit(self, epoch: int, new_state: Any) -> StateDoc:
        """Atomically publish ``(epoch, new_state)`` in place of the current doc."""
        doc = StateDoc(self.fingerprint, self.group_id, epoch, new_state, time.time())
        self._commit(doc)
        return doc

    def _commit(self, doc: StateDoc) -> None:
        """Publish ``doc`` crash-safely: write and fsync ``state.json.tmp``,
        replace ``state.json`` with it, fsync the directory. ``state.json``
        always holds a whole doc, the previous one until the single atomic
        replace, so a crash at any step leaves ``load()`` returning the
        previous or the new doc, never None (which would silently
        re-initialize at epoch 0). A ``.tmp`` left by a crash is
        overwritten by the next commit."""
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(doc.to_json())
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)
        fd = os.open(self.dir, os.O_RDONLY)
        try:
            os.fsync(fd)  # make the rename itself durable
        finally:
            os.close(fd)
