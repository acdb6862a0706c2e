"""Single-writer lease for an output directory (r4 verdict #3/#9).

The commit protocol (plans/pipeline.py) is exact for SERIAL runs, but two
pipelines pointed at the same ``out_dir`` could both pass the resume
anti-join for the same urls and commit two batches containing them —
committed readers would then return duplicates with no warning. The
reference got mutual exclusion for free from SQLite's file lock
(/root/reference/src/cache/persistent.py:48-99); on plain dirs the same
guarantee is an ATOMIC ``mkdir`` lease:

    acquire  = os.mkdir(<root>/_lock)          (atomic: exactly one winner)
    steal    = lock older than `STALE_SEC` → atomic rename to a
               stealer-unique trash name, then one retry of the mkdir
    validate = the owner token written inside the lock dir is re-checked at
               the COMMIT POINT (`assert_held`) — a writer whose stale lock
               was taken over fails loudly BEFORE publishing its batch,
               never after
    release  = rmtree, only if still the owner

Consumers: `ExtractionPipeline.run` (one lease per run, validated before
`_commit`; holding it, the run deletes every dir under `_staging/` as
dead: `STALE_SEC` is the out_dir's only age rule),
`plans.maintenance.compact_*` (compaction takes the same lease, replacing
the old "run in a maintenance window" comment with an actual guard), and
`operators.dedup.dedup_corpus_incremental` (one lease per increment on
the LSH store's parent dir — the streaming near-dup gate admits each
micro-batch through it, so the stream is leased too).

At 10^12-row scale the same role is played by the metastore's commit
conflict detection (Iceberg optimistic locking); this module documents and
tests the exact semantics on local/HDFS-style filesystems where
``mkdir``/``rename`` are atomic.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid


class LeaseHeldError(RuntimeError):
    """Another writer holds (or took over) the lease."""


_OWNER_FILE = "owner.json"

#: a lock with no mtime update for this long is presumed dead (crashed
#: writer) and may be taken over
STALE_SEC = 3600.0


class WriterLease:
    """Context-manager lease on ``<root>/_lock``, stealable once it is
    `STALE_SEC` old. Long-running writers call `touch()` at phase
    boundaries to stay fresh; the pipeline touches before its commit
    rename.
    """

    def __init__(self, root: str) -> None:
        self.root = root
        self.dir = os.path.join(root, "_lock")
        self.token = uuid.uuid4().hex

    # -- lifecycle -----------------------------------------------------------
    def acquire(self) -> "WriterLease":
        os.makedirs(self.root, exist_ok=True)
        for attempt in (0, 1):
            try:
                os.mkdir(self.dir)  # the atomic point
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self.dir)
                except OSError:
                    continue  # holder released between mkdir and getmtime
                if attempt == 0 and age >= STALE_SEC:
                    # presumed-dead holder: steal once, via an ATOMIC
                    # rename to a stealer-unique trash name. Exactly one
                    # concurrent stealer's rename succeeds; the loser's
                    # raises ENOENT and it falls through to re-race the
                    # mkdir. (An rmtree-based steal had a window where the
                    # losing stealer's rmtree deleted the WINNER's fresh
                    # lock — two processes both holding the lease.)
                    trash = f"{self.dir}.stale.{self.token}"
                    try:
                        os.rename(self.dir, trash)
                    except OSError:
                        pass  # another stealer won the rename
                    else:
                        shutil.rmtree(trash, ignore_errors=True)
                    continue
                raise LeaseHeldError(
                    f"writer lease at {self.dir} held by another run "
                    f"(age {age:.0f}s < STALE_SEC {STALE_SEC:.0f}s); "
                    "a second concurrent writer on one out_dir would "
                    "commit duplicate urls") from None
            with open(os.path.join(self.dir, _OWNER_FILE), "w",
                      encoding="utf-8") as f:
                json.dump({"token": self.token, "pid": os.getpid(),
                           "acquired_at": time.time()}, f)
            return self
        raise LeaseHeldError(
            f"writer lease at {self.dir} lost the takeover race")

    def _owner_token(self) -> str | None:
        try:
            with open(os.path.join(self.dir, _OWNER_FILE),
                      encoding="utf-8") as f:
                return json.load(f).get("token")
        except (OSError, ValueError):
            return None

    def assert_held(self) -> None:
        """Commit-point validation: raise unless this lease still owns the
        lock (a stale takeover by another writer replaces the owner token —
        the displaced writer must abort instead of publishing)."""
        if self._owner_token() != self.token:
            raise LeaseHeldError(
                f"writer lease at {self.dir} was taken over (stale-age "
                "steal) — aborting before the commit point")

    def touch(self) -> None:
        """Refresh the lock's mtime so a live long run never looks stale."""
        try:
            os.utime(self.dir)
        except OSError:
            pass  # taken over; assert_held will catch it at the commit

    def release(self) -> None:
        if self._owner_token() == self.token:
            shutil.rmtree(self.dir, ignore_errors=True)

    def __enter__(self) -> "WriterLease":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()
