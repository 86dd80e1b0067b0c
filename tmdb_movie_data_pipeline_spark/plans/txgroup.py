"""Multi-table atomic transactions over TxTables (cross-table ACID).

A warehouse move — "take these rows out of table A and put them in table
B" — must be all-or-nothing across BOTH tables; two independent TxTable
commits leave a window where a reader sees the rows in neither (or both).
The group protocol closes that window with ONE atomic commit point:

    <group_root>/_txlog/<gid>.json        the group record

1. **Prepare**: each member table stages its data files and publishes a
   normal put-if-absent manifest that additionally carries
   ``pending_group: <gid>``. The version slot is claimed (concurrent
   writers conflict exactly as for single-table commits), but the version
   is NOT yet visible.
2. **Commit point**: one atomic create-exclusive of the group record.
   Readers treat a pending manifest as visible IFF its group record
   exists — so every member version becomes visible at the same instant,
   by the existence of one small immutable object.

Crash anywhere before step 2: every prepared version is invisible on
every member — readers fall back to each table's previous visible
version; neither table shows partial state (tests inject exactly this).
Crash after step 2: fully committed. This is the same shape as Delta's
multi-statement transaction log / Iceberg's multi-table catalog commit:
stage everything invisibly, then flip one conditional-put object.

Concurrent SINGLE-table writers and an in-flight group serialize on the
version slots. A pending prepare keeps its slot, and transactional
single-table writers (merge / delete_range / the streaming sink) REFUSE
to commit above it (``PendingGroupConflict``): basing on the visible
snapshot but publishing above the claimed slot would silently shadow
this member's group update if the group later commits — lost on one
member, applied on the others, breaking all-or-nothing (ADVICE r6).

Resolution is guaranteed because **commit and abort race on the SAME
create-exclusive group record**: whichever creates ``<gid>.json`` first
wins, and the record's content (``aborted`` flag) says which it was.
``prepare`` rolls itself back — a failure on a later member aborts the
group, instantly tombstoning every already-prepared manifest (their
``group_record`` path now resolves to an abort record). Aborted slots
stay in the log (auditable history) but are permanently invisible, never
block later writers, and VACUUM reclaims their data files.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from .acid import TxTable

__all__ = ["TxGroup", "GroupAborted"]

_TXLOG = "_txlog"


class GroupAborted(Exception):
    """The group record already exists as an ABORT tombstone: this
    transaction lost the commit/abort race (or failed its own prepare)
    and can never become visible."""


class TxGroup:
    """Coordinator for atomic commits spanning multiple TxTables."""

    def __init__(self, spark: SparkSession, group_root: str):
        self.spark = spark
        self.group_root = group_root

    def _record_path(self, gid: str) -> str:
        return os.path.join(self.group_root, _TXLOG, f"{gid}.json")

    def group_committed(self, gid: str) -> bool:
        return os.path.exists(self._record_path(gid))

    # -- the two-phase commit -------------------------------------------

    def prepare(self, updates: list[tuple[TxTable, DataFrame]], op: str) -> str:
        """Phase 1: claim the next version of every member with a pending
        manifest. Returns the group id; nothing is visible yet.

        Self-aborting (ADVICE r6): a failure on a later member (slot
        conflict, staging IO error) writes the group's ABORT record before
        re-raising — every already-prepared manifest carries the record's
        path, so all of them flip to permanently-aborted in the same
        instant. Without this, earlier members' pending manifests would
        block transactional writers and pin their staged files forever."""
        gid = uuid.uuid4().hex
        record = self._record_path(gid)
        from .acid import _optimized_write

        def _prepare_member(table: TxTable, df: DataFrame) -> None:
            v = table.latest_version() + 1
            table._commit(  # noqa: SLF001 — coordinator is pkg-internal
                # group updates are rewrites like MERGE/DELETE: size the
                # staged files via the same optimized-write rebalance
                _optimized_write(df),
                v,
                op,
                # the manifest carries its own commit-point location, so
                # EVERY TxTable reader/writer (not just TxGroup) applies
                # the visibility rule — see TxTable._group_state
                extra={"pending_group": gid, "group_record": record},
            )

        # Members are DISTINCT tables (each appears once per group, see
        # TxTable._commit's refusal note), so their prepares are independent
        # Spark jobs over disjoint logs/data dirs — submit them from driver
        # threads so the second member's stage back-fills the executors the
        # first one's task tail leaves idle (the two benched member
        # stages took 0.6-0.9 s + 0.5-0.7 s back to back).
        # Visibility is unchanged: nothing is visible until the ONE group
        # record exists, and a failed member still aborts the whole group —
        # the executor's shutdown on scope exit guarantees the abort record
        # is written only after every in-flight member prepare has
        # published or failed (no publish can race the tombstone).
        # Same-table duplicates (caller error) would race the version claim
        # when concurrent, so they keep the sequential path.
        paths = [t.path for t, _ in updates]
        try:
            if len(updates) > 1 and len(set(paths)) == len(paths):
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=len(updates)) as ex:
                    for fut in [
                        ex.submit(_prepare_member, t, df) for t, df in updates
                    ]:
                        fut.result()
            else:
                for table, df in updates:
                    _prepare_member(table, df)
        except Exception:
            self.abort(gid)
            raise
        return gid

    def _write_record(self, gid: str, record: dict) -> bool:
        """Create-exclusive publication of the group record. Returns True
        if THIS call created it; False if a record already existed (the
        commit/abort race was already decided — read it to learn how)."""
        log_dir = os.path.join(self.group_root, _TXLOG)
        os.makedirs(log_dir, exist_ok=True)
        final = self._record_path(gid)
        tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(record, f)
        try:
            os.link(tmp, final)  # atomic create-exclusive, as in TxTable
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _record(self, gid: str) -> dict:
        with open(self._record_path(gid)) as f:
            return json.load(f)

    def commit(self, gid: str, members: list[str]) -> None:
        """Phase 2 — THE commit point: create the group record atomically.
        After this single link exists, every member's pending version is
        visible; before it, none is. Raises :class:`GroupAborted` when the
        record already exists as an abort tombstone — commit and abort
        race on the same create-exclusive object, so exactly one wins and
        a committed group can never be retroactively aborted (nor vice
        versa)."""
        if not self._write_record(gid, {"gid": gid, "members": members}):
            if self._record(gid).get("aborted"):
                raise GroupAborted(
                    f"group {gid} was aborted; its prepared versions are "
                    "tombstoned and cannot become visible"
                )
            # recovery re-running the commit point: already committed

    def abort(self, gid: str, reason: str | None = None) -> bool:
        """Tombstone an unresolved group: create the record with the
        ``aborted`` flag. Every member manifest carrying this gid becomes
        permanently invisible, stops blocking transactional writers, and
        its files become VACUUM-reclaimable — the rollback path for failed
        or abandoned prepares (ADVICE r6). Returns True if this call
        decided the race; False if the group had already aborted.
        Idempotent; raises :class:`GroupAborted`'s dual — a plain
        ValueError — when the group already COMMITTED (an applied
        transaction cannot be rolled back by flag-flip; use compensating
        writes)."""
        if self._write_record(
            gid, {"gid": gid, "aborted": True, "reason": reason or ""}
        ):
            return True
        if self._record(gid).get("aborted"):
            return False  # already aborted: idempotent
        raise ValueError(
            f"group {gid} already committed; roll forward with a "
            "compensating transaction instead"
        )

    def transact(self, updates: list[tuple[TxTable, DataFrame]], op: str) -> str:
        gid = self.prepare(updates, op)
        self.commit(gid, [t.path for t, _ in updates])
        return gid

    # -- group-aware reads ----------------------------------------------

    def visible_version(self, table: TxTable) -> int:
        """Latest visible version — now simply TxTable's own rule, since
        manifests carry their group-record path."""
        return table.latest_visible_version()

    def read(self, table: TxTable) -> DataFrame:
        return table.read(self.visible_version(table))
