"""Streaming write INTO a warehouse table — the Iceberg streaming-sink
model (`df.writeStream.format("iceberg")` in the reference's stack,
completing the stream→lakehouse loop the reference lists as its
unexplored next step, SETUP_GUIDE_WIN.md:473).

Exactly-once contract: every micro-batch lands as ONE append snapshot
stamped with its epoch/batch id in the snapshot summary. Structured
Streaming's failure mode is a batch REPLAY (crash after the sink commits
but before the checkpoint advances); the sink detects the already-
committed batch id in the snapshot log and skips it, so replays are
no-ops and each batch's rows appear exactly once — the same dedup-by-
commit-metadata design Iceberg's real streaming sink uses. The scan is
O(snapshots) over the JSON log, metadata-only.

Dedup identity is (query_name, checkpoint id): batch ids are only
monotonic within ONE checkpoint lineage, so a query restarted under the
same name with a FRESH checkpoint (batch ids restart at 0) must not be
deduped against the old run's batches. The checkpoint id is Spark's own
query id from `<checkpointLocation>/metadata` — minted once per new
checkpoint, stable across restarts from the same checkpoint — resolved
lazily at the first micro-batch (the file exists by then). A sink built
without a checkpoint location keeps identity None, matching records
written the same way.

Scale: each micro-batch is an append commit (commutative, lock-fast);
the table's snapshot log grows by one entry per trigger, which is what
`expire_snapshots` is for. Data volume per commit equals the batch —
nothing is rewritten.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from minio_iceberg_polaris_lakehouse_spark.warehouse import Table

_BATCH_KEY = "streaming-batch-id"
_QUERY_KEY = "streaming-query"
_CKPT_KEY = "streaming-checkpoint"


class TableSink:
    """foreachBatch-compatible sink with exactly-once batch dedup."""

    def __init__(
        self,
        table: Table,
        query_name: str = "stream",
        checkpoint_location: str | None = None,
        mode: str = "append",
    ):
        """``mode``: 'append' commits each micro-batch as an append
        snapshot; 'upsert' commits it through Table.upsert() — the
        Flink-on-Iceberg streaming-upsert shape (one snapshot =
        equality-delete over the batch's identifier keys + the rows),
        for streams keyed by identity (CDC feeds, update-mode aggregates
        emitting one row per key per trigger). Exactly-once dedup is
        identical in both modes: a replayed batch id is a no-op BEFORE
        any write, so a replay can neither re-append rows nor re-kill a
        newer upsert's rows."""
        if mode not in ("append", "upsert"):
            raise ValueError(f"unknown sink mode {mode!r}")
        self.table = table
        self.query_name = query_name
        self.mode = mode
        self._ckpt_location = checkpoint_location
        self._ckpt_id: str | None = None
        self._ckpt_resolved = checkpoint_location is None

    def _checkpoint_id(self) -> str | None:
        """Spark's query id from the checkpoint's metadata file — the
        durable identity of a checkpoint lineage. Resolved lazily: the
        file is written when the query starts, i.e. before the first
        foreachBatch call; until then (or when unreadable) the location
        string itself is the identity. Read through fsio so remote
        checkpoint locations (hdfs://, s3a://) resolve too — a plain
        open() would fail there every call and silently degrade the
        identity to the location string, letting a wiped-and-recreated
        checkpoint at the same URI swallow batches again."""
        if self._ckpt_resolved:
            return self._ckpt_id
        from minio_iceberg_polaris_lakehouse_spark import fsio

        cid = self._ckpt_location
        try:
            cid = json.loads(fsio.read_text(os.path.join(self._ckpt_location, "metadata")))["id"]
            self._ckpt_resolved = True  # durable id found; cache forever
        except (OSError, ValueError, KeyError):
            pass  # query not started yet — fall back, retry next call
        self._ckpt_id = cid
        return cid

    def _identity_set(self) -> set:
        """All identities that mean THIS lineage: None (pre-upgrade /
        location-less records — matching is the safe side of that
        ambiguity: a replayed batch stays deduped), the checkpoint
        location string (the fallback used if the durable id was not
        yet readable when a batch was stamped), and the durable query
        id. Matching the whole set keeps dedup stable across the
        fallback→durable transition — otherwise a batch stamped with
        the fallback identity would be re-committed after a crash once
        the durable id resolves."""
        ids = {None, self._checkpoint_id()}
        if self._ckpt_location is not None:
            ids.add(self._ckpt_location)
        return ids

    def committed_batch_ids(self) -> set[int]:
        """Batch ids this (query, checkpoint lineage) already committed
        — see _identity_set for which identities count as this lineage;
        a fresh lineage blocked by a legacy record is what
        reset_watermark() is for."""
        ids = self._identity_set()
        return {
            int(s["summary"][_BATCH_KEY])
            for s in self.table._snaps()
            if _BATCH_KEY in s.get("summary", {})
            and s["summary"].get(_QUERY_KEY) == self.query_name
            and s["summary"].get(_CKPT_KEY) in ids
        }

    def _sink_rec(self) -> dict | None:
        rec = self.table._meta().get("streaming_sinks", {}).get(self.query_name)
        if rec is None:
            return None
        if isinstance(rec, dict):
            return rec
        # pre-checkpoint-identity record (bare int watermark)
        return {"hw": int(rec), "checkpoint": None}

    def high_water_batch_id(self) -> int | None:
        """Highest batch id committed by this (query, checkpoint) —
        persisted in table meta because expire_snapshots erases the
        snapshot summaries the set-scan dedup relies on, so a checkpoint
        replay of an old batch after history expiry is still a no-op
        (batch ids are monotonic per checkpoint lineage). A record left
        by a DIFFERENT checkpoint lineage under the same query name is
        ignored: a fresh checkpoint restarts batch ids at 0 and must not
        have its early batches swallowed by the old run's watermark.
        A record with NO lineage (pre-upgrade, or a location-less sink)
        matches any lineage — see _identity_set for why the safe side
        of that ambiguity is matching."""
        rec = self._sink_rec()
        if rec is None or rec.get("checkpoint") not in self._identity_set():
            return None
        return int(rec["hw"])

    def reset_watermark(self) -> None:
        """Drop the persisted watermark for this query name — for
        callers that reuse a name with a new checkpoint lineage but
        construct the sink without a checkpoint location (where the
        automatic lineage check can't tell the runs apart)."""
        lock, token = self.table._acquire_commit_lock()
        try:
            meta = self.table._meta()
            if meta.get("streaming_sinks", {}).pop(self.query_name, None) is not None:
                self.table._write_meta(meta)
        finally:
            self.table._release_commit_lock(lock, token)

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> int | None:
        """Commit one micro-batch; returns the snapshot id, or None when
        the batch id was already committed (a replay after a crash
        between the table commit and the checkpoint write)."""
        cid = self._checkpoint_id()
        hw = self.high_water_batch_id()
        if hw is not None and int(batch_id) <= hw:
            return None
        if int(batch_id) in self.committed_batch_ids():
            return None
        stamps = {_BATCH_KEY: int(batch_id), _QUERY_KEY: self.query_name}
        if cid is not None:
            stamps[_CKPT_KEY] = cid
        if self.mode == "upsert":
            sid = self.table.upsert(batch_df, extra_summary=stamps)
        else:
            p = self.table._write_data(batch_df)
            sid = self.table._commit("append", {"added-records": p.rows, **stamps}, [p])
        # advance the persistent watermark under the commit lock (a crash
        # between commit and this write is still covered by the snapshot-
        # summary scan above); a new checkpoint lineage takes over the
        # query name's record outright
        lock, token = self.table._acquire_commit_lock()
        try:
            meta = self.table._meta()
            sinks = meta.setdefault("streaming_sinks", {})
            rec = sinks.get(self.query_name)
            if isinstance(rec, int):
                rec = {"hw": rec, "checkpoint": None}
            if (
                rec is None
                or rec.get("checkpoint") != cid
                or int(rec["hw"]) < int(batch_id)
            ):
                sinks[self.query_name] = {"hw": int(batch_id), "checkpoint": cid}
                self.table._write_meta(meta)
        finally:
            self.table._release_commit_lock(lock, token)
        return sid

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.write_batch(batch_df, batch_id)


def write_stream_to_table(
    stream_df: DataFrame,
    table: Table,
    checkpoint_dir: str,
    query_name: str = "stream",
    mode: str = "append",
) -> None:
    """Run a Structured Streaming query that commits every micro-batch to
    ``table`` exactly once (availableNow trigger: drain what's available,
    then stop — the batch-and-resume pattern; a production query would
    use a processingTime trigger with the same sink). ``mode='upsert'``
    commits each batch in the Flink streaming-upsert shape instead of an
    append — see TableSink."""
    sink = TableSink(table, query_name, checkpoint_location=checkpoint_dir, mode=mode)
    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
