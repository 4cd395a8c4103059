"""Per-consumer watermark state — the engine's only mutable state.

Reference semantics (app/services/watermark.py:7-26, app/models.py:16-22):
one row per consumer_id (unique), ``last_exported_at`` is the high-water
``updated_at`` of the last successful export, ``updated_at`` bumps on
every upsert.

The table is tiny (one row per consumer), so every commit writes the
whole of it as one small JSON file, and the pointer chain IS the table:

    state_dir/
      CURRENT.<20-digit seq>   # {consumer_id: [last_exported_at_us, updated_at_us]}

Timestamps are epoch microseconds converted by Spark's own
``TimestampType().toInternal/fromInternal``, so a value reads back
exactly as a Spark round trip would return it, in any process timezone.
Reads and commits are plain file IO in the calling process, with no
Spark job — the way a Structured Streaming checkpoint keeps its offset
and commit logs.

Commits are a link(2)-elected CAS chain: a writer reads the head
``CURRENT.<s>``, merges its row, writes and fsyncs a temp file and
hard-links it to ``CURRENT.<s+1>``. Losing the election (EEXIST) means a
concurrent commit advanced the chain, so the writer RE-READS and
re-merges before retrying. Concurrent upserts of DIFFERENT consumers
therefore serialize without loss, matching the reference's per-row DB
transactions (jobs.py:31-60; two consumers exporting simultaneously is
the reference's normal background-task mode —
tests/test_cdc_exports.py::test_concurrent_consumer_upserts_all_survive
pins it). Readers take the highest sequence. ``_gc`` keeps the newest 20
pointers plus any younger than 60 s, which is also the time-travel
window for debugging.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import TimestampType

from cdc_export_system_spark.io.atomic import link_publish
from cdc_export_system_spark.schemas import WATERMARKS_SCHEMA

_CURRENT = "CURRENT"
_TS = TimestampType()
_UPSERT_ATTEMPTS = 20  # commit elections one upsert may lose before raising

# consumer_id -> [last_exported_at_us, updated_at_us]
Table = dict[str, list[int]]


def _parse(text: str, path: str) -> Table:
    """The JSON table of one pointer file. Anything else — a pre-JSON
    pointer naming a snapshot version, an empty or truncated file —
    raises: reading it as "no watermark" would make incremental and
    delta exports silently export nothing."""
    try:
        table = json.loads(text)
    except ValueError:
        table = None
    if isinstance(table, dict) and all(
        isinstance(v, list) and len(v) == 2 and all(type(x) is int for x in v)
        for v in table.values()
    ):
        return table
    raise ValueError(f"watermark pointer {path!r} does not hold a JSON watermark table")


class WatermarkStore:
    """Keyed watermark state with atomic last-wins upserts."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    # -- read path -------------------------------------------------------

    def _chain(self) -> list[tuple[int, str]]:
        """(seq, pointer-file) entries of the CAS chain, ascending."""
        out = []
        for name in os.listdir(self.state_dir):
            if name.startswith(_CURRENT + "."):
                try:
                    out.append((int(name.rsplit(".", 1)[1]), name))
                except ValueError:
                    continue
        return sorted(out)

    def _head(self) -> tuple[int, Table]:
        """(latest seq, its table) — (0, {}) when the chain is empty.

        A pointer listed by _chain() can vanish before open() when a
        concurrent committer's _gc prunes the chain tail between our
        listdir and read — that always means a NEWER head exists, so
        the read retries from a fresh listing instead of surfacing
        FileNotFoundError to the caller."""
        for _ in range(50):
            chain = self._chain()
            if not chain:
                return 0, {}
            seq, name = chain[-1]
            path = os.path.join(self.state_dir, name)
            try:
                with open(path) as f:
                    return seq, _parse(f.read(), path)
            except FileNotFoundError:
                continue  # pruned under us: a newer pointer exists
        # unreachable unless _gc's never-prune-head breaks
        raise RuntimeError(
            f"watermark pointer chain at {self.state_dir!r} kept "
            "vanishing across 50 fresh listings"
        )

    def snapshot(self) -> DataFrame:
        """The live watermark table (empty DataFrame when uninitialized)."""
        rows = [
            (c, _TS.fromInternal(wm), _TS.fromInternal(up))
            for c, (wm, up) in sorted(self._head()[1].items())
        ]
        return self.spark.createDataFrame(rows, WATERMARKS_SCHEMA)

    def get(self, consumer_id: str) -> datetime | None:
        """Point lookup (reference watermark.py:7-9). Returns None when the
        consumer has never completed an export — the caller decides the
        no-watermark policy (exports.py:110-113: export nothing)."""
        row = self._head()[1].get(consumer_id)
        return None if row is None else _TS.fromInternal(row[0])

    # -- write path ------------------------------------------------------

    def upsert(self, consumer_id: str, last_exported_at: datetime) -> None:
        """Insert-or-update one consumer row (reference watermark.py:11-26)
        through the CAS chain: read head -> merge -> publish seq+1 via
        link election; on losing the election, RE-READ and re-merge so a
        concurrent commit for another consumer is never overwritten.

        A won link is not enough on its own: _gc may have pruned slot
        seq+1 while this writer stalled on head seq, and the link then
        re-creates it BELOW the live head, where no reader looks. So the
        upsert returns only once the live head holds its row, and
        otherwise retries from a fresh head."""
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        row = [_TS.toInternal(last_exported_at), _TS.toInternal(now)]
        for attempt in range(_UPSERT_ATTEMPTS):
            seq, table = self._head()
            table[consumer_id] = row
            if (
                self._commit(table, expected_seq=seq)
                and self._head()[1].get(consumer_id) == row
            ):
                return
            time.sleep(0.01 * (attempt % 5 + 1))
        raise RuntimeError(
            f"watermark upsert for {consumer_id!r} lost {_UPSERT_ATTEMPTS} "
            "commit elections"
        )

    def _commit(self, table: Table, expected_seq: int) -> bool:
        """Try to publish ``table`` as CURRENT.<expected_seq+1>. Returns
        False if a concurrent commit won that sequence (caller re-reads
        and retries). link_publish raises HardLinksUnsupported — a
        deterministic environment fault — straight out of the retry
        loop rather than as a misleading 'lost N elections'."""
        tmp = os.path.join(self.state_dir, f".{_CURRENT}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(table, f, separators=(",", ":"), sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        target = os.path.join(self.state_dir, f"{_CURRENT}.{expected_seq + 1:020d}")
        try:
            won = link_publish(tmp, target)
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass
        if won:
            self._gc()
        return won

    def _gc(self, retain: int = 20, min_age_s: float = 60.0) -> None:
        """Prune the pointer chain's tail, never its head. Two horizons:
        keep the newest ``retain`` pointers AND any younger than
        ``min_age_s``, so a pointer that was head a moment ago stays on
        disk even if many commits just buried it. A pointer vanishing
        under a concurrent _gc is skipped: GC must never turn a WON
        commit into an apparent failure."""
        cutoff = time.time() - min_age_s
        for _seq, name in self._chain()[:-max(retain, 1)]:
            p = os.path.join(self.state_dir, name)
            try:
                if os.path.getmtime(p) < cutoff:
                    os.unlink(p)
            except OSError:
                pass
