"""LogTable: a transaction-log parquet table format (Delta-lake-shaped).

The reference system applies CDC batches to a Postgres table and trusts
the database for atomicity (reference: app/services/export_service.py's
session.commit()). At 100 TB there is no database — the lakehouse
answer is a TABLE FORMAT: immutable parquet data files plus an ordered
commit log that defines, for every version, exactly which files are
live. This module implements that shape with zero external
dependencies, mirroring the public Delta Lake / Iceberg design points:

* **Commit log** — ``_txn_log/<20-digit-version>.json``, one JSON-lines
  file per commit holding ``meta`` / ``add`` / ``remove`` actions.
  ``add`` carries per-file row counts and PRIMARY-KEY MIN/MAX stats.
* **Atomic commits, optimistic concurrency** — the version file is
  published by link(2) election (``io/atomic.py``: the payload is
  written and fsynced under a temp name, then hard-linked to the
  version's name, which exactly one writer can win; on an object store
  you would swap in a commit service or conditional PUT, which is
  exactly what Delta-on-S3 does). A loser re-reads the
  winner's commit and conflicts when the winner removed a file it read
  or removed, or ADDED a file whose pk range overlaps the loser's batch
  (Delta's concurrent-append rule: else two merges could both insert
  the same new key); otherwise it retries on top.
* **Snapshot isolation & time travel** — a read resolves the log at a
  version (default: latest), replays add/remove into the live file
  set, and reads ONLY those parquet files. Data files are immutable,
  so version v reads identically forever; ``read(version=v)`` is time
  travel; uncommitted writer files are invisible (crash atomicity).
* **Copy-on-write MERGE** — ``merge`` upserts/deletes a change batch by
  primary key: the batch's key range is joined against the log's
  min/max file stats, ONLY overlapping files are rewritten (plus one
  new file for inserts), everything else is carried forward untouched.
  At scale this is the difference between rewriting a 100 TB table and
  rewriting the handful of files an incremental batch touches.
* **Log checkpoints** — every ``CHECKPOINT_EVERY`` commits the resolved
  action state is also written as ``<version>.checkpoint.parquet``;
  readers start from the newest checkpoint <= the requested version,
  so log replay is O(commits since checkpoint), not O(all commits) —
  the Delta ``_last_checkpoint`` discipline.
* **Change data feed** — ``changes`` reads each commit's own ``add`` /
  ``remove`` actions: a data file name is a fresh uuid, never re-added,
  so a commit's actions ARE the diff of its snapshot against the
  previous one, with no replay per version.
* **Vacuum** — deletes data files no LIVE version references (i.e.
  removed at or before a horizon version); time travel to vacuumed
  versions then correctly fails fast.

Scale notes. The log itself is tiny (one small JSON per commit, stats
not data); snapshot reads hand Spark a plain parquet file list, so
column pruning / predicate pushdown / partition-sized splits all apply
unchanged. MERGE prunes over FILE STATS (an in-memory list,
thousands of entries for a 100 TB table) by the batch's key range,
which an Observation reads off the batch's own checkpoint job. A batch
touching no file is appended as is (3 Spark jobs: pin, shuffle, write);
else the touched files' rows are anti-joined against the broadcast
batch keys and rewritten with it (4 jobs).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import (
    IntegralType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cdc_export_system_spark.io.atomic import link_publish

LOG_DIR = "_txn_log"
CHECKPOINT_EVERY = 10
# vacuum() also sweeps crash-orphaned artifacts — _log-*.tmp /
# _staging-* AND never-referenced part-*.parquet (a writer's staged
# data files between _write_files and _commit) — but only past this
# age so it can never race a LIVE writer that is mid-commit (commits
# take milliseconds; the horizon is hours). Part files retired by a
# COMMITTED remove-action are vacuumable at any age.
TMP_SWEEP_HORIZON_S = 3600.0
# races one commit may lose, and read-rewrite-commit cycles one merge
# may run, before CommitConflict
_COMMIT_ATTEMPTS = 20
_MERGE_ATTEMPTS = 3


class CommitConflict(Exception):
    """Optimistic-concurrency loser with a real overlap (same files)."""


def _log_path(root: str, version: int) -> str:
    return os.path.join(root, LOG_DIR, f"{version:020d}.json")


def _ckpt_path(root: str, version: int) -> str:
    return os.path.join(root, LOG_DIR, f"{version:020d}.checkpoint.parquet")


def _read_log(root: str, version: int) -> list[dict]:
    """The actions of one commit in file order; ``_commit`` always
    writes the ``commit`` stamp first."""
    with open(_log_path(root, version)) as f:
        return [json.loads(line) for line in f]


def _overlaps(add: dict, lo, hi) -> bool:
    return not (add["max_pk"] < lo or add["min_pk"] > hi)


_EXACT_STAT_TYPES = {"INT32", "INT64"}  # footer min/max exact, never truncated
# plain or INT-annotated only: DATE, TIME, TIMESTAMP and DECIMAL also ride
# INT32/INT64 physical, but their statistics are not the integer itself
_INT_LOGICAL_TYPES = {"NONE", "INT"}


def footer_int_range(md, col: str) -> tuple[int, int] | None:
    """(min, max) of an INTEGER column from parquet FOOTER statistics:
    zero data pages, no Spark job, and exact, because integer stats
    are exact by spec. None when the column is not integer-typed in
    both its physical and its logical type, when any row group lacks
    stats, or when there are no row groups (an empty file has no
    range)."""
    for idx in range(len(md.schema)):
        c = md.schema.column(idx)
        if (
            c.name == col
            and c.physical_type in _EXACT_STAT_TYPES
            and c.logical_type.type in _INT_LOGICAL_TYPES
        ):
            break
    else:
        return None
    mn = mx = None
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        mn = st.min if mn is None else min(mn, st.min)
        mx = st.max if mx is None else max(mx, st.max)
    return None if mn is None else (mn, mx)


def _pk_stats(md, pk: str, src: str) -> tuple:
    """(min_pk, max_pk) for a freshly staged file: from the footer
    (Spark always writes integer stats), else from a data-page read of
    the pk column (a foreign writer could omit stats). Stats collection
    used to be a full pk-column re-read per staged file, which at
    100 TB re-reads the whole key space once per merge."""
    rng = footer_int_range(md, pk)
    if rng is not None:
        return rng
    col = pq.read_table(src, columns=[pk]).column(0)
    return pc.min(col).as_py(), pc.max(col).as_py()


def _list_versions(root: str) -> list[int]:
    d = os.path.join(root, LOG_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.endswith(".json"):
            out.append(int(name[:-5]))
    return sorted(out)


class Snapshot:
    def __init__(self, version: int, meta: dict, files: dict[str, dict]):
        self.version = version
        self.meta = meta
        self.files = files  # path -> add-action stats

    @property
    def paths(self) -> list[str]:
        return sorted(self.files)


class LogTable:
    """One table root. All state lives on disk; instances are cheap."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ------------------------------------------------------------- log --

    def _replay(self, version: int | None = None) -> Snapshot:
        versions = _list_versions(self.root)
        if not versions:
            raise FileNotFoundError(f"no LogTable at {self.root}")
        target = versions[-1] if version is None else version
        if target not in versions:
            raise ValueError(
                f"version {target} does not exist (have {versions[:3]}..)"
            )
        meta: dict = {}
        files: dict[str, dict] = {}
        start = 0
        # newest checkpoint at or below target fast-forwards the replay
        for v in reversed([v for v in versions if v <= target]):
            cp = _ckpt_path(self.root, v)
            if os.path.exists(cp):
                tbl = pq.read_table(cp).to_pylist()
                for row in tbl:
                    if row["kind"] == "meta":
                        meta = json.loads(row["body"])
                    else:
                        files[row["path"]] = json.loads(row["body"])
                start = v + 1
                break
        for v in [x for x in versions if start <= x <= target]:
            for action in _read_log(self.root, v):
                if "meta" in action:
                    meta = action["meta"]
                elif "add" in action:
                    files[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    if action["remove"]["path"] not in files:
                        raise ValueError(
                            "vacuumed or unknown file removed at "
                            f"v{v}: time travel below the vacuum "
                            "horizon is gone"
                        )
                    del files[action["remove"]["path"]]
        # a vacuumed file may still be referenced when time-traveling
        # BELOW the vacuum horizon — fail fast, not silently partial
        for path in files:
            if not os.path.exists(os.path.join(self.root, path)):
                raise ValueError(
                    f"version {target} references vacuumed file {path}"
                )
        return Snapshot(target, meta, files)

    def _commit(
        self,
        actions: list[dict],
        read_version: int,
        touched: set[str],
        key_range: tuple | None = None,
    ) -> int:
        """Atomically publish the next log file via link(2) election.

        The payload is written COMPLETELY (and fsynced) to a hidden
        temp name first, then ``os.link``ed to the versioned name:
        link fails with EEXIST if a concurrent winner already owns the
        version (the same exclusive election O_CREAT|O_EXCL gave), and
        — unlike writing into an O_EXCL-created file — the log entry
        appears to every reader fully formed or not at all. The
        earlier write-after-create form lost exactly that property:
        the multi-writer stress pin caught a replayer listing a
        version whose payload was not yet flushed, dropping its adds
        and then failing on the next version's removes
        (tests/test_txn_table.py::
        test_concurrent_writers_serialize_without_loss).

        On losing the race: CommitConflict if the winner removed a
        file we read or removed, or added a file whose pk range
        overlaps our batch's ``key_range`` (its rows may hold keys we
        upsert or delete); else retry on top. A create (``read_version
        == 0``) that loses raises FileExistsError: the winner created
        the table."""
        stamped = [
            {"commit": {"ts_us": time.time_ns() // 1_000}},
            *actions,
        ]
        payload = "".join(json.dumps(a, sort_keys=True) + "\n" for a in stamped)
        tmp = os.path.join(self.root, f"_log-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            attempt = read_version + 1
            for _ in range(_COMMIT_ATTEMPTS):
                if not link_publish(tmp, _log_path(self.root, attempt)):
                    if read_version == 0:
                        # version 1 is create's alone: never stack on it
                        raise FileExistsError(
                            f"{self.root!r} already holds a LogTable"
                        )
                    # concurrent winner: check their actions against ours
                    for act in _read_log(self.root, attempt):
                        if "remove" in act and act["remove"]["path"] in touched:
                            raise CommitConflict(
                                f"file {act['remove']['path']} was removed "
                                f"by concurrent commit v{attempt}"
                            )
                        if (
                            key_range is not None
                            and "add" in act
                            and _overlaps(act["add"], *key_range)
                        ):
                            raise CommitConflict(
                                f"file {act['add']['path']} added by "
                                f"concurrent commit v{attempt} overlaps "
                                f"keys {key_range}"
                            )
                    attempt += 1
                    continue
                self._maybe_checkpoint(attempt)
                return attempt
            raise CommitConflict(f"lost {_COMMIT_ATTEMPTS} commit races")
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def _maybe_checkpoint(self, version: int) -> None:
        if version % CHECKPOINT_EVERY != 0:
            return
        snap = self._replay(version)
        rows = [{"kind": "meta", "path": "", "body": json.dumps(snap.meta)}]
        rows += [
            {"kind": "add", "path": p, "body": json.dumps(a)}
            for p, a in sorted(snap.files.items())
        ]
        tmp = _ckpt_path(self.root, version) + f".tmp-{uuid.uuid4().hex}"
        pq.write_table(pa.Table.from_pylist(rows), tmp)
        os.replace(tmp, _ckpt_path(self.root, version))

    # ------------------------------------------------------------ data --

    def _write_files(self, df: DataFrame, pk: str, k: int) -> list[dict]:
        """Write df as ONE parquet file per non-empty pk-range bucket
        (bucket = pk div k) and return add-actions with per-file pk
        min/max stats. Bucket membership is a pure function of the key,
        so file boundaries — and therefore merge pruning — are
        deterministic across runs and partitionings. The shuffle hashes
        the bucket alone, so a bucket never spans two partitions, and
        AQE coalesces the mostly empty partitions into few write tasks.
        Files land under a staging dir first; a crash before commit
        leaves only unreferenced garbage (invisible to every reader,
        swept by vacuum)."""
        staging = os.path.join(self.root, f"_staging-{uuid.uuid4().hex}")
        bucketed = df.withColumn(
            "_b", (F.col(pk) / F.lit(k)).cast("long")
        ).repartition("_b")
        bucketed.write.mode("overwrite").partitionBy("_b").parquet(staging)
        adds = []
        for bdir in sorted(os.listdir(staging)):
            if not bdir.startswith("_b="):
                continue
            bpath = os.path.join(staging, bdir)
            parts = sorted(
                p for p in os.listdir(bpath) if p.endswith(".parquet")
            )
            assert len(parts) == 1, f"bucket {bdir} split across files"
            src = os.path.join(bpath, parts[0])
            md = pq.read_metadata(src)
            if md.num_rows == 0:
                continue
            mn, mx = _pk_stats(md, pk, src)
            final = f"part-{uuid.uuid4().hex}.parquet"
            adds.append(
                {
                    "path": final,
                    "rows": md.num_rows,
                    "min_pk": mn,
                    "max_pk": mx,
                }
            )
            os.replace(src, os.path.join(self.root, final))
        shutil.rmtree(staging, ignore_errors=True)
        return adds

    # ------------------------------------------------------------- api --

    @classmethod
    def create(
        cls, spark: SparkSession, root: str, df: DataFrame, pk: str,
        n_files: int = 8, max_pk_hint: int | None = None,
    ) -> "LogTable":
        """Create version 1 from df, bucketing rows into n_files files
        by pk range (deterministic membership: file i holds pk div K ==
        i for a fixed K), so file stats and pruning behave identically
        across runs and partitionings. The pk must be an integer
        column: bucket K and the file stats are integer arithmetic.
        ``max_pk_hint``: callers that already know max(pk) (or any
        upper bound >= it) pass it to skip the dedicated max-scan
        action — one full pass over df saved; bucket K only needs AN
        upper bound, membership stays a pure function of the key.
        A root whose log already holds a version raises FileExistsError
        before any Spark job runs."""
        pk_type = df.schema[pk].dataType
        if not isinstance(pk_type, IntegralType):
            raise ValueError(
                f"primary key {pk!r} must be an integer column, "
                f"not {pk_type.simpleString()}"
            )
        if _list_versions(root):
            raise FileExistsError(f"{root!r} already holds a LogTable")
        os.makedirs(os.path.join(root, LOG_DIR), exist_ok=True)
        t = cls(spark, root)
        hi = (
            max_pk_hint
            if max_pk_hint is not None
            else df.agg(F.max(pk)).head()[0]
        )
        k = max(1, (0 if hi is None else int(hi)) // n_files + 1)
        actions: list[dict] = [
            {
                "meta": {
                    "pk": pk,
                    "schema": df.schema.json(),
                    "bucket_k": k,
                    "n_files": n_files,
                }
            }
        ]
        for add in t._write_files(df, pk, k):
            actions.append({"add": add})
        t._commit(actions, read_version=0, touched=set())
        return t

    def read(self, version: int | None = None) -> DataFrame:
        """Resolve the snapshot (and ITS meta — schema + column mapping
        are versioned, so time travel reads every version under that
        version's own logical schema) and scan its live files."""
        snap = self._replay(version)
        return self._scan(snap, snap.paths)

    def _scan(self, snap: Snapshot, paths: list[str]) -> DataFrame:
        """The data files ``paths`` (relative to the root) read under
        the snapshot's PHYSICAL schema, aliased physical -> logical."""
        schema = self._schema(snap)
        if not paths:
            return self.spark.createDataFrame([], schema)
        mapping = self._mapping(snap)
        return self.spark.read.schema(self._physical_schema(snap)).parquet(
            *[os.path.join(self.root, p) for p in paths]
        ).select(*[F.col(mapping[f.name]).alias(f.name) for f in schema.fields])

    def _schema(self, snap: Snapshot) -> StructType:
        return StructType.fromJson(json.loads(snap.meta["schema"]))

    # -------------------------------------------- column mapping -------
    # Logical (user-facing) column names map to PHYSICAL parquet column
    # names — the Delta columnMapping design point. Data files are
    # immutable, so rename/drop/add are metadata-only commits: the
    # mapping changes, the files do not. Legacy logs without a mapping
    # read as identity. ``all_physical`` records every physical name
    # ever allocated so a column re-added after a drop NEVER resurrects
    # the dropped column's old data (it gets a fresh physical name).

    def _mapping(self, snap: Snapshot) -> dict[str, str]:
        m = snap.meta.get("column_mapping")
        if m is None:
            m = {f.name: f.name for f in self._schema(snap).fields}
        return m

    def _physical_schema(self, snap: Snapshot) -> StructType:
        mapping = self._mapping(snap)
        return StructType(
            [
                StructField(mapping[f.name], f.dataType, f.nullable)
                for f in self._schema(snap).fields
            ]
        )

    def _to_physical(self, df: DataFrame, snap: Snapshot) -> DataFrame:
        """df under PHYSICAL names, cast to the table's types (an ``int``
        batch must not write INT32 into a ``long`` table); a column df
        lacks (it predates add-only schema evolution) is null."""
        mapping = self._mapping(snap)
        present = set(df.columns)
        return df.select(
            *[
                (F.col(f.name) if f.name in present else F.lit(None))
                .cast(f.dataType)
                .alias(mapping[f.name])
                for f in self._schema(snap).fields
            ]
        )

    def _commit_schema(
        self, snap: Snapshot, schema: StructType, mapping: dict[str, str]
    ) -> int:
        """Commit ``schema`` as the new logical schema, with ``mapping``
        its logical -> physical names. A column the mapping lacks gets
        a physical name no version of the table ever used; the pk
        follows its physical column through a rename."""
        used = set(snap.meta.get("all_physical", [])) | set(
            self._mapping(snap).values()
        )
        mapping = dict(mapping)
        for f in schema.fields:
            if f.name not in mapping:
                phys = f.name
                if phys in used:
                    phys = f"{f.name}_{uuid.uuid4().hex[:8]}"
                mapping[f.name] = phys
                used.add(phys)
        pk_phys = self._mapping(snap)[snap.meta["pk"]]
        meta = {
            **snap.meta,
            "pk": next(n for n, p in mapping.items() if p == pk_phys),
            "schema": schema.json(),
            "column_mapping": mapping,
            "all_physical": sorted(used),
        }
        return self._commit([{"meta": meta}], snap.version, touched=set())

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only RENAME: the logical schema and mapping change,
        every immutable data file keeps its physical column untouched.
        Time travel below this commit still reads the old name."""
        snap = self._replay()
        schema = self._schema(snap)
        if old not in schema.fieldNames():
            raise ValueError(f"no such column {old!r}")
        if new in schema.fieldNames():
            raise ValueError(f"column {new!r} already exists")
        mapping = dict(self._mapping(snap))
        mapping[new] = mapping.pop(old)
        return self._commit_schema(
            snap,
            StructType(
                [
                    StructField(
                        new if f.name == old else f.name, f.dataType, f.nullable
                    )
                    for f in schema.fields
                ]
            ),
            mapping,
        )

    def drop_column(self, name: str) -> int:
        """Metadata-only DROP: the column leaves the logical schema and
        mapping; its physical data stays in the immutable files (and
        remains readable by time travel below this commit). The primary
        key cannot be dropped."""
        snap = self._replay()
        schema = self._schema(snap)
        if name not in schema.fieldNames():
            raise ValueError(f"no such column {name!r}")
        if name == snap.meta["pk"]:
            raise ValueError("cannot drop the primary key column")
        mapping = dict(self._mapping(snap))
        del mapping[name]
        return self._commit_schema(
            snap, StructType([f for f in schema.fields if f.name != name]), mapping
        )

    def add_columns(self, new_schema: StructType) -> int:
        """SCHEMA EVOLUTION (add-only): commit a widened schema. Old
        data files stay as-is; reads reconcile by filling absent
        columns with nulls (Spark's parquet reader does this given the
        table-level schema), so no data rewrite happens — the Delta
        add-column semantics. Dropping or retyping columns is refused:
        that would silently change the meaning of immutable files."""
        snap = self._replay()
        old = self._schema(snap)
        for f in old.fields:
            match = [g for g in new_schema.fields if g.name == f.name]
            if not match or match[0].dataType != f.dataType:
                raise ValueError(
                    f"schema evolution is add-only: column {f.name!r} "
                    "missing or retyped in the new schema"
                )
        if len(new_schema.fields) == len(old.fields):
            return snap.version
        return self._commit_schema(snap, new_schema, self._mapping(snap))

    def history(self) -> list[int]:
        return _list_versions(self.root)

    def commit_timestamps(self) -> dict[int, int]:
        """version -> commit timestamp (µs), ADJUSTED to be strictly
        monotonic in version order (effective_ts(v) = max(recorded,
        effective_ts(v-1)+1)) — the Delta Lake timestamp-adjustment
        rule, which makes "as of ts" well-defined even when a racing
        loser's clock stamped a later wall time than the next winner."""
        out: dict[int, int] = {}
        prev = -1
        for v in _list_versions(self.root):
            prev = out[v] = max(
                int(_read_log(self.root, v)[0]["commit"]["ts_us"]), prev + 1
            )
        return out

    def version_asof(self, ts_us: int) -> int:
        """Largest version whose adjusted commit time is <= ts_us."""
        stamps = self.commit_timestamps()
        live = [v for v, t in stamps.items() if t <= ts_us]
        if not live:
            first = min(stamps.values()) if stamps else None
            raise ValueError(
                f"no commit at or before ts_us={ts_us}"
                + (f" (first commit at {first})" if first else "")
            )
        return max(live)

    def read_asof(self, ts_us: int) -> DataFrame:
        """Time travel by TIMESTAMP: resolve the as-of version from the
        commit stamps, then read that immutable snapshot."""
        return self.read(version=self.version_asof(ts_us))

    def changes(
        self, start_version: int, end_version: int | None = None
    ) -> DataFrame:
        """CHANGE DATA FEED: row-level changes made by commits
        ``start_version..end_version`` (inclusive, Delta
        ``table_changes`` semantics), derived from the copy-on-write
        log. For each commit the files its own ``remove`` actions name
        are the pre-state and the files its ``add`` actions name the
        post-state; a primary-key diff classifies every key as
        ``insert`` / ``delete`` / ``update_preimage``+
        ``update_postimage``, and rows merely COPIED by the rewrite
        (same pk, every column null-safe equal) are suppressed — the
        reader sees logical changes, not physical file churn. Output
        schema: the END version's logical schema plus ``_change_type``
        and ``_commit_version`` (the Delta CDF column contract).
        Metadata-only commits (rename / drop / add-column) move no data
        and contribute no rows; all diffs are read under the END
        version's schema and column mapping, so a rename mid-range
        never manufactures phantom updates (physical names are stable).
        A vacuumed file in the range raises ValueError naming it.

        Scale: one log replay (of the end version, for its schema), and
        each commit's diff reads ONLY the files that commit added/
        removed — CDF cost is proportional to the rewritten data, never
        the table. The per-commit join runs on range-bucketed files
        whose key spans align by construction. This is the query-time
        equivalent of Delta's _change_data files for a format whose
        merges rewrite whole key-range buckets. Reference parity: the
        reference's delta export (app/services/export_service.py —
        created/updated/deleted since a cursor) is this same change
        classification computed from table state; cf.
        cdc/event_queries.py:79 (cdc_delta)."""
        versions = _list_versions(self.root)
        if not versions:
            raise FileNotFoundError(f"no LogTable at {self.root}")
        end = versions[-1] if end_version is None else end_version
        if end not in versions or start_version not in versions:
            raise ValueError(
                f"version range [{start_version}, {end}] outside the log "
                f"(have {versions[0]}..{versions[-1]})"
            )
        if start_version > end:
            raise ValueError("start_version must be <= end_version")
        snap_e = self._replay(end)
        schema = self._schema(snap_e)
        pk = snap_e.meta["pk"]
        cols = [f.name for f in schema.fields]

        steps: list[DataFrame] = []
        for v in [x for x in versions if start_version <= x <= end]:
            actions = _read_log(self.root, v)
            removed = sorted(a["remove"]["path"] for a in actions if "remove" in a)
            added = sorted(a["add"]["path"] for a in actions if "add" in a)
            if not removed and not added:
                continue  # metadata-only commit: no data moved
            for p in removed + added:
                if not os.path.exists(os.path.join(self.root, p)):
                    raise ValueError(f"version {v} references vacuumed file {p}")
            a = self._scan(snap_e, removed).alias("a")
            b = self._scan(snap_e, added).alias("b")
            j = a.join(b, F.col(f"a.{pk}") == F.col(f"b.{pk}"), "full_outer")
            same = reduce(
                lambda x, y: x & y,
                [F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")) for c in cols],
            )
            both = F.col(f"a.{pk}").isNotNull() & F.col(f"b.{pk}").isNotNull()

            def _emit(side: str, flt, ctype: str, ver: int = v):
                return j.filter(flt).select(
                    *[F.col(f"{side}.{c}").alias(c) for c in cols],
                    F.lit(ctype).alias("_change_type"),
                    F.lit(ver).cast("long").alias("_commit_version"),
                )

            steps.append(_emit("b", F.col(f"a.{pk}").isNull(), "insert"))
            steps.append(_emit("a", F.col(f"b.{pk}").isNull(), "delete"))
            steps.append(_emit("a", both & ~same, "update_preimage"))
            steps.append(_emit("b", both & ~same, "update_postimage"))
        if not steps:
            empty = StructType(
                [*schema.fields,
                 StructField("_change_type", StringType(), False),
                 StructField("_commit_version", LongType(), False)]
            )
            return self.spark.createDataFrame([], empty)
        result = steps[0]
        for s in steps[1:]:
            result = result.unionAll(s)
        return result

    def merge(self, changes: DataFrame) -> tuple[int, dict]:
        """Copy-on-write MERGE by primary key: rows in ``changes`` with
        ``_deleted`` true delete their key; others upsert. Returns
        (new_version, stats) where stats records the file-pruning
        evidence: how many live files the batch's key range touched.

        A lost commit race whose winner touched neither our files nor
        our key range stacks on top of it; a real overlap re-runs the
        read-rewrite-commit cycle on the new snapshot, and after
        ``_MERGE_ATTEMPTS`` cycles raises CommitConflict to the caller."""
        # Materialize the change batch ONCE: a rewrite reads it twice
        # (anti-join keys, upserts) and a commit retry again, and the
        # batch is the DELTA, so its localCheckpoint is the cheap side;
        # it also freezes non-deterministic sources. Its key range is
        # an Observation on that checkpoint job: pruning runs no job.
        pk = self._replay().meta["pk"]
        observed = Observation()
        changes = changes.observe(
            observed, F.min(pk).alias("lo"), F.max(pk).alias("hi")
        ).localCheckpoint(eager=True)
        lo, hi = observed.get["lo"], observed.get["hi"]
        for _ in range(_MERGE_ATTEMPTS):
            snap = self._replay()
            pk = snap.meta["pk"]
            if lo is None:
                return snap.version, {
                    "files_total": len(snap.files),
                    "files_touched": 0,
                    "rows_rewritten": 0,
                }
            touched = {
                p: a for p, a in snap.files.items() if _overlaps(a, lo, hi)
            }
            merged = changes.filter(~F.col("_deleted")).drop("_deleted")
            if touched:  # else an append: nothing survives or is deleted
                survivors = self._scan(snap, sorted(touched)).join(
                    F.broadcast(changes.select(pk)), pk, "left_anti"
                )
                # allowMissingColumns: after add-only schema evolution, a
                # change batch may omit (or a survivor predate) new columns
                merged = survivors.unionByName(
                    merged, allowMissingColumns=True
                )
            k = snap.meta.get("bucket_k", 1)
            actions = [{"remove": {"path": p}} for p in sorted(touched)]
            adds = self._write_files(
                self._to_physical(merged, snap), self._mapping(snap)[pk], k
            )
            actions += [{"add": a} for a in adds]
            try:
                v = self._commit(
                    actions, snap.version, touched=set(touched),
                    key_range=(lo, hi),
                )
            except CommitConflict:
                # winner overlapped us: our staged files are garbage
                # (unreferenced, vacuum sweeps them); retry on new state
                for a in adds:
                    os.remove(os.path.join(self.root, a["path"]))
                continue
            return v, {
                "files_total": len(snap.files),
                "files_touched": len(touched),
                "rows_rewritten": sum(a["rows"] for a in touched.values()),
            }
        raise CommitConflict(f"merge lost {_MERGE_ATTEMPTS} full cycles")

    def optimize(self) -> tuple[int, dict]:
        """Compaction as a COMMITTED action: rewrite the live file set
        into the table's configured n_files range buckets, re-coalescing
        the extra bucket files that out-of-range inserts accumulate.
        Readers never see a partial state: old files stay live until
        the single commit swaps the whole set, and time travel to
        pre-optimize versions still works until vacuum."""
        snap = self._replay()
        pk = snap.meta["pk"]
        n_out = snap.meta.get("n_files", 8)
        df = self.read(snap.version)
        # every live add-action holds its file's exact max_pk: the
        # bucket width needs no scan of the table
        hi = max((a["max_pk"] for a in snap.files.values()), default=None)
        k = max(1, (0 if hi is None else int(hi)) // n_out + 1)
        adds = self._write_files(
            self._to_physical(df, snap), self._mapping(snap)[pk], k
        )
        actions: list[dict] = [
            {
                "meta": {
                    **snap.meta,
                    "bucket_k": k,
                    "n_files": n_out,
                }
            }
        ]
        actions += [{"remove": {"path": p}} for p in sorted(snap.files)]
        actions += [{"add": a} for a in adds]
        v = self._commit(actions, snap.version, touched=set(snap.files))
        return v, {
            "files_before": len(snap.files),
            "files_after": len(adds),
        }

    def vacuum(self) -> list[str]:
        """Delete data files not referenced by the LATEST version.
        After vacuum, time travel to versions needing those files
        fails fast in _replay (documented retention=0 policy; a real
        deployment keeps a horizon).

        Also sweeps crash-orphaned writer artifacts — ``_log-*.tmp``
        commit payloads, ``_staging-*`` write dirs, and checkpoint
        temp files — that a writer killed between payload-write and
        link-election leaves behind forever (they are invisible to
        readers but accumulate; the round-9 advice item). Only
        artifacts older than TMP_SWEEP_HORIZON_S go, so an in-flight
        writer's milliseconds-old temp file is never touched."""
        snap = self._replay()
        live = set(snap.paths)
        # every path that ever appeared in a committed add-action: such
        # a file, once no longer live, was retired by a COMMITTED remove
        # and is vacuumable at any age. A part file in NO log action may
        # be a concurrent writer's staged output (between _write_files'
        # os.replace into root and its _commit) — those only go once
        # they age past TMP_SWEEP_HORIZON_S (the r10 advice item).
        ever_referenced: set[str] = set(live)
        for v in _list_versions(self.root):
            ever_referenced.update(
                a["add"]["path"] for a in _read_log(self.root, v) if "add" in a
            )
        removed = []
        cutoff = time.time() - TMP_SWEEP_HORIZON_S
        for name in sorted(os.listdir(self.root)):
            path = os.path.join(self.root, name)
            if (
                name.endswith(".parquet")
                and name.startswith("part-")
                and name not in live
            ):
                try:
                    if name not in ever_referenced and (
                        os.path.getmtime(path) >= cutoff
                    ):
                        continue  # possibly a live writer's staged file
                    os.remove(path)
                    removed.append(name)
                except OSError:
                    pass  # a live writer removed/renamed it mid-sweep
                continue
            stale_tmp = (
                (name.startswith("_log-") and name.endswith(".tmp"))
                or name.startswith("_staging-")
                or ".checkpoint.parquet.tmp-" in name
            )
            if stale_tmp:
                try:
                    if os.path.getmtime(path) >= cutoff:
                        continue
                    if os.path.isdir(path):
                        shutil.rmtree(path, ignore_errors=True)
                    else:
                        os.remove(path)
                    removed.append(name)
                except OSError:
                    pass  # a live writer finished with it mid-sweep
        logdir = os.path.join(self.root, LOG_DIR)
        for name in sorted(os.listdir(logdir)):
            if ".checkpoint.parquet.tmp-" not in name:
                continue
            path = os.path.join(logdir, name)
            try:
                if os.path.getmtime(path) < cutoff:
                    os.remove(path)
                    removed.append(os.path.join(LOG_DIR, name))
            except OSError:
                pass
        return removed
