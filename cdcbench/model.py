"""Independent model of the users table and the export contract.

The benchmark checks every export against this model, never against the
engine's own read path. The model holds one row per id in NumPy arrays
(ids are dense: the generator emits 1..n and change batches append), and
applies each change batch only after the engine's merge returned.

The expected CSV is rendered in plain Python from the contract that
``io/csv_sink.py`` documents: the header, ``datetime.isoformat`` with
microseconds and a ``+00:00`` offset, ``True``/``False``, rows ordered by
``updated_at`` and ``\\n`` line ends.
"""

from __future__ import annotations

import csv
import io
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
EXPORT_HEADER = ["id", "name", "email", "created_at", "updated_at", "is_deleted"]
DELTA_HEADER = ["operation", *EXPORT_HEADER]
UTC = pa.timestamp("us", tz="UTC")


def us_to_datetime(us: int) -> datetime:
    return EPOCH + timedelta(microseconds=int(us))


def iso(us: int) -> str:
    return us_to_datetime(us).isoformat(timespec="microseconds")


def datetime_to_us(dt: datetime) -> int:
    """Naive datetimes are UTC: the benchmark pins the process TZ to UTC."""
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return (dt - EPOCH) // timedelta(microseconds=1)


@dataclass
class Expected:
    rows: int
    watermark_us: int | None
    mask: np.ndarray


class UsersModel:
    """Column arrays indexed by ``id - 1``; ``rev[i] > 0`` means the row's
    name was rewritten by change batch ``rev[i]``."""

    def __init__(self, created_us, updated_us, deleted):
        self.created = np.asarray(created_us, dtype=np.int64)
        self.updated = np.asarray(updated_us, dtype=np.int64)
        self.deleted = np.asarray(deleted, dtype=bool)
        self.rev = np.zeros(len(self.created), dtype=np.int32)

    @classmethod
    def from_arrow(cls, table: pa.Table) -> "UsersModel":
        table = table.sort_by("id")
        ids = table.column("id").to_numpy()
        if not np.array_equal(ids, np.arange(1, len(ids) + 1)):
            raise ValueError("generated ids are not the dense range 1..n")

        def micros(name):
            col = table.column(name).cast(pa.timestamp("us"))
            return col.cast(pa.int64()).to_numpy()

        return cls(micros("created_at"), micros("updated_at"),
                   table.column("is_deleted").to_numpy(zero_copy_only=False))

    @property
    def size(self) -> int:
        return len(self.created)

    def name(self, i: int) -> str:
        base = f"User {i + 1}"
        return base if self.rev[i] == 0 else f"{base} r{self.rev[i]}"

    # -- change batches ---------------------------------------------------

    def change_batch(self, rng: np.random.Generator, batch_no: int, size: int,
                     stamp_base_us: int, delete_frac: float, insert_frac: float):
        """Draw a batch of ``size`` rows: soft deletes and updates of
        distinct live ids plus fresh inserts. Every row gets its own
        microsecond stamp after ``stamp_base_us``, so ``updated_at``
        orders the batch totally. Returns (arrow table, apply callback)."""
        n_del = int(round(size * delete_frac))
        n_ins = int(round(size * insert_frac))
        n_upd = size - n_del - n_ins
        live = np.flatnonzero(~self.deleted)
        picked = rng.choice(live, size=n_upd + n_del, replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        ins = np.arange(self.size, self.size + n_ins)
        stamps = stamp_base_us + rng.permutation(size).astype(np.int64)
        idx = np.concatenate([upd, dele, ins])
        created = np.concatenate([self.created[upd], self.created[dele],
                                  stamps[n_upd + n_del:]])
        deleted = np.zeros(size, dtype=bool)
        deleted[n_upd:n_upd + n_del] = True
        names = [f"User {i + 1} r{batch_no}" for i in upd]
        names += [self.name(i) for i in dele]
        names += [f"User {i + 1}" for i in ins]
        table = pa.table({
            "id": pa.array(idx + 1, pa.int64()),
            "name": pa.array(names, pa.string()),
            "email": pa.array([f"user{i + 1}@example.com" for i in idx], pa.string()),
            "created_at": pa.array(created, pa.int64()).cast(UTC),
            "updated_at": pa.array(stamps, pa.int64()).cast(UTC),
            "is_deleted": pa.array(deleted),
            "_deleted": pa.array(np.zeros(size, dtype=bool)),
        })

        def apply() -> None:
            self.created = np.concatenate([self.created, stamps[n_upd + n_del:]])
            self.updated = np.concatenate([self.updated, np.zeros(n_ins, np.int64)])
            self.deleted = np.concatenate([self.deleted, np.zeros(n_ins, bool)])
            self.rev = np.concatenate([self.rev, np.zeros(n_ins, np.int32)])
            self.updated[idx] = stamps
            self.deleted[dele] = True
            self.rev[upd] = batch_no

        return table, apply

    # -- exports ----------------------------------------------------------

    def expect(self, export_type: str, watermark_us: int | None) -> Expected:
        if export_type == "full":
            mask = ~self.deleted
        elif watermark_us is None:
            mask = np.zeros(self.size, dtype=bool)
        elif export_type == "incremental":
            mask = (self.updated > watermark_us) & ~self.deleted
        else:
            mask = self.updated > watermark_us
        rows = int(mask.sum())
        wm = int(self.updated[mask].max()) if rows else None
        return Expected(rows, wm, mask)

    def quantile_stamp(self, q: float) -> int:
        return int(np.quantile(self.updated, q, method="lower"))

    def render(self, export_type: str, mask: np.ndarray) -> bytes:
        """The expected CSV bytes for the rows in ``mask``."""
        ids = np.flatnonzero(mask)
        ids = ids[np.argsort(self.updated[ids], kind="stable")]
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        delta = export_type == "delta"
        w.writerow(DELTA_HEADER if delta else EXPORT_HEADER)
        for i in ids:
            row = [int(i) + 1, self.name(i), f"user{i + 1}@example.com",
                   iso(self.created[i]), iso(self.updated[i]),
                   "True" if self.deleted[i] else "False"]
            if delta:
                op = ("DELETE" if self.deleted[i] else
                      "INSERT" if self.created[i] == self.updated[i] else "UPDATE")
                row.insert(0, op)
            w.writerow(row)
        return buf.getvalue().encode()


def csv_mismatch(actual: bytes, expected: bytes) -> str | None:
    """None when ``actual`` equals ``expected`` byte for byte, up to the
    order of rows that share one ``updated_at`` (the contract orders by
    ``updated_at`` only); otherwise a one-line reason."""
    if actual == expected:
        return None
    a_lines, e_lines = actual.split(b"\n"), expected.split(b"\n")
    if a_lines[0] != e_lines[0]:
        return f"header {a_lines[0][:80]!r} != {e_lines[0][:80]!r}"
    if a_lines[-1] != b"":
        return "file does not end with a newline"
    if len(a_lines) != len(e_lines):
        return f"{len(a_lines) - 2} rows, expected {len(e_lines) - 2}"
    body = a_lines[1:-1]
    stamps = [line.split(b",")[-2] for line in body]
    if any(x > y for x, y in zip(stamps, stamps[1:])):
        return "rows are not ordered by updated_at"
    if sorted(body) != sorted(e_lines[1:-1]):
        bad = next(x for x, y in zip(sorted(body), sorted(e_lines[1:-1])) if x != y)
        return f"row differs: {bad[:120]!r}"
    return None
