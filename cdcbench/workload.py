"""The CDC workloads: one client process, one caller, closed loop.

Both workloads keep a ``LogTable`` users table seeded from
``datagen.generate_users`` and drive the same public engine calls, so
every metric exists on both; they differ in table size and in the
operation mix. Each pass merges one change batch and then exports:
every consumer once on cdc_incremental, one consumer's turn on
cdc_full_bulk. Every export is checked against ``model.UsersModel``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as pads

from cdcbench.model import UsersModel, csv_mismatch, datetime_to_us, iso, us_to_datetime
from cdcbench.tracing import untraced
from cdc_export_system_spark import datagen, session
from cdc_export_system_spark.cdc import jobs as cdc_jobs
from cdc_export_system_spark.io.txn_table import LogTable
from cdc_export_system_spark.state.watermark import WatermarkStore


@dataclass(frozen=True)
class Shape:
    rows: int  # generated users
    consumers: int
    batch: int  # rows per change batch
    delete_frac: float
    insert_frac: float
    window: float = 0.0  # cdc_full_bulk: delta window, share of newest updated_at


SHAPES = {
    "cdc_incremental": {
        "full": Shape(rows=100_000, consumers=3, batch=500, delete_frac=0.03, insert_frac=0.10),
        "tiny": Shape(rows=4_000, consumers=2, batch=40, delete_frac=0.05, insert_frac=0.10),
    },
    "cdc_full_bulk": {
        "full": Shape(rows=250_000, consumers=3, batch=250, delete_frac=0.0, insert_frac=1.0,
                      window=0.10),
        "tiny": Shape(rows=6_000, consumers=2, batch=20, delete_frac=0.0, insert_frac=1.0,
                      window=0.10),
    },
}
SETUP_REPEATS = 3
# change batch b is stamped b minutes after the generator's pinned "now",
# later than every generated updated_at
STAMP_STEP_US = 60_000_000


@dataclass
class Samples:
    setup: list[float] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)
    merges: list[float] = field(default_factory=list)
    exports: list[tuple[str, float, int]] = field(default_factory=list)  # type, s, rows
    freshness: list[float] = field(default_factory=list)


class Workload:
    def __init__(self, name: str, shape: Shape, seed: int, run_dir: str, spark_conf: dict):
        self.name = name
        self.shape = shape
        self.seed = seed
        self.run_dir = run_dir
        self.spark_conf = spark_conf
        self.out_dir = os.path.join(run_dir, "out")
        self.consumers = [f"consumer {i}" for i in range(shape.consumers)]
        self.watermarks: dict[str, int | None] = {c: None for c in self.consumers}
        # merges some consumer has not exported yet: when the merge
        # returned, the consumers still to export it, the delays so far
        self.pending: list[tuple[float, set[str], list[float]]] = []
        self.samples = Samples()
        self.attempted = 0
        self.failures: list[str] = []
        self.check_s = 0.0  # benchmark-side checking, kept out of pass_s
        self.batch_no = 0
        self.file_no = 0
        self.spark = self.table = self.store = self.model = None
        self.timed_start = 0.0
        self.state_files = 0

    # -- set-up -----------------------------------------------------------

    def setup(self, process_start: float) -> None:
        """Set up SETUP_REPEATS times, each from a fresh Spark context
        (the first also launches the JVM and is timed from process
        start), and keep the last table."""
        tables = []
        for rep in range(SETUP_REPEATS):
            t0 = process_start if rep == 0 else time.monotonic()
            if self.spark is not None:
                self.spark.stop()
            self.spark = session.get_spark(app_name="cdcbench", extra_conf=self.spark_conf)
            users = datagen.generate_users(self.spark, self.shape.rows, seed=self.seed)
            root = os.path.join(self.run_dir, f"users-{rep}")
            self.table = LogTable.create(self.spark, root, users, "id",
                                         max_pk_hint=self.shape.rows)
            self.samples.setup.append(time.monotonic() - t0)
            tables.append(root)
        for root in tables[:-1]:
            shutil.rmtree(root)
        # version 1 is the only version yet, so every data file is live
        data = pads.dataset(tables[-1], format="parquet", ignore_prefixes=["_", "."])
        self.model = UsersModel.from_arrow(
            data.to_table(columns=["id", "created_at", "updated_at", "is_deleted"]))
        self.store = WatermarkStore(self.spark, os.path.join(self.run_dir, "state"))
        self.rng = np.random.default_rng([self.seed, 7])

    # -- operations -------------------------------------------------------

    def merge(self) -> None:
        """Merge the next change batch."""
        s = self.shape
        arrow, apply = self.model.change_batch(
            self.rng, self.batch_no + 1, s.batch,
            datetime_to_us(datagen.PINNED_NOW) + (self.batch_no + 1) * STAMP_STEP_US,
            s.delete_frac, s.insert_frac)
        self.batch_no += 1
        changes = self.spark.createDataFrame(arrow)
        self.attempted += 1
        t0 = time.monotonic()
        try:
            self.table.merge(changes)
        except Exception as exc:  # noqa: BLE001 — counted, and the run goes on
            self.failures.append(f"merge {self.batch_no}: {exc!r}")
            return
        t1 = time.monotonic()
        apply()
        self.samples.merges.append(t1 - t0)
        self.pending.append((t1, set(self.consumers), []))

    def export(self, consumer: str, export_type: str, compare_bytes: bool) -> None:
        """One start_export_job, checked. A successful export delivers
        every batch merged since the consumer's last one. A batch's
        freshness samples count once every consumer has exported it, so
        each counted batch gives one sample per consumer however many
        passes the run holds."""
        expected = self.model.expect(export_type, self.watermarks[consumer])
        self.file_no += 1
        filename = f"{export_type}_{consumer.replace(' ', '_')}_{self.file_no:06d}.csv"
        users = self.table.read()
        self.attempted += 1
        t0 = time.monotonic()
        try:
            job = cdc_jobs.start_export_job(users, self.store, export_type, consumer,
                                            self.out_dir, filename=filename)
        except Exception as exc:  # noqa: BLE001 — counted, and the run goes on
            job = repr(exc)
        t1 = time.monotonic()
        self._check_export(consumer, export_type, filename, job, expected, compare_bytes)
        self.check_s += time.monotonic() - t1
        if isinstance(job, dict):
            self.samples.exports.append((export_type, t1 - t0, job["rowsExported"]))
            for returned, waiting, delays in self.pending:
                if consumer in waiting:
                    waiting.discard(consumer)
                    delays.append(t1 - returned)
            for _, waiting, delays in self.pending:
                if not waiting:
                    self.samples.freshness += delays
            self.pending = [b for b in self.pending if b[1]]

    def _check_export(self, consumer, export_type, filename, job, expected, compare_bytes):
        path = os.path.join(self.out_dir, filename)
        problem = None
        if isinstance(job, str):
            problem = f"raised {job}"
        elif job["rowsExported"] != expected.rows:
            problem = f"rowsExported {job['rowsExported']}, expected {expected.rows}"
        elif expected.rows and not os.path.isfile(path):
            problem = "no file"
        elif expected.rows:
            with open(path, "rb") as f:
                data = f.read()
            last = data.rstrip(b"\n").rsplit(b"\n", 1)[-1]
            lines = data.count(b"\n") - 1
            want_wm = iso(expected.watermark_us)
            if lines != expected.rows:
                problem = f"{lines} rows in file, expected {expected.rows}"
            elif last.split(b",")[-2].decode() != want_wm:
                problem = f"last updated_at {last.split(b',')[-2]!r}, expected {want_wm}"
            elif compare_bytes:
                problem = csv_mismatch(data, self.model.render(export_type, expected.mask))
            os.remove(path)
        if problem is None:
            if expected.rows:
                self.watermarks[consumer] = expected.watermark_us
        else:
            self.failures.append(f"{filename}: {problem}")
            # resynchronise so one wrong export is counted once
            self.watermarks[consumer] = self.committed_watermark(consumer)

    def committed_watermark(self, consumer: str) -> int | None:
        wm = untraced(type(self.store).get)(self.store, consumer)
        return None if wm is None else datetime_to_us(wm)

    def set_window(self, consumer: str) -> None:
        """cdc_full_bulk: point the consumer's watermark at the newest
        ``window`` share of updated_at, outside any timed export."""
        stamp = self.model.quantile_stamp(1.0 - self.shape.window)
        self.store.upsert(consumer, us_to_datetime(stamp).replace(tzinfo=None))
        self.watermarks[consumer] = stamp

    # -- phases -----------------------------------------------------------

    def warm_up(self) -> None:
        """Untimed, checked. cdc_incremental: a merge, every consumer's
        initial full export, then one whole pass. cdc_full_bulk: the first
        consumer's turn, then each other consumer's full export. The cold
        turn takes about twice a warm one, and the full exports after it
        are still about a tenth slower than the timed ones."""
        if self.name == "cdc_incremental":
            self.merge()
            for c in self.consumers:
                self.export(c, "full", compare_bytes=False)
            self.one_pass(0)
        else:
            self._bulk_turn(self.consumers[0], compare_bytes=False)
            for c in self.consumers[1:]:
                self.export(c, "full", compare_bytes=False)

    def one_pass(self, p: int) -> None:
        """cdc_incremental: one merge, then each consumer's export, one of
        them checked byte for byte. cdc_full_bulk: one consumer's turn,
        the consumers in rotation; the delta of one turn in each rotation
        is checked byte for byte."""
        n = len(self.consumers)
        if self.name == "cdc_full_bulk":
            self._bulk_turn(self.consumers[p % n], compare_bytes=p % n == 0)
            return
        order = [self.consumers[(p + j) % n] for j in range(n)]
        self.merge()
        for j, c in enumerate(order):
            kind = "incremental" if (self.consumers.index(c) + p) % 2 == 0 else "delta"
            self.export(c, kind, compare_bytes=j == p % n)

    def _bulk_turn(self, consumer: str, compare_bytes: bool) -> None:
        """A merge of new sign-ups, then the consumer's full export, its
        window and its delta export."""
        self.merge()
        self.export(consumer, "full", compare_bytes=False)
        self.set_window(consumer)
        self.export(consumer, "delta", compare_bytes=compare_bytes)

    def measure(self, seconds: float) -> None:
        """Run whole passes until ``seconds`` have passed. The last pass
        overruns rather than being cut, so every pass is complete and the
        pass count changes only when a pass's length crosses a fraction
        of ``seconds``. On cdc_full_bulk at least one rotation of turns
        runs, so that some batch reaches every consumer."""
        s = self.samples
        # drop warm-up samples
        s.merges.clear(), s.exports.clear(), s.freshness.clear()
        self.pending.clear()
        min_passes = len(self.consumers) if self.name == "cdc_full_bulk" else 1
        self.timed_start = time.monotonic()
        p = 1
        while True:
            t0, c0 = time.monotonic(), self.check_s
            self.one_pass(p)
            self.samples.passes.append(time.monotonic() - t0 - (self.check_s - c0))
            p += 1
            if time.monotonic() - self.timed_start >= seconds and p > min_passes:
                break
        state = os.path.join(self.run_dir, "state")
        self.state_files = sum(len(files) for _, _, files in os.walk(state))

    def final_check(self) -> None:
        """Every consumer's committed watermark equals the model's."""
        for c in self.consumers:
            self.attempted += 1
            got = self.committed_watermark(c)
            if got != self.watermarks[c]:
                self.failures.append(
                    f"final watermark of {c}: {got}, expected {self.watermarks[c]}")

    # -- results ----------------------------------------------------------

    def metrics(self) -> dict[str, tuple[float, str]]:
        """End-to-end metrics over the timed passes. On cdc_full_bulk the
        export median is over its full exports, the workload's subject;
        its deltas still count in export_rows_per_s."""
        s = self.samples
        lat = [t for kind, t, _ in s.exports
               if self.name != "cdc_full_bulk" or kind == "full"]
        return {
            "setup_s": (statistics.median(s.setup), "s"),
            "pass_s": (statistics.median(s.passes), "s"),
            "export_p50_s": (statistics.median(lat), "s"),
            "freshness_p50_s": (statistics.median(s.freshness), "s"),
            "merge_p50_s": (statistics.median(s.merges), "s"),
            "export_rows_per_s": (sum(r for _, _, r in s.exports)
                                  / sum(t for _, t, _ in s.exports), "rows/s"),
        }

    def export_tail(self) -> dict:
        """The highest percentile with at least ten timed samples beyond it."""
        lat = sorted(t for _, t, _ in self.samples.exports)
        n = len(lat)
        if n < 11:
            return {"n": n, "percentile": None, "value_s": None}
        return {"n": n, "percentile": round(100 * (n - 10) / n, 1), "value_s": lat[n - 11]}
