"""``lakehouse``: one writer/reader runs a seeded schedule of operations on
an append table seeded from ``orders`` (150k rows), and checks every read
against an in-memory pandas model of the table.

A unit is one maintenance cycle: microbatch appends with stats, keyed
upserts with hot-key skew, a predicate delete, a pruned probe read after
every commit, view refreshes, then compaction, DV merge and vacuum, and a
full read of the table and the view. The table persists across units, so
unit ``k`` always starts from the state units ``0..k-1`` left.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from cuplyr_spark.sources import connectors as C
from cuplyr_spark.sources import readers
from cuplyr_spark.sources import views as V

import datagen
from common import Workload, frames_equal, median, tail
from spans import dir_files, written

WHY = (
    "sources.connectors and sources.views do nearly all the work: commits, "
    "DV writes, pruned reads, compaction and incremental view refresh"
)
N_SEED = 150_000
N_CUST = 15_000
APPEND_ROWS = 3_000
UPSERT_ROWS = 2_000
HOT_KEYS = 200
COMMITS = ("append", "append", "upsert", "delete")
COMPACT_TARGET = 1 << 20  # fold segments under 1 MiB; the seed segment stays
VIEW_GROUPS = ["o_orderstatus", "o_orderpriority"]
VIEW_AGGS = {"n": ("count", None), "total": ("sum", "o_totalprice"),
             "max_price": ("max", "o_totalprice")}
COMMIT_KINDS = {"sources.connectors.append", "sources.connectors.upsert",
                "sources.connectors.delete", "sources.connectors.compact",
                "sources.connectors.merge_dvs"}


class Lakehouse(Workload):
    name = "lakehouse"
    why = WHY
    op_span_metrics = {
        **{f"sources.connectors.{k}_s": f"sources.connectors.{k}"
           for k in ("append", "upsert", "delete", "read", "compact", "merge_dvs", "vacuum")},
        "sources.views.refresh_s": "sources.views.refresh",
    }

    def setup_inputs(self, rng):
        os.makedirs(self.data_dir, exist_ok=True)
        seed = datagen.orders_rows(rng, np.arange(N_SEED), N_CUST)
        self.seed_path = f"{self.data_dir}/orders.parquet"
        pq.write_table(seed, self.seed_path)
        self.model = seed.to_pandas()
        self.next_key = N_SEED
        self.hot = rng.choice(N_SEED, HOT_KEYS, replace=False)
        return {"orders": {"rows": N_SEED, "bytes": os.path.getsize(self.seed_path)}}

    def prepare(self):
        self.table = f"{self.work_dir}/orders_table"
        self.view = f"{self.work_dir}/orders_view"
        self.batches = f"{self.work_dir}/batches"
        os.makedirs(self.batches)
        self.amp: dict[str, list[float]] = {"write_amp": [], "space_amp": []}
        C.append_snapshot(readers.read_parquet(self.spark, self.seed_path), self.table)
        V.create_append_view(self.spark, self.table, self.view, VIEW_GROUPS, VIEW_AGGS)

    # -- inputs --------------------------------------------------------------
    def _batch(self, rng, kind: str) -> tuple[str, pd.DataFrame]:
        if kind == "append":
            keys = np.arange(self.next_key, self.next_key + APPEND_ROWS)
            self.next_key += APPEND_ROWS
        else:  # upsert: a seeded hot share, the rest uniform, 10% new keys
            hot_share = rng.uniform(0.3, 0.7)
            n_hot, n_new = int(UPSERT_ROWS * hot_share), UPSERT_ROWS // 10
            keys = np.concatenate([
                rng.choice(self.hot, n_hot),
                rng.integers(0, self.next_key, UPSERT_ROWS - n_hot - n_new),
                np.arange(self.next_key, self.next_key + n_new),
            ])
            self.next_key += n_new
            keys = np.unique(keys)
        table = datagen.orders_rows(rng, keys, N_CUST)
        path = f"{self.batches}/{kind}-{self.unit_index}-{len(self.ops)}.parquet"
        pq.write_table(table, path)
        return path, table.to_pandas()

    def _key_range(self, rng, width: int) -> str:
        lo = int(rng.integers(0, self.next_key - width))
        return f"o_orderkey >= {lo} and o_orderkey < {lo + width}"

    # -- ops ------------------------------------------------------------------
    def _commit(self, kind: str, fn):
        """Run one table-changing op and account the bytes it wrote."""
        before = dir_files(self.table)
        with self.timed(f"sources.connectors.{kind}"):
            out = fn()
        nbytes, nfiles = written(before, dir_files(self.table))
        self.bytes_written += nbytes
        self.files_written += nfiles
        return out

    def append(self, path, rows):
        self._commit("append", lambda: C.append_snapshot(
            readers.read_parquet(self.spark, path), self.table))
        self.model = pd.concat([self.model, rows], ignore_index=True)
        return True

    def upsert(self, path, rows):
        _, replaced, appended = self._commit("upsert", lambda: C.upsert_append_rows(
            readers.read_parquet(self.spark, path), self.table, key="o_orderkey"))
        hit = self.model["o_orderkey"].isin(rows["o_orderkey"])
        self.model = pd.concat([self.model[~hit], rows], ignore_index=True)
        return replaced == int(hit.sum()) and appended == len(rows)

    def delete(self, predicate):
        _, deleted = self._commit("delete", lambda: C.delete_append_rows(
            self.spark, self.table, where=predicate))
        hit = self.model.eval(predicate)
        self.model = self.model[~hit]
        return deleted == int(hit.sum())

    def probe(self, predicate) -> bool:
        with self.timed("sources.connectors.read"):
            frame = C.read_append_snapshot(self.spark, self.table, where=predicate)
            got = frame.select(*self.model.columns).collect()
        if self.traced:
            self.note("sources.connectors.files_scanned_per_live_file",
                      len(frame.df.inputFiles()) / self.live_files())
        want = self.model[self.model.eval(predicate)]
        return frames_equal(got, want)

    def live_files(self) -> int:
        return len(C.read_append_snapshot(self.spark, self.table).df.inputFiles())

    def refresh(self) -> bool:
        with self.timed("sources.views.refresh"):
            V.refresh_append_view(self.spark, self.view)
        if self.traced:
            self.note("sources.views.refresh_jobs", self._last["spark"]["jobs"])
        return True

    def read_view(self) -> bool:
        with self.timed("sources.views.read"):
            got = V.read_append_view(self.spark, self.view).collect()
        g = self.model.groupby(VIEW_GROUPS)["o_totalprice"]
        want = pd.DataFrame({"n": g.size(), "total": g.sum(), "max_price": g.max()}).reset_index()
        got = got[VIEW_GROUPS + list(VIEW_AGGS)]
        return frames_equal(got.astype({"n": "int64"}), want)

    def scan(self) -> bool:
        with self.timed("sources.connectors.scan"):
            got = C.read_append_snapshot(self.spark, self.table).select(*self.model.columns).collect()
        return frames_equal(got, self.model)

    def compact(self) -> bool:
        self._commit("compact", lambda: C.compact_append_snapshot(
            self.spark, self.table, target_file_bytes=COMPACT_TARGET))
        return True

    def merge_dvs(self) -> bool:
        self._commit("merge_dvs", lambda: C.merge_append_dvs(self.spark, self.table))
        return True

    def vacuum(self) -> bool:
        with self.timed("sources.connectors.vacuum"):
            C.vacuum_append_snapshot(self.table, keep_last=2, spark=self.spark,
                                     orphan_grace_hours=0)
        return True

    # -- the unit ----------------------------------------------------------------
    def run_unit(self, rng):
        """Commits in a seeded order, each followed by a probe read; then
        compaction and DV merge, the view refresh, vacuum (the view is
        refreshed before history is pruned), and full reads of the table
        and the view."""
        self.bytes_written = self.files_written = 0
        user_bytes = 0
        for i in rng.permutation(len(COMMITS)):
            kind = COMMITS[i]
            if kind == "delete":
                self.attempt(f"sources.connectors.{kind}", self.delete, self._key_range(rng, 500))
            else:
                path, rows = self._batch(rng, kind)
                user_bytes += os.path.getsize(path)
                self.attempt(f"sources.connectors.{kind}", getattr(self, kind), path, rows)
            self.attempt("sources.connectors.read", self.probe, self._key_range(rng, 300))
        self.attempt("sources.connectors.compact", self.compact)
        self.attempt("sources.connectors.merge_dvs", self.merge_dvs)
        self.attempt("sources.views.refresh", self.refresh)
        self.attempt("sources.connectors.vacuum", self.vacuum)
        self.attempt("sources.connectors.scan", self.scan)
        self.attempt("sources.views.read", self.read_view)
        self.account(user_bytes)

    def account(self, user_bytes: int) -> None:
        on_disk = sum(dir_files(self.table).values())
        live = f"{self.work_dir}/tmp/live.parquet"
        pq.write_table(pa.Table.from_pandas(self.model, preserve_index=False), live)
        live_bytes = os.path.getsize(live)
        os.remove(live)
        if not self.recording:
            return
        if not self.traced:
            self.amp["write_amp"].append(self.bytes_written / user_bytes)
            self.amp["space_amp"].append(on_disk / live_bytes)
        else:
            hist = C.append_history(self.table, self.spark)
            self.note("sources.connectors.bytes_written", self.bytes_written)
            self.note("sources.connectors.files_written", self.files_written)
            self.note("sources.connectors.segments_live", hist[-1]["n_segments"])
            self.note("sources.connectors.dv_dirs_live", sum(
                1 for root, dirs, _ in os.walk(self.table) for d in dirs if d.startswith("dv")))

    # -- reduction -------------------------------------------------------------
    def issue_metrics(self):
        def p50(kind):
            return median([o["s"] for o in self.ops if o["kind"] == kind and o["ok"]
                           and not o["traced"]])

        commits = [o["s"] for o in self.ops if o["kind"] in COMMIT_KINDS and o["ok"]
                   and not o["traced"]]
        pct, commit_tail = tail(commits)
        return {
            "append_s.p50": (p50("sources.connectors.append"), "s"),
            "upsert_s.p50": (p50("sources.connectors.upsert"), "s"),
            "refresh_s.p50": (p50("sources.views.refresh"), "s"),
            f"commit_s.tail (p{pct:g} of {len(commits)})": (commit_tail, "s"),
            "probe_read_s.p50": (p50("sources.connectors.read"), "s"),
            "compact_s.p50": (p50("sources.connectors.compact"), "s"),
            "write_amp": (median(self.amp["write_amp"]), "ratio"),
            "space_amp": (median(self.amp["space_amp"]), "ratio"),
        }
