"""The ``etl_changefeed`` workload: the reference's own ETL story.

Set-up creates the ``extracted`` LogTable (change capture on) from seeded
documents and bootstraps ``transformed`` from its change feed; that
bootstrap is the warm-up. One cycle then runs, in order:

1. ``etl.run_batch_etl`` on generated documents (extract, staged load,
   ``transform_items``, ``upsert_batch``, audit row);
2. ``LogTable.upsert`` of new documents plus a seeded ``UPDATE_SHARE``
   of the live ones into ``extracted``;
3. ``run_changefeed_transform`` from ``extracted`` into ``transformed``
   through ``transform_items``, with an audit row;
4. ``LOOKUPS`` point lookups and one full scan of ``transformed``;
5. ``checkpoint_log``, ``compact`` and ``vacuum`` on both tables,
   keeping what the consumer cursor needs. A run times a single cycle,
   so maintenance runs every cycle and each cycle carries all of it.

The seed chooses the documents, the update set, the ids and the clock.
"""

from __future__ import annotations

import functools
import os
import statistics
import uuid
from collections import Counter
from datetime import datetime, timedelta

import pandas as pd
import pyarrow.parquet as pq

import probes
from durable_functions_cosmosdb_etl_spark.etl import run_batch_etl
from durable_functions_cosmosdb_etl_spark.operators.transform import transform_items
from durable_functions_cosmosdb_etl_spark.sinks.logtable import LogTable
from durable_functions_cosmosdb_etl_spark.sinks.writers import latest_view
from durable_functions_cosmosdb_etl_spark.streaming.changefeed import (
    read_cursor,
    run_changefeed_transform,
)

# documents per unit of scale factor (the default scale 0.01 gives a
# 1000-doc table, 50 new docs and 50 batch docs per cycle)
BASE_DOCS = 100_000
NEW_DOCS = 5_000
UPDATE_SHARE = 0.02
BATCH_DOCS = 5_000
LOOKUPS = 2
# LogTable's default is 64 buckets. On 4 cores with under 2% CPU steal,
# one untraced run (set-up and one timed cycle) took 67 s in the default
# layout (cycle 30.9 s, 102 CPU s) against 49-53 s with 8 buckets (cycle
# 19.9-21.4 s, 69-73 CPU s); the default does not leave room for the
# repeated runs a comparison needs. The layout sets the files each commit
# writes, so the per-commit file and byte figures are those of 8 buckets.
N_BUCKETS = 8
# transform lineage: which drain last wrote the row, and when
LINEAGE = ("transform_timestamp", "transform_batch")


class EtlWorkload:
    def __init__(self, run) -> None:
        self.run = run
        self.base_docs = int(BASE_DOCS * run.scale)
        self.new_docs = int(NEW_DOCS * run.scale)
        self.batch_docs = int(BATCH_DOCS * run.scale)
        self.root = os.path.join(run.work, "etl")
        self.ep1_dir = os.path.join(self.root, "ep1")
        self.audit_dir = os.path.join(self.ep1_dir, "orchestration_runs")
        self.cursor = os.path.join(self.root, "cursor.json")
        self.source = self.target = None
        # the seed fixes the clock: a whole minute in 2024
        self.clock0 = datetime(2024, 1, 1) + timedelta(
            minutes=run.rng.randrange(0, 60 * 24 * 300)
        )
        self.live_ids: list[str] = []
        self.seq = 0
        self.cycle = 0
        self.drains = 0
        self.batch_runs = 0
        self.lookup_keys: list[str] = []
        # (drain stats, docs the cycle changed), one per timed or warm cycle
        self.cycle_drains: list[tuple[dict, int]] = []

    # ------------------------------------------------------------ inputs

    def _docs(self, n: int, clock: datetime, ids: list[str] | None = None):
        rng = self.run.rng
        rows = []
        for i in range(n):
            s = self.seq
            self.seq += 1
            doc_id = ids[i] if ids else str(uuid.UUID(int=rng.getrandbits(128)))
            blank = rng.random()
            rows.append((
                doc_id,
                clock.strftime("%m/%d/%Y %H:%M:%S"),
                "" if blank < 0.05 else f"Sample item #{s} at {clock:%H:%M}",
                "true",
                "  " if 0.05 <= blank < 0.08 else f"Item_{clock:%Y%m%H%M}_{s}",
                "Additional field info",
                f"Partition_{chr(65 + s % 3)}",
                s,
            ))
        return pd.DataFrame(rows, columns=[
            "id", "date", "desc", "done", "name", "pr", "logical_partition", "seq",
        ])

    def _transform(self, batch: str, clock: datetime):
        return functools.partial(
            transform_items, batch_id=batch, clock=clock, counter_col="seq"
        )

    def _drain(self, batch: str, clock: datetime) -> dict:
        self.drains += 1
        return run_changefeed_transform(
            self.run.spark, self.source, self.target, self.cursor,
            transform=self._transform(batch, clock), audit_dir=self.audit_dir,
        )

    # ------------------------------------------------------------ set-up

    def prepare(self) -> None:
        """Nothing to stage before the session starts."""

    def stage(self) -> None:
        """Create and bootstrap both tables."""
        spark = self.run.spark
        self.source = LogTable(
            spark, os.path.join(self.root, "extracted"), key="id",
            n_buckets=N_BUCKETS, change_capture=True,
        )
        self.target = LogTable(
            spark, os.path.join(self.root, "transformed"), key="id",
            n_buckets=N_BUCKETS,
        )
        base = self._docs(self.base_docs, self.clock0)
        self.live_ids = list(base["id"])
        self.lookup_keys = self.run.rng.sample(self.live_ids, LOOKUPS)
        self.source.create(self.run.spark.createDataFrame(base))
        self._drain(f"cf-{self.run.seed}-0", self.clock0)

    def warm_pass(self) -> None:
        """The bootstrap drain in ``stage`` is the warm-up."""

    # ------------------------------------------------------------ cycles

    def one_pass(self, traced: bool) -> dict:
        run = self.run
        self.cycle += 1
        c = self.cycle
        # the reference's timer fires every two minutes
        clock = self.clock0 + timedelta(minutes=2 * c)
        new = self._docs(self.new_docs, clock)
        upd_ids = run.rng.sample(self.live_ids, int(UPDATE_SHARE * len(self.live_ids)))
        changed = pd.concat([new, self._docs(len(upd_ids), clock, upd_ids)])
        self.live_ids += list(new["id"])
        res: dict = {}
        with run.pass_window(traced) as w:
            with w.op("etl.batch"):
                self.batch_runs += 1
                run_batch_etl(
                    run.spark, self.ep1_dir, count=self.batch_docs, clock=clock,
                    batch_id=f"ep1-{run.seed}-{c}", deterministic=True,
                )
            if traced:
                with w.probe():
                    versions = (self.source.version(), self.target.version())
            with w.op("logtable.ingest"):
                self.source.upsert(run.spark.createDataFrame(changed))
            with w.op("changefeed.drain"):
                stats = self._drain(f"cf-{run.seed}-{c}", clock)
            self.cycle_drains.append((stats, len(changed)))
            if traced:
                res["commits"] = self._commit_files(w, versions, len(changed),
                                                    stats["rows_upserted"])
            with w.op("logtable.lookup"):
                for k in self.lookup_keys:
                    self.target.snapshot(where=[("id", "==", k)]).collect()
            with w.op("logtable.scan"):
                self.target.snapshot().write.format("noop").mode("overwrite").save()
            with w.op("logtable.maintenance"):
                self._maintain()
        res.update(w.result)
        res["drain_stats"] = {
            k: stats[k] for k in ("rows_upserted", "rows_deleted", "capture_fallbacks")
        }
        ingest_drain = w.op_s("logtable.ingest") + w.op_s("changefeed.drain")
        # from the start of the ingest commit to the end of the drain
        res["fresh_s"] = w.ops["changefeed.drain"][1] - w.ops["logtable.ingest"][0]
        res["docs_per_s"] = stats["rows_upserted"] / ingest_drain
        return res

    def _maintain(self) -> None:
        for t in (self.source, self.target):
            t.checkpoint_log()
            t.compact()
        # the consumer's next feed starts at its cursor: keep that version
        self.source.vacuum(
            retain_versions=self.source.version() - read_cursor(self.cursor)
        )
        self.target.vacuum(retain_versions=0)

    # ------------------------------------------------------------ traced counters

    def _commit_files(self, w, versions, src_rows, tgt_rows) -> dict:
        """Files and bytes the commits since ``versions`` added, per table."""
        out = {}
        with w.probe():
            for label, t, v0, rows in (
                ("source", self.source, versions[0], src_rows),
                ("target", self.target, versions[1], tgt_rows),
            ):
                files = size = commits = 0
                for entry in t.history():
                    if entry["version"] <= v0:
                        continue
                    dirs = {a["unit"].rsplit("/", 1)[0] for a in entry["added"]}
                    ch = entry.get("changes") or {}
                    if ch.get("mode") == "unit":
                        dirs.add(ch["unit"])
                    commits += 1
                    for d in dirs:
                        for dirpath, _, names in os.walk(os.path.join(t.path, d)):
                            for n in names:
                                if n.endswith(".parquet"):
                                    files += 1
                                    size += os.stat(os.path.join(dirpath, n)).st_size
                out[label] = {
                    "commits": commits,
                    "files_per_commit": files / max(commits, 1),
                    "bytes_written_per_row": size / max(rows, 1),
                }
        return out

    # ------------------------------------------------------------ checks

    def check(self) -> None:
        """Output checks, run after the timed cycles."""
        run = self.run
        expected = self._transform("check", self.clock0)(self.source.snapshot())
        actual = self.target.snapshot()
        cols = [c for c in expected.columns if c not in LINEAGE]
        exp = Counter(map(tuple, expected.select(*cols).collect()))
        act = actual.select(*cols).collect()
        run.check("transformed equals transform_items(extracted)",
                  exp == Counter(map(tuple, act)))
        try:
            self.target.certify_unique()
            keys = {r["id"] for r in act}
            run.check("transformed holds one row per key",
                      len(act) == len(keys) == len(self.live_ids))
        except ValueError as exc:
            run.check(f"certify_unique: {exc}", False)
        audit = pq.read_table(self.audit_dir)
        run.check(
            "audit rows equal drains plus batch runs",
            audit.num_rows == self.drains + self.batch_runs
            and all(audit.column("succeeded").to_pylist()),
        )
        run.check(
            "each drain made exactly the changed docs visible",
            all(st["rows_upserted"] == n for st, n in self.cycle_drains),
        )
        # maintenance keeps what the cursor needs, so no feed may fall
        # back from the capture tier to the snapshot diff
        run.check(
            "each drain was served from the capture tier",
            all(st["capture_fallbacks"] == 0 for st, _ in self.cycle_drains),
        )
        run.check(
            "batch ETL kept every loaded doc",
            latest_view(run.spark, os.path.join(self.ep1_dir, "transformed")).count()
            == self.batch_docs * self.batch_runs,
        )

    def audit_rows(self) -> int:
        return pq.read_table(self.audit_dir).num_rows

    def summary(self, passes: list[dict]) -> dict[str, float]:
        """The end-to-end figures particular to this workload."""
        used = probes.dir_bytes(self.source.path) + probes.dir_bytes(self.target.path)
        return {
            "freshness_s": statistics.median(p["fresh_s"] for p in passes),
            "docs_per_s": statistics.median(p["docs_per_s"] for p in passes),
            "stored_bytes_per_doc": used / len(self.live_ids),
        }
