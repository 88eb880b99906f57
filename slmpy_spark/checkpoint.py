"""Checkpointer — per-iteration state persistence, lineage & metrics
(SURVEY.md S6, §5.3).

Two backends behind one interface:

- ``backend="parquet"`` (default, hermetic): directory layout
      {root}/{run_id}/{state}/step={k}/          parquet snapshot
      {root}/{run_id}/{state}/step={k}/_SUCCESS  atomicity marker
      {root}/{run_id}/metrics.jsonl              append-only metrics
- ``backend="table"`` (Iceberg-shaped, catalog-backed): snapshots are
  V2 tables ``{namespace}.{run_id}_{state}_s{k}`` written with
  ``df.writeTo(...).using(table_format).createOrReplace()`` and read
  back with ``spark.read.table``; metrics append to
  ``{namespace}.{run_id}_metrics``.  Production use passes an Iceberg
  catalog namespace (e.g. ``ice.graph``) and ``table_format="iceberg"``
  — snapshot atomicity/time-travel then come from Iceberg commits.
  The sandbox ships no Iceberg runtime jar, so tests exercise this
  code path against the session catalog with
  ``table_format="parquet"`` (same writeTo/createOrReplace surface).

`save_state` returns a *re-read* DataFrame: the caller's lineage is
truncated at the checkpoint (the whole point — Catalyst otherwise
replans a k-deep join tree at iteration k).

`resume`/`latest_step` scan for the newest complete snapshot, which is
exactly the "resumable mid-convergence" contract of the north star.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class Checkpointer:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        run_id: str | None = None,
        backend: str = "parquet",
        namespace: str | None = None,
        table_format: str = "iceberg",
    ):
        if backend not in ("parquet", "table"):
            raise ValueError(f"unknown backend {backend!r}")
        self.spark = spark
        self.root = root.rstrip("/") if root else root
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.backend = backend
        self.namespace = namespace
        self.table_format = table_format
        self._metrics_seq = 0
        if backend == "parquet":
            os.makedirs(self._run_dir, exist_ok=True)
        elif not namespace:
            raise ValueError('backend="table" requires a catalog namespace')

    @property
    def _run_dir(self) -> str:
        return f"{self.root}/{self.run_id}"

    def _state_path(self, state: str, step: int) -> str:
        return f"{self._run_dir}/{state}/step={step}"

    def _table(self, state: str, step: int | None = None) -> str:
        suffix = f"_s{step}" if step is not None else ""
        return f"{self.namespace}.{self.run_id}_{state}{suffix}"

    # ------------------------------------------------------------ save

    def save_state(self, state: str, step: int, df: DataFrame) -> DataFrame:
        """Persist a snapshot; returns the re-read frame (fresh lineage)."""
        if self.backend == "table":
            tbl = self._table(state, step)
            try:
                df.writeTo(tbl).using(self.table_format).createOrReplace()
            except Exception:
                # V1 session-catalog tables lack REPLACE TABLE AS SELECT;
                # Iceberg catalogs take the atomic createOrReplace above
                self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
                df.writeTo(tbl).using(self.table_format).create()
            return self.spark.read.table(tbl)
        path = self._state_path(state, step)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def _append(self, tbl: str, df: DataFrame) -> None:
        """Append `df` to table `tbl`, creating it on first use."""
        try:
            df.writeTo(tbl).append()
        except Exception:
            try:
                df.write.insertInto(tbl)  # V1 session-catalog fallback
            except Exception:
                df.writeTo(tbl).using(self.table_format).create()

    def _log_rows(self, rows: list[dict]) -> None:
        """The one metrics writer: stamps `run_id`, one `ts` and
        consecutive `seq` numbers on `rows`, then appends them with one
        table append (table backend) or one metrics.jsonl write."""
        ts = time.time()
        rows = [
            {"run_id": self.run_id, "ts": ts, "seq": self._metrics_seq + i, **row}
            for i, row in enumerate(rows)
        ]
        self._metrics_seq += len(rows)
        if self.backend == "table":
            mdf = self.spark.createDataFrame(
                [(r["run_id"], r["ts"], r["seq"], json.dumps(r)) for r in rows],
                "run_id string, ts double, seq long, payload string",
            )
            self._append(self._table("metrics"), mdf)
            return
        with open(f"{self._run_dir}/metrics.jsonl", "a") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)

    def log_metric(self, **row) -> None:
        """Append one metrics row (op/level/iter/partition counts/...)."""
        self._log_rows([row])

    def log_partition_metrics(self, df: DataFrame, op: str, **ctx) -> int:
        """Per-partition lineage rows (north star; SURVEY §2.1 metrics
        schema): runs one mapInPandas pass over `df` that emits, per
        physical partition, (partition_id, n_rows/edges_processed,
        wall_ms), and appends them as metrics rows tagged with `op` and
        any extra context.  Returns the number of partitions seen.
        The pass is a separate cheap action — call it on a materialized
        frame, at per-level (not per-sweep) granularity.  Its one small
        row per partition is collected and written like log_metric's."""

        def _stats(batches):
            from pyspark import TaskContext
            import time as _t

            t0 = _t.time()
            n = 0
            for pdf in batches:
                n += len(pdf)
            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else -1
            import pandas as _pd

            yield _pd.DataFrame(
                {
                    "partition_id": [pid],
                    "edges_processed": [n],
                    "wall_ms": [(_t.time() - t0) * 1000.0],
                }
            )

        stats = df.mapInPandas(
            _stats, "partition_id int, edges_processed long, wall_ms double"
        )
        rows = sorted(stats.collect(), key=lambda r: r["partition_id"])
        self._log_rows([{"op": op, **r.asDict(), **ctx} for r in rows])
        return len(rows)

    # ---------------------------------------------------------- resume

    def latest_step(self, state: str) -> int | None:
        """Highest step with a complete snapshot."""
        if self.backend == "table":
            pat = re.compile(re.escape(f"{self.run_id}_{state}_s") + r"(\d+)$")
            steps = []
            # SHOW TABLES IN <ns> takes the FULL (possibly multi-part)
            # namespace — e.g. 'ice.graph' lists the Iceberg catalog's
            # db, not a same-named db in the current catalog (which is
            # what listTables on the last part alone would do)
            for t in self.spark.sql(f"SHOW TABLES IN {self.namespace}").collect():
                m = pat.match(t["tableName"])
                if m:
                    steps.append(int(m.group(1)))
            return max(steps) if steps else None
        d = f"{self._run_dir}/{state}"
        if not os.path.isdir(d):
            return None
        steps = []
        for name in os.listdir(d):
            if name.startswith("step=") and os.path.exists(f"{d}/{name}/_SUCCESS"):
                steps.append(int(name.split("=", 1)[1]))
        return max(steps) if steps else None

    def load_state(self, state: str, step: int | None = None) -> DataFrame | None:
        if step is None:
            step = self.latest_step(state)
        if step is None:
            return None
        if self.backend == "table":
            try:
                return self.spark.read.table(self._table(state, step))
            except Exception:
                return None
        path = self._state_path(state, step)
        if not os.path.exists(f"{path}/_SUCCESS"):
            return None
        return self.spark.read.parquet(path)

    def metrics(self) -> list[dict]:
        if self.backend == "table":
            try:
                rows = self.spark.read.table(self._table("metrics")).collect()
            except Exception:
                return []
            return sorted(
                (json.loads(r["payload"]) for r in rows), key=lambda d: d["seq"]
            )
        p = f"{self._run_dir}/metrics.jsonl"
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]
