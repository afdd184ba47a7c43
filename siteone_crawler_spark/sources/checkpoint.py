"""Checkpointed crawl-state store — the Iceberg table contract on local disk.

The north rule calls for Iceberg; the Iceberg runtime jars are not in this
image, so this module implements the same contract (atomic per-wave commits,
partitioned tables, resume from last committed snapshot) as Parquet
directories plus a JSON manifest whose replacement is atomic (os.replace).
Swapping in real Iceberg is a one-class change: `write_table` ->
`df.writeTo(...).append()` and the manifest becomes Iceberg's own snapshot
log. The reference has NO resumability (a killed run loses the frontier,
/root/reference/src/engine/crawler.rs:237-257) — this store is the
capability the north rule adds.

Layout:
    root/manifest.json                  {"last_wave": K, "done": bool, ...}
    root/<table>/wave=K/part-*.parquet  per-wave appends (frontier, deferred,
                                        visited, skipped, basename_events,
                                        metrics, lineage; the seen set's
                                        seen and blooms, operators/seen.py)
    root/seen/wave=K/bucket=B/...       hive-partitioned by bucket

A wave K is visible iff manifest.last_wave >= K, so a crash between table
writes and the manifest bump simply replays wave K on resume — writes are
idempotent per (table, wave) because each wave dir is overwritten whole.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ------------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def read_manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"last_wave": -1, "done": False, "config": None}
        with open(p) as f:
            return json.load(f)

    def commit_wave(self, wave: int, done: bool, extra: dict | None = None) -> None:
        m = self.read_manifest()
        m["last_wave"] = wave
        m["done"] = done
        if extra:
            m.update(extra)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path())  # atomic commit point

    # -- tables ----------------------------------------------------------------
    def _wave_dir(self, table: str, wave: int) -> str:
        return os.path.join(self.root, table, f"wave={wave}")

    def write_table(
        self,
        table: str,
        wave: int,
        df: DataFrame,
        max_files: int = 1,
        partition_by: str | None = None,
    ) -> None:
        """Per-wave state tables are small relative to the docs corpus; cap
        output files so later multi-wave scans don't fragment into hundreds
        of tiny-file partitions. At cluster scale `max_files` would instead be
        sized to keep ~128MB per file. `partition_by` lays the wave out as
        hive-style subdirectories (the seen table partitions by bucket so
        the exact anti-join can partition-prune)."""
        w = df.coalesce(max_files).write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(self._wave_dir(table, wave))

    def read_wave(self, table: str, wave: int, schema: str | None = None) -> DataFrame:
        d = self._wave_dir(table, wave)
        if not self._has_parquet(d):
            if schema is None:
                raise FileNotFoundError(d)
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(d)

    def count_rows(self, table: str, wave: int) -> int:
        """Row count from parquet footers (driver-side metadata read — no
        Spark job). Recursive: partitioned tables nest bucket=* subdirs."""
        import pyarrow.parquet as pq

        d = self._wave_dir(table, wave)
        if not os.path.isdir(d):
            return 0
        total = 0
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        return total

    def has_wave(self, table: str, wave: int) -> bool:
        """Whether a wave of `table` was ever written (even empty). Iceberg
        swap: a snapshot/partition existence check instead of a dir probe."""
        return os.path.isdir(self._wave_dir(table, wave))

    def iter_column_chunks(self, table: str, wave: int, columns: list[str]):
        """Driver-side Arrow scan of a wave dir, one file at a time (no Spark
        job) — for tiny state decisions like 'did this wave see any non-200?'.
        This is the ONE place engine logic reads table DATA outside Spark;
        an Iceberg swap reimplements it over the table scan API (or answers
        the caller's predicate from column stats) instead of POSIX listings."""
        import pyarrow.parquet as pq

        d = self._wave_dir(table, wave)
        if not os.path.isdir(d):
            return
        for root, _dirs, files in os.walk(d):
            for fn in sorted(files):
                if fn.endswith(".parquet"):
                    yield pq.read_table(os.path.join(root, fn), columns=columns)

    def min_stat(self, table: str, wave: int, column: str):
        """Minimum value of `column` over a wave dir, from parquet row-group
        footer statistics (driver-side metadata read — no Spark job).
        Returns None when the dir is missing, empty, or stats are absent."""
        import pyarrow.parquet as pq

        d = self._wave_dir(table, wave)
        if not os.path.isdir(d):
            return None
        mn = None
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            try:
                idx = md.schema.names.index(column)
            except ValueError:
                continue
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is not None and st.has_min_max:
                    mn = st.min if mn is None else min(mn, st.min)
        return mn

    def collect_lineage(self, wave: int, tables: tuple[str, ...]) -> list[tuple]:
        """Per-partition lineage for a committed wave: one row per output file
        (file == partition at write time) with its row count and byte size,
        read from parquet footers (driver-side, no job).
        Rows: (wave, table, file, n_rows, n_bytes)."""
        import pyarrow.parquet as pq

        rows: list[tuple] = []
        for t in tables:
            d = self._wave_dir(t, wave)
            if not os.path.isdir(d):
                continue
            for fn in sorted(os.listdir(d)):
                if fn.endswith(".parquet"):
                    p = os.path.join(d, fn)
                    rows.append(
                        (wave, t, fn, pq.ParquetFile(p).metadata.num_rows, os.path.getsize(p))
                    )
        return rows

    def read_all_partitioned(
        self, table: str, upto_wave: int, schema: str, columns: list[str]
    ) -> DataFrame:
        """read_all for hive-partitioned tables (e.g. seen's bucket=K dirs):
        a shared basePath makes Spark treat wave and bucket as partition
        columns consistently across the committed wave roots; `columns`
        projects away the wave partition column."""
        dirs = [
            self._wave_dir(table, w)
            for w in range(upto_wave + 1)
            if self._has_parquet(self._wave_dir(table, w))
        ]
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return (
            self.spark.read.option("basePath", os.path.join(self.root, table))
            .parquet(*dirs)
            .select(*columns)
        )

    @staticmethod
    def _has_parquet(d: str) -> bool:
        """True when the dir holds at least one parquet file (possibly under
        hive-partition subdirs). An empty-DataFrame write creates the dir but
        zero files — reading such dirs alone fails schema inference."""
        if not os.path.isdir(d):
            return False
        for _root, _dirs, files in os.walk(d):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read_all(self, table: str, upto_wave: int, schema: str | None = None) -> DataFrame:
        """Union of committed waves 0..upto_wave (single multi-path parquet
        scan — one job, partition-prunable)."""
        dirs = [
            self._wave_dir(table, w)
            for w in range(upto_wave + 1)
            if self._has_parquet(self._wave_dir(table, w))
        ]
        if not dirs:
            if schema is None:
                raise FileNotFoundError(f"{table} has no committed waves")
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(*dirs)
