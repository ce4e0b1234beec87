"""Table + checkpoint layer — Iceberg-shaped, parquet-backed locally.

The engine targets Iceberg tables (BASELINE.json north_rule); the sandbox
has no Iceberg runtime jar, so this thin layer provides the same
semantics over partitioned parquet + a manifest JSON:

- atomic-ish overwrite-by-table with a recorded snapshot id
- per-stage and per-partition-chunk checkpoint rows (resumable builds,
  the analog of the reference's commit-every-10k-docs,
  /root/reference/src/main/java/cz/muni/fi/mias/indexing/Indexing.java:139-145)
- lineage + metrics rows (stage, rows, wall time)

On a real cluster, point ``Catalog`` at an Iceberg catalog and swap
``write``/``read`` for ``writeTo(...).createOrReplace()`` / ``table()``;
the build code never touches paths directly.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "manifest.json"

#: on-disk index format that build_index stamps in the manifest props
#: and every reader/writer requires. 2: packed blocks are the only
#: posting surface (no persisted postings or tokens table), so every
#: content/title block must carry pos_bytes — an older index may lack
#: them and would silently lose its phrase matches.
FORMAT_VERSION = 2


@dataclass
class Catalog:
    """Storage layer. Two bindings behind one surface:

    - **parquet** (default, sandbox): partitioned parquet dirs under
      ``root`` + a manifest JSON; overwrite = stage + atomic rename.
    - **iceberg**: when the session has an Iceberg catalog configured
      under ``spark.sql.catalog.<name>`` AND ``mias.catalog`` names it
      (``spark.conf.set("mias.catalog", "<name>")``), every table
      routes through `writeTo(...).createOrReplace()/append()` and
      `spark.table(...)` — real snapshot semantics; the staging-rename
      dance disappears. Not exercisable in this sandbox (no Iceberg
      runtime jar) but the seam is one class wide by design.
    """
    spark: SparkSession
    root: str

    # ------------------------------------------------------------- binding
    def _iceberg_ns(self) -> str | None:
        """`<catalog>.<namespace>` when Iceberg mode is on, else None."""
        try:
            name = self.spark.conf.get("mias.catalog")
        except Exception:
            return None
        if not name:
            return None
        ns = "".join(ch if ch.isalnum() else "_"
                     for ch in os.path.basename(self.root.rstrip("/")))
        return f"{name}.mias_{ns}"

    def _ident(self, table: str) -> str:
        ns = self._iceberg_ns()
        tbl = "".join(ch if ch.isalnum() else "_" for ch in table)
        return f"{ns}.t_{tbl}"

    # ------------------------------------------------------------ manifest
    def _mpath(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def manifest(self) -> dict[str, Any]:
        try:
            with open(self._mpath()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"tables": {}, "checkpoints": {}, "metrics": [],
                    "lineage": [], "props": {}, "snapshot": 0}

    def _save(self, m: dict[str, Any]) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._mpath() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, default=str)
        os.replace(tmp, self._mpath())  # atomic manifest swap = commit

    # -------------------------------------------------------------- tables
    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _remember_schema(self, df: DataFrame, table: str) -> None:
        """Record the table's schema in the manifest so read() can
        serve an EMPTY typed frame when every partition has been
        dropped (a bare parquet dir with no files cannot infer one) —
        a fully-emptied table is a legal state after delete-all +
        compaction."""
        m = self.manifest()
        t = m["tables"].setdefault(table, {})
        if t.get("schema") != df.schema.jsonValue():
            t["schema"] = df.schema.jsonValue()
            self._save(m)

    def write(self, df: DataFrame, table: str, partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
        if self._iceberg_ns():
            if mode == "append":     # honor the documented signature
                return self.append(df, table, partition_by)
            w = df.writeTo(self._ident(table))
            if partition_by:
                from pyspark.sql import functions as F
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
            return
        # parquet binding only: Iceberg reads never need the
        # empty-table schema fallback (the catalog keeps schemas)
        self._remember_schema(df, table)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def read(self, table: str, merge_schema: bool = False) -> DataFrame:
        """The table as a DataFrame. On the parquet binding the schema
        the manifest recorded for the table is handed to the reader, so
        opening a table runs no schema-inference job; ``merge_schema``
        and tables with no recorded schema keep inference."""
        if self._iceberg_ns():
            return self.spark.table(self._ident(table))
        from pyspark.sql.types import StructType
        r = self.spark.read
        sch = self.manifest()["tables"].get(table, {}).get("schema")
        if merge_schema:
            r = r.option("mergeSchema", "true")
        elif sch is not None:
            if not self._has_data_files(table):
                # the legal empty state (see below), typed exactly as
                # recorded: a schema-given read of a bare dir would
                # succeed with every column made nullable
                return self.spark.createDataFrame(
                    [], StructType.fromJson(sch))
            r = r.schema(StructType.fromJson(sch))
        try:
            return r.parquet(self.path(table))
        except Exception:
            # The ONLY failure read() may mask is the one legal empty
            # state — every partition dropped after delete-all +
            # compaction (a bare dir with no files cannot infer a
            # schema). Anything else (corrupt footer, permission/FS
            # error) must propagate: serving an empty frame for a
            # genuine read failure would feed compaction's anti-joins
            # an empty table and the following overwrite would wipe it
            # (ADVICE r3, data-loss class).
            if self._has_data_files(table):
                raise
            if sch is None:
                raise
            return self.spark.createDataFrame(
                [], StructType.fromJson(sch))

    def _has_data_files(self, table: str) -> bool:
        """True when the table dir holds at least one parquet data file
        (parquet binding only — the empty-schema fallback is narrowed
        to genuinely-empty tables)."""
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        for _d, _s, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    # ---------------------------------------------- driver-side reads
    def arrow_dataset(self, table: str):
        """pyarrow dataset over the table's parquet files with hive
        partitioning: the one file listing a driver-side read needs
        (callers that read a table often keep the handle). None on the
        Iceberg binding, for a missing table dir, or when arrow cannot
        list the files."""
        if self._iceberg_ns() or not os.path.isdir(self.path(table)):
            return None
        import pyarrow as pa
        import pyarrow.dataset as pds
        try:
            return pds.dataset(self.path(table), format="parquet",
                               partitioning="hive")
        except (OSError, pa.ArrowException):
            return None

    def read_local(self, table: str, columns: list[str],
                   where: dict[str, list] | None = None, dset=None):
        """Rows of ``table`` read DRIVER-SIDE with pyarrow as a pandas
        frame: ``columns`` projected, ``where`` maps a column (partition
        or data) to its allowed values, all ANDed — partition values
        prune directories, data values prune row groups by their
        statistics. For point reads (dictionary terms, tombstones, the
        block rows of a small query, the k display docs), where a Spark
        job would cost more than the read. ``dset``: an open
        ``arrow_dataset`` handle, else one is opened. None on the
        Iceberg binding, for a missing table, or when arrow cannot read
        the files or lacks a column: callers fall back to Spark."""
        if dset is None:
            dset = self.arrow_dataset(table)
            if dset is None:
                return None
        import pyarrow as pa
        import pyarrow.dataset as pds
        flt = None
        for col, vals in (where or {}).items():
            e = pds.field(col).isin(list(vals))
            flt = e if flt is None else (flt & e)
        try:
            return dset.to_table(columns=columns, filter=flt).to_pandas()
        except (OSError, pa.ArrowException):
            return None

    def read_dictionary(self) -> DataFrame:
        """Merged dictionary view over the base + appended delta
        segments: df is ADDITIVE (upserts append positive rows for new
        postings and negative rows for replaced/deleted docs' terms), so
        the live df is the per-(field, term) sum. term_id rides on every
        segment row unchanged. On a freshly-built index this is a
        no-op-shaped agg over unique keys; incremental readers (query
        compile) aggregate only the dbucket partitions they pruned to."""
        from pyspark.sql import functions as F
        dic = self.read("dictionary")
        keys = ["field", "term", "term_id"]
        if "dbucket" in dic.columns:      # pre-dbucket index: no part col
            keys.append("dbucket")
        return dic.groupBy(*keys).agg(F.sum("df").alias("df"))

    def overwrite(self, df: DataFrame, table: str,
                  partition_by: list[str] | None = None) -> None:
        """Overwrite a table we may also be reading from: stage to a
        temp location, then atomically swap (the Iceberg
        snapshot-replace analog — `writeTo(t).createOrReplace()` on a
        real catalog). ALL filesystem manipulation lives here, so the
        object-store port touches exactly one class."""
        if self._iceberg_ns():
            # Iceberg snapshots make read-while-replace safe natively
            self.write(df, table, partition_by)
            return
        self._remember_schema(df, table)
        import shutil
        tmp = self.path(f"_{table.replace('/', '_')}_new")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        # rmtree must NOT be ignore_errors: a half-removed table dir
        # would make the move NEST the staged data inside it, silently
        # serving stale rows afterward. (The rmtree->move pair is not
        # crash-atomic — a local-fs caveat; the Iceberg binding is the
        # real answer for object stores.)
        if os.path.exists(self.path(table)):
            shutil.rmtree(self.path(table))
        shutil.move(tmp, self.path(table))

    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_by: list[str]) -> None:
        """Dynamic partition overwrite: replace only the partitions
        present in ``df`` (the chunked blocks build writes a few term
        buckets per job). The parquet binding scopes
        partitionOverwriteMode=dynamic to THIS write and restores the
        prior value — leaving it set session-globally would silently
        turn later whole-table overwrites into partial ones (stale
        partitions surviving a rebuild). Iceberg has native
        overwritePartitions()."""
        if self._iceberg_ns():
            # create only when the table genuinely doesn't exist — a
            # blanket fallback to createOrReplace on ANY error (commit
            # conflict, schema drift) would wipe previously committed
            # partitions
            if not self.spark.catalog.tableExists(self._ident(table)):
                self.write(df, table, partition_by)
            else:
                df.writeTo(self._ident(table)).overwritePartitions()
            return
        self._remember_schema(df, table)
        key = "spark.sql.sources.partitionOverwriteMode"
        try:
            prev = self.spark.conf.get(key)
        except Exception:
            prev = "static"
        self.spark.conf.set(key, "dynamic")
        try:
            (df.write.mode("overwrite").partitionBy(*partition_by)
             .parquet(self.path(table)))
        finally:
            self.spark.conf.set(key, prev or "static")

    def append(self, df: DataFrame, table: str,
               partition_by: list[str] | None = None) -> None:
        """Append a delta segment (Iceberg append-snapshot analog)."""
        if self._iceberg_ns():
            # first segment creates the table; real append errors
            # (conflicts, schema mismatch) must propagate, never
            # degrade into a table replace
            if not self.spark.catalog.tableExists(self._ident(table)):
                self.write(df, table, partition_by)
            else:
                df.writeTo(self._ident(table)).append()
            return
        self._remember_schema(df, table)
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def commit_table(self, table: str, rows: int | None = None, **extra) -> None:
        m = self.manifest()
        m["snapshot"] += 1
        m["tables"][table] = {**m["tables"].get(table, {}),
                              "status": "done", "rows": rows,
                              "snapshot": m["snapshot"], **extra}
        m.setdefault("lineage", []).append({
            "snapshot": m["snapshot"], "table": table, "rows": rows,
            "ts": time.time()})
        self._save(m)

    def table_done(self, table: str) -> bool:
        return self.manifest()["tables"].get(table, {}).get("status") == "done"

    def drop_partitions(self, table: str, col: str, values: list) -> None:
        """Remove whole partitions. Dynamic partition overwrite can
        only REPLACE partitions present in the written frame — it has
        no way to express 'this partition is now empty', so a cleanup
        that leaves a partition with zero surviving rows must drop it
        explicitly or the stale files live on."""
        if not values:
            return
        if self._iceberg_ns():
            vals = ", ".join(str(int(v)) for v in values)
            self.spark.sql(f"DELETE FROM {self._ident(table)} "
                           f"WHERE {col} IN ({vals})")
        else:
            import os
            import shutil
            for v in values:
                shutil.rmtree(
                    os.path.join(self.path(table), f"{col}={int(v)}"),
                    ignore_errors=True)

    def drop(self, table: str) -> None:
        if self._iceberg_ns():
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(table)}")
        else:
            import shutil
            shutil.rmtree(self.path(table), ignore_errors=True)
        m = self.manifest()
        m["tables"].pop(table, None)
        self._save(m)

    # --------------------------------------------------------- checkpoints
    def checkpoint_done(self, stage: str, part: str) -> bool:
        return self.manifest()["checkpoints"].get(f"{stage}/{part}", {}) \
            .get("status") == "done"

    def checkpoint(self, stage: str, part: str, rows: int,
                   t_start: float, t_end: float) -> None:
        m = self.manifest()
        m["checkpoints"][f"{stage}/{part}"] = {
            "status": "done", "rows": rows,
            "t_start": t_start, "t_end": t_end,
        }
        self._save(m)

    # ------------------------------------------------------------- metrics
    def metric(self, stage: str, **kv) -> None:
        m = self.manifest()
        m["metrics"].append({"stage": stage, "ts": time.time(), **kv})
        self._save(m)

    def props(self) -> dict[str, Any]:
        return self.manifest().get("props", {})

    def require_format(self) -> None:
        """Refuse an index not written in FORMAT_VERSION (one clear
        error instead of wrong results from a surface this code no
        longer reads)."""
        v = self.props().get("format_version")
        if v != FORMAT_VERSION:
            raise ValueError(
                f"{self.root}: index format {v if v is not None else 1} "
                f"is not the current format {FORMAT_VERSION}; rebuild "
                "the index (build_index)")

    def set_props(self, **kv) -> None:
        m = self.manifest()
        m["props"].update(kv)
        self._save(m)

    # ----------------------------------------------------------- tombstones
    def has_table(self, table: str) -> bool:
        if self._iceberg_ns():
            return self.spark.catalog.tableExists(self._ident(table))
        return os.path.isdir(self.path(table))

    def tombstones(self) -> DataFrame | None:
        """Deleted/replaced doc ids (Lucene liveDocs-bitset analog).
        None when the index has no tombstones."""
        if not self.has_table("tombstones"):
            return None
        return self.read("tombstones")

    def tombstone_ids(self, max_rows: int):
        """Tombstoned doc ids as a sorted unique int64 numpy array,
        read DRIVER-SIDE with pyarrow (the liveDocs bitset a Lucene
        reader loads per segment). Empty when the index has no
        tombstones. The row count comes from the parquet footers
        first, so a set larger than ``max_rows`` is never read: None
        then, and None on the Iceberg binding or when arrow cannot read
        the files — callers keep the distributed co-grouped channel for
        those."""
        import numpy as np
        if not self.has_table("tombstones"):
            return np.empty(0, np.int64)
        import pyarrow as pa
        dset = self.arrow_dataset("tombstones")
        if dset is None:
            return None
        try:
            if dset.count_rows() > max_rows:
                return None
        except (OSError, pa.ArrowException):
            return None
        pdf = self.read_local("tombstones", ["doc_id"], dset=dset)
        if pdf is None:
            return None
        return np.unique(pdf["doc_id"].to_numpy().astype(np.int64))

    def add_tombstones(self, doc_ids: DataFrame) -> None:
        self.append(doc_ids.select("doc_id"), "tombstones")

    def clear_tombstones(self) -> None:
        if self._iceberg_ns():
            self.drop("tombstones")
            return
        import shutil
        shutil.rmtree(self.path("tombstones"), ignore_errors=True)

    # ----------------------------------------------- queryable meta tables
    def flush_meta(self) -> None:
        """Materialize lineage / metrics / checkpoints as parquet tables
        under ``_meta/`` (the north rule's "lineage and metrics tables"
        as SQL-queryable surfaces, not just manifest JSON)."""
        import pandas as pd
        m = self.manifest()
        frames = {
            "lineage": pd.DataFrame(
                m.get("lineage", []),
                columns=["snapshot", "table", "rows", "ts"]),
            "metrics": pd.DataFrame(
                [{"stage": x.get("stage"), "ts": x.get("ts"),
                  "secs": x.get("secs"), "rows": x.get("rows"),
                  "docs_per_sec": x.get("docs_per_sec")}
                 for x in m.get("metrics", [])],
                columns=["stage", "ts", "secs", "rows", "docs_per_sec"]),
            "checkpoints": pd.DataFrame(
                [{"key": k, **v} for k, v in
                 m.get("checkpoints", {}).items()],
                columns=["key", "status", "rows", "t_start", "t_end"]),
        }
        for name, pdf in frames.items():
            if pdf.empty:
                continue
            sdf = self.spark.createDataFrame(pdf.astype(object).where(
                pdf.notna(), None))
            self.write(sdf.coalesce(1), f"_meta/{name}")

    def meta_table(self, name: str) -> DataFrame:
        return self.read(f"_meta/{name}")
