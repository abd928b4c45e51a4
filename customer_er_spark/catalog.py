"""Thin table catalog with snapshot manifests — Iceberg-like semantics over
parquet directories.

The north rule targets Iceberg tables; this container has no Iceberg runtime
jar (no network), so all pipeline code talks to this abstraction instead of
paths.  `SparkCatalog` provides:

    write_table(df, name, ...)   atomic snapshot commit (write to a fresh
                                 snapshot dir, then atomically rename a JSON
                                 manifest pointing at it)
    append_table(df, name, ...)  append-snapshot commit: the new manifest
                                 lists the OLD data dirs plus one new dir —
                                 prior files are never rewritten, so an
                                 increment costs O(|incoming|) I/O, not
                                 O(|registry|) (Iceberg append semantics)
    read_table(name)             read the current snapshot (all data dirs)
    has_snapshot(name, config_hash, inputs)
                                 resume check: a stage is skippable iff a
                                 committed snapshot exists whose config hash
                                 AND upstream snapshot ids match
    table_meta(name)             manifest dict (snapshot id, lineage, counts)
    get_state/set_state(key)     tiny atomic key->value store (e.g. the
                                 streaming last-applied batch id fence)

Schema contract: write_table validates the new schema against the previous
snapshot — changed column names/types raise unless overwrite_schema=True
(the analog of Delta's overwriteSchema, /root/reference/01_Prepare_Data.py:
173-180); append_table always requires an identical (name, type) set.

On a real cluster the same interface maps 1:1 onto Iceberg:
write_table -> df.writeTo(tbl).createOrReplace(), append_table ->
df.writeTo(tbl).append(), snapshot_id -> Iceberg snapshot id, has_snapshot
-> snapshot summary properties.  The reference's analog is Delta
saveAsTable + DESCRIBE DETAIL (/root/reference/01_Prepare_Data.py:173-180,
 /root/reference/02_Initial_Workflow_Part_A.py:88).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class SparkCatalog:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _table_dir(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "manifest.json")

    # -- manifest ------------------------------------------------------------
    def table_meta(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def snapshot_id(self, name: str) -> str | None:
        meta = self.table_meta(name)
        return meta["snapshot_id"] if meta else None

    def has_snapshot(
        self,
        name: str,
        config_hash: str | None = None,
        inputs: dict[str, str] | None = None,
    ) -> bool:
        meta = self.table_meta(name)
        if meta is None:
            return False
        if config_hash is not None and meta.get("config_hash") != config_hash:
            return False
        if inputs is not None and meta.get("inputs") != inputs:
            return False
        return True

    # -- schema contract -------------------------------------------------------
    @staticmethod
    def _schema_sig(schema_json: dict) -> set[tuple[str, str]]:
        """(name, type) pairs — nullability and metadata are not evolution."""
        return {
            (f["name"], json.dumps(f["type"], sort_keys=True))
            for f in schema_json.get("fields", [])
        }

    def _check_schema(
        self, name: str, new_schema: dict, overwrite_schema: bool, mode: str
    ) -> None:
        old = self.table_meta(name)
        if old is None or "schema" not in old:
            return
        if self._schema_sig(old["schema"]) == self._schema_sig(new_schema):
            return
        if mode == "append" or not overwrite_schema:
            old_cols = sorted(c for c, _ in self._schema_sig(old["schema"]))
            new_cols = sorted(c for c, _ in self._schema_sig(new_schema))
            raise ValueError(
                f"schema change on {mode} to table {name!r} "
                f"(old={old_cols}, new={new_cols}); pass "
                f"overwrite_schema=True to write_table to evolve it"
            )

    # -- path relativity --------------------------------------------------------
    # Manifests record snapshot dirs and data files RELATIVE to the catalog
    # base dir (r6 advice): a moved/renamed catalog keeps working — reads
    # resolve against the CURRENT base dir.  Legacy absolute entries still
    # resolve (back-compat).
    def _abs(self, p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(self.base_dir, p)

    def _rel(self, p: str) -> str:
        base = os.path.abspath(self.base_dir)
        return (
            os.path.relpath(p, base)
            if os.path.isabs(p) and os.path.abspath(p).startswith(base + os.sep)
            else p
        )

    def _paths(self, meta: dict) -> list[str]:
        return [self._abs(p) for p in (meta.get("paths") or [meta["path"]])]

    # -- IO -------------------------------------------------------------------
    def _commit(
        self,
        df: DataFrame,
        name: str,
        mode: str,
        config_hash: str,
        inputs: dict[str, str] | None,
        partition_by: list[str] | None,
        extra_meta: dict | None,
        overwrite_schema: bool,
    ) -> dict:
        self._check_schema(name, df.schema.jsonValue(), overwrite_schema, mode)
        snap_id = f"snap-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        tdir = self._table_dir(name)
        os.makedirs(tdir, exist_ok=True)
        data_dir = os.path.join(tdir, snap_id)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        return self._finalize_commit(
            df.schema.jsonValue(), name, mode, snap_id, data_dir,
            config_hash, inputs, extra_meta,
        )

    @staticmethod
    def _footer_files(data_dir: str, rel_to: str | None = None) -> list[dict]:
        """Per-file row counts by summing parquet footers (pyarrow,
        recursive for partitioned layouts, thread pool — footer reads are
        I/O-bound and release the GIL) — no Spark job at all: a count()
        would schedule a scan per commit, and recomputing the plan is
        exactly what the committed files exist to avoid.

        File paths are recorded relative to `rel_to` (the catalog base
        dir) so a moved catalog keeps resolving them (r6 advice)."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        files = []
        for root, _dirs, fs in os.walk(data_dir):
            for f in sorted(fs):
                if f.endswith(".parquet"):
                    files.append(os.path.join(root, f))

        def one(full: str) -> dict:
            return {
                "path": os.path.relpath(full, data_dir),
                "file": os.path.relpath(full, rel_to) if rel_to else full,
                "rows": pq.ParquetFile(full).metadata.num_rows,
                "bytes": os.path.getsize(full),
            }

        with ThreadPoolExecutor(min(16, max(1, len(files)))) as ex:
            return sorted(ex.map(one, files), key=lambda d: d["path"])

    def _finalize_commit(
        self,
        schema_json: dict,
        name: str,
        mode: str,
        snap_id: str,
        data_dir: str,
        config_hash: str,
        inputs: dict[str, str] | None,
        extra_meta: dict | None,
    ) -> dict:
        data_files = self._footer_files(data_dir, rel_to=self.base_dir)
        n_files = len(data_files)
        rows_new = sum(d["rows"] for d in data_files)
        old = self.table_meta(name)
        if mode == "append" and old is not None:
            paths = (old.get("paths") or [old["path"]]) + [self._rel(data_dir)]
            rows_out = old["counts"]["rows_out"] + rows_new
            # the manifest's file list spans the WHOLE snapshot (Iceberg
            # semantics): appended entries accumulate across every commit
            data_files = list(old.get("data_files") or []) + data_files
            n_files = len(data_files)
        else:
            paths = [self._rel(data_dir)]
            rows_out = rows_new
        manifest = {
            "table": name,
            "snapshot_id": snap_id,
            "path": self._rel(data_dir),  # newest data dir (back-compat)
            "paths": paths,       # full snapshot = union of these dirs
            #                       (relative to the catalog base dir)
            "schema": schema_json,
            "config_hash": config_hash,
            "inputs": inputs or {},
            "n_files": n_files,
            # per-file row counts (from the same footer walk): the durable
            # per-partition lineage record — a committed table's partitions
            # ARE its files, so stage metrics read this instead of running
            # a histogram job over the output
            "data_files": data_files,
            "counts": {"rows_out": rows_out, "rows_appended": rows_new},
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            **(extra_meta or {}),
        }
        tmp = self._manifest_path(name) + f".tmp-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(name))  # atomic commit
        if mode == "overwrite" and old is not None:
            live = {self._abs(p) for p in paths}
            for p in self._paths(old):  # expire replaced snapshot dirs
                if p not in live and os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
        return manifest

    def write_table(
        self,
        df: DataFrame,
        name: str,
        config_hash: str = "",
        inputs: dict[str, str] | None = None,
        partition_by: list[str] | None = None,
        extra_meta: dict | None = None,
        overwrite_schema: bool = False,
    ) -> dict:
        """Write df as a fresh snapshot and commit it atomically.

        The data lands in  <table>/snap-<id>/  first; the manifest rename is
        the commit point, so a killed run never exposes a half-written
        snapshot (the kill-and-rerun resumability test relies on this).
        """
        return self._commit(
            df, name, "overwrite", config_hash, inputs, partition_by,
            extra_meta, overwrite_schema,
        )

    def append_table(
        self,
        df: DataFrame,
        name: str,
        config_hash: str = "",
        inputs: dict[str, str] | None = None,
        partition_by: list[str] | None = None,
        extra_meta: dict | None = None,
    ) -> dict:
        """Append df as a new snapshot = old data files + one new dir.

        Prior data files are never rewritten or deleted — the incremental
        merge costs O(|incoming|) I/O regardless of registry size.  The
        manifest rename is still the single atomic commit point: a killed
        append leaves the previous snapshot fully intact.
        """
        return self._commit(
            df, name, "append", config_hash, inputs, partition_by,
            extra_meta, overwrite_schema=False,
        )

    def write_table_local(
        self,
        rows: list[dict],
        name: str,
        config_hash: str = "",
        inputs: dict[str, str] | None = None,
        extra_meta: dict | None = None,
        schema=None,
    ) -> dict:
        """Commit a SMALL driver-side row list as a snapshot with ZERO
        Spark jobs (pyarrow writes the parquet file directly).

        For the metrics/lineage tables: they hold dozens of rows per run,
        and scheduling a distributed write action for each was pure fixed
        cost — the kind that dilutes measured scaling efficiency without
        exercising the engine.  Everything else (atomic manifest swap,
        footer-derived counts, read_table compatibility) is identical to
        write_table; the schema recorded in the manifest is read back from
        the written file's own footer, so there is one source of truth.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not rows and schema is None:
            raise ValueError(
                "write_table_local requires at least one row (or an "
                "explicit pyarrow schema for an empty commit)"
            )
        snap_id = f"snap-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        tdir = self._table_dir(name)
        data_dir = os.path.join(tdir, snap_id)
        os.makedirs(data_dir, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=schema),
            os.path.join(data_dir, "part-00000.parquet"),
        )
        # driver-side footer read — no Spark job; lazily valid for reads
        schema_json = self.spark.read.parquet(data_dir).schema.jsonValue()
        try:
            self._check_schema(name, schema_json, False, "overwrite")
        except ValueError:
            shutil.rmtree(data_dir, ignore_errors=True)
            raise
        return self._finalize_commit(
            schema_json, name, "overwrite", snap_id, data_dir,
            config_hash, inputs, extra_meta,
        )

    def read_table(self, name: str) -> DataFrame:
        """Read the current snapshot with the schema its manifest records:
        a 0-row partitioned write leaves no parquet file to infer from."""
        from pyspark.sql.types import StructType

        meta = self.table_meta(name)
        if meta is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshot")
        return self.spark.read.schema(
            StructType.fromJson(meta["schema"])
        ).parquet(*self._paths(meta))

    # -- tiny state store (streaming batch fence etc.) -------------------------
    def _state_path(self) -> str:
        return os.path.join(self.base_dir, "_state.json")

    def get_state(self, key: str, default=None):
        p = self._state_path()
        if not os.path.exists(p):
            return default
        with open(p) as f:
            return json.load(f).get(key, default)

    def set_state(self, key: str, value) -> None:
        p = self._state_path()
        state = {}
        if os.path.exists(p):
            with open(p) as f:
                state = json.load(f)
        state[key] = value
        tmp = p + f".tmp-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, p)

    def drop_table(self, name: str) -> None:
        shutil.rmtree(self._table_dir(name), ignore_errors=True)

    def list_tables(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.base_dir)
            if os.path.exists(self._manifest_path(d))
        )

    # -- database DDL (reference parity: /root/reference/00_Intro_&_Config.py
    # 76-79, 01_Prepare_Data.py:45-51) -----------------------------------------
    # Databases are sibling namespace dirs ("_ns_<name>") under the catalog
    # root; each holds its own tables + manifests.  On a real cluster these
    # map to Iceberg namespaces (CREATE NAMESPACE / DROP NAMESPACE).
    _NS_PREFIX = "_ns_"

    def _ns_dir(self, name: str) -> str:
        if not name.replace("_", "").isalnum():
            raise ValueError(f"bad database name {name!r}")
        return os.path.join(self.base_dir, self._NS_PREFIX + name)

    def create_database(self, name: str, if_not_exists: bool = True) -> None:
        d = self._ns_dir(name)
        if os.path.isdir(d) and not if_not_exists:
            raise ValueError(f"database {name!r} exists")
        os.makedirs(d, exist_ok=True)

    def drop_database(self, name: str, cascade: bool = False) -> None:
        d = self._ns_dir(name)
        if os.path.isdir(d) and os.listdir(d) and not cascade:
            raise ValueError(f"database {name!r} not empty (use cascade)")
        shutil.rmtree(d, ignore_errors=True)

    def database(self, name: str) -> "SparkCatalog":
        """setCurrentDatabase analog: a catalog rooted at the namespace."""
        d = self._ns_dir(name)
        if not os.path.isdir(d):
            raise ValueError(f"database {name!r} does not exist")
        return SparkCatalog(self.spark, d)

    def list_databases(self) -> list[str]:
        return sorted(
            d[len(self._NS_PREFIX):]
            for d in os.listdir(self.base_dir)
            if d.startswith(self._NS_PREFIX)
            and os.path.isdir(os.path.join(self.base_dir, d))
        )

    def ddl(self, stmt: str):
        """The exact DDL subset the reference issues via spark.sql:
        CREATE DATABASE [IF NOT EXISTS] x / DROP DATABASE x [CASCADE] /
        USE x.  Returns the namespaced catalog for USE, else None."""
        import re

        s = stmt.strip().rstrip(";")
        m = re.fullmatch(
            r"CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)", s, re.I
        )
        if m:
            return self.create_database(m.group(2), if_not_exists=bool(m.group(1)))
        m = re.fullmatch(r"DROP\s+DATABASE\s+(\w+)(\s+CASCADE)?", s, re.I)
        if m:
            return self.drop_database(m.group(1), cascade=bool(m.group(2)))
        m = re.fullmatch(r"USE\s+(\w+)", s, re.I)
        if m:
            return self.database(m.group(1))
        raise ValueError(f"unsupported DDL: {stmt!r}")
