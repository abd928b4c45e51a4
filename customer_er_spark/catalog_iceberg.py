"""Iceberg-backed implementation of the SparkCatalog interface.

`catalog.SparkCatalog` (parquet dirs + JSON manifests) and this class expose
the SAME contract, so every pipeline/operator accepts either:

    write_table / append_table / read_table / table_meta / snapshot_id /
    has_snapshot / get_state / set_state / drop_table / list_tables /
    create_database / drop_database / ddl

Mapping (the 1:1 the parquet backend's docstring promises):

    write_table   -> df.writeTo(tbl).using("iceberg").createOrReplace()
                     + commit metadata in table properties
    append_table  -> df.writeTo(tbl).append()   (Iceberg append snapshot:
                     prior data files untouched, O(|incoming|) I/O)
    snapshot_id   -> the Iceberg snapshot id (SELECT from tbl.snapshots)
    has_snapshot  -> stored config_hash/inputs table properties
    state store   -> a tiny two-column Iceberg table (key, value)
    database DDL  -> CREATE/DROP NAMESPACE

Availability: this container ships no Iceberg runtime jar (offline — the
spark-runtime jar cannot be fetched), so the class guards every entry
point with `iceberg_available()` and the test suite skips unless a
configured `spark.sql.catalog.<name>` Iceberg catalog is present.  On a
real cluster, enable it with the standard session config:

    spark.jars.packages  org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v>
    spark.sql.catalog.ice                org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.ice.type           hadoop
    spark.sql.catalog.ice.warehouse      <path>

Reference analog: Delta saveAsTable + DESCRIBE DETAIL
(/root/reference/01_Prepare_Data.py:173-180,
 /root/reference/02_Initial_Workflow_Part_A.py:88).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession, catalog_name: str = "ice") -> bool:
    """True iff an Iceberg catalog is configured AND its classes load."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog_name}", None)
    if not impl:
        return False
    try:
        spark._jvm.java.lang.Class.forName(impl)  # runtime jar present?
        return True
    except Exception:
        return False


class IcebergCatalog:
    """SparkCatalog-compatible facade over a configured Iceberg catalog."""

    _STATE_TABLE = "_state_kv"

    def __init__(
        self,
        spark: SparkSession,
        namespace: str = "er",
        catalog_name: str = "ice",
    ):
        if not iceberg_available(spark, catalog_name):
            raise RuntimeError(
                f"Iceberg catalog {catalog_name!r} is not configured in this "
                "SparkSession (no runtime jar in this container); use "
                "catalog.SparkCatalog or configure spark.sql.catalog."
                f"{catalog_name} on a cluster"
            )
        self.spark = spark
        self.catalog_name = catalog_name
        self.namespace = namespace
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {catalog_name}.{namespace}"
        )

    # -- identifiers ---------------------------------------------------------
    def _tbl(self, name: str) -> str:
        return f"{self.catalog_name}.{self.namespace}.{name}"

    def _exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._tbl(name))

    # -- manifest-equivalent metadata ---------------------------------------
    def table_meta(self, name: str) -> dict | None:
        if not self._exists(name):
            return None
        props = {
            r["key"]: r["value"]
            for r in self.spark.sql(
                f"SHOW TBLPROPERTIES {self._tbl(name)}"
            ).collect()
        }
        snap = self.snapshot_id(name)
        counts = json.loads(props.get("er.counts", "{}") or "{}")
        return {
            "table": name,
            "snapshot_id": snap,
            "schema": self.spark.table(self._tbl(name)).schema.jsonValue(),
            "config_hash": props.get("er.config_hash", ""),
            "inputs": json.loads(props.get("er.inputs", "{}") or "{}"),
            "counts": counts,
            **json.loads(props.get("er.extra_meta", "{}") or "{}"),
        }

    def _snapshot_summary(self, name: str) -> tuple[str | None, dict]:
        """(snapshot_id, summary map) of the CURRENT snapshot — one
        metadata-only query against the .snapshots metadata table (no data
        files are read)."""
        if not self._exists(name):
            return None, {}
        row = self.spark.sql(
            f"SELECT snapshot_id, summary FROM {self._tbl(name)}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        if not row:
            return None, {}
        return str(row[0]["snapshot_id"]), dict(row[0]["summary"] or {})

    def snapshot_id(self, name: str) -> str | None:
        return self._snapshot_summary(name)[0]

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

    # -- IO ------------------------------------------------------------------
    def _stamp(
        self,
        name: str,
        config_hash: str,
        inputs: dict | None,
        extra_meta: dict | None,
    ) -> dict:
        """Record commit metadata METADATA-ONLY: row counts come from the
        current Iceberg snapshot summary (total-records / added-records —
        written by every commit), never a count() job, and all four
        properties land in ONE ALTER TABLE statement.  This mirrors the
        parquet backend's footer-sum commits (catalog.py:_footer_files):
        a per-commit table scan would reintroduce exactly the fixed cost
        that path eliminated."""
        tbl = self._tbl(name)
        _snap, summary = self._snapshot_summary(name)
        counts = {
            "rows_out": int(summary.get("total-records", 0)),
            "rows_appended": int(summary.get("added-records", 0)),
        }
        props = {
            "er.config_hash": config_hash,
            "er.inputs": json.dumps(inputs or {}, sort_keys=True),
            "er.counts": json.dumps(counts),
            "er.extra_meta": json.dumps(extra_meta or {}, sort_keys=True),
        }
        sets = ", ".join(
            "'{}' = '{}'".format(k, v.replace("'", "''"))
            for k, v in props.items()
        )
        self.spark.sql(f"ALTER TABLE {tbl} SET TBLPROPERTIES ({sets})")
        return self.table_meta(name)

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
        # Iceberg's createOrReplace IS schema evolution; enforce the same
        # guard as the parquet backend when evolution wasn't requested
        old = self.table_meta(name)
        if old is not None and not overwrite_schema:
            from customer_er_spark.catalog import SparkCatalog

            SparkCatalog._schema_sig(old["schema"])  # reuse the signature
            if SparkCatalog._schema_sig(old["schema"]) != SparkCatalog._schema_sig(
                df.schema.jsonValue()
            ):
                raise ValueError(
                    f"schema change on overwrite to table {name!r}; pass "
                    "overwrite_schema=True to evolve it"
                )
        w = df.writeTo(self._tbl(name)).using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        return self._stamp(name, config_hash, inputs, extra_meta)

    def append_table(
        self,
        df: DataFrame,
        name: str,
        config_hash: str = "",
        inputs: dict[str, str] | None = None,
        partition_by: list[str] | None = None,
        extra_meta: dict | None = None,
    ) -> dict:
        if not self._exists(name):
            return self.write_table(
                df, name, config_hash, inputs, partition_by, extra_meta,
            )
        old = self.table_meta(name)
        from customer_er_spark.catalog import SparkCatalog

        if SparkCatalog._schema_sig(old["schema"]) != SparkCatalog._schema_sig(
            df.schema.jsonValue()
        ):
            raise ValueError(f"schema change on append to table {name!r}")
        df.writeTo(self._tbl(name)).append()
        # rows_out / rows_appended both come from the new snapshot's summary
        return self._stamp(name, config_hash, inputs, extra_meta)

    def read_table(self, name: str) -> DataFrame:
        if not self._exists(name):
            raise FileNotFoundError(f"table {name!r} has no committed snapshot")
        return self.spark.table(self._tbl(name))

    # -- tiny state store ----------------------------------------------------
    # key/payload are VALUES, never interpolated into SQL text: the read
    # filters via a Column expression and the writes use Spark 4 named
    # parameter binding, so a key containing quotes cannot break (or
    # inject into) the statement.
    def get_state(self, key: str, default=None):
        if not self._exists(self._STATE_TABLE):
            return default
        from pyspark.sql import functions as F

        rows = (
            self.read_table(self._STATE_TABLE)
            .where(F.col("key") == F.lit(key))
            .collect()
        )
        return json.loads(rows[0]["value"]) if rows else default

    def set_state(self, key: str, value) -> None:
        tbl = self._tbl(self._STATE_TABLE)
        payload = json.dumps(value)
        if not self._exists(self._STATE_TABLE):
            self.spark.sql(
                f"CREATE TABLE {tbl} (key STRING, value STRING) USING iceberg"
            )
        self.spark.sql(f"DELETE FROM {tbl} WHERE key = :k", args={"k": key})
        self.spark.sql(
            f"INSERT INTO {tbl} VALUES (:k, :v)",
            args={"k": key, "v": payload},
        )

    # -- management ----------------------------------------------------------
    def drop_table(self, name: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self._tbl(name)}")

    def list_tables(self) -> list[str]:
        return sorted(
            r["tableName"]
            for r in self.spark.sql(
                f"SHOW TABLES IN {self.catalog_name}.{self.namespace}"
            ).collect()
        )

    def create_database(self, name: str, if_not_exists: bool = True) -> None:
        ine = "IF NOT EXISTS " if if_not_exists else ""
        self.spark.sql(
            f"CREATE NAMESPACE {ine}{self.catalog_name}.{name}"
        )

    def drop_database(self, name: str, cascade: bool = False) -> None:
        casc = " CASCADE" if cascade else ""
        self.spark.sql(
            f"DROP NAMESPACE IF EXISTS {self.catalog_name}.{name}{casc}"
        )

    def database(self, name: str) -> "IcebergCatalog":
        return IcebergCatalog(self.spark, name, self.catalog_name)

    def ddl(self, stmt: str):
        import re

        s = stmt.strip().rstrip(";")
        m = re.fullmatch(
            r"CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)", s, re.I
        )
        if m:
            return self.create_database(m.group(2), bool(m.group(1)))
        m = re.fullmatch(r"DROP\s+DATABASE\s+(\w+)(\s+CASCADE)?", s, re.I)
        if m:
            return self.drop_database(m.group(1), cascade=bool(m.group(2)))
        m = re.fullmatch(r"USE\s+(\w+)", s, re.I)
        if m:
            return self.database(m.group(1))
        raise ValueError(f"unsupported DDL: {stmt!r}")
