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

from pyspark.sql import SparkSession

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

    def session_for(self, principal: str) -> SecureSession:
        """Build the per-principal secured session (the reference's
        start-job-run with a security configuration, SURVEY.md §3.1)."""
        return SecureSession(self, principal)
