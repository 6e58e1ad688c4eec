from proceso_de_etl_spark.sources.catalog import TABLES, load_table, register_catalog
from proceso_de_etl_spark.sources.local import local_frame

__all__ = ["TABLES", "load_table", "local_frame", "register_catalog"]
