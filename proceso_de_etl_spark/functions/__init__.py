from proceso_de_etl_spark.functions.columns import clean_id, davg, dsum, money
from proceso_de_etl_spark.functions.hashing import digest, digest_sql, md5_int, md5_int_sql

__all__ = ["clean_id", "davg", "digest", "digest_sql", "dsum", "md5_int", "md5_int_sql", "money"]
