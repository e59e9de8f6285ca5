from gentropy_spark.sources.readers import read_table

__all__ = ["read_table"]
