"""Migration inputs: parquet tables (sources.parquet, Spark) and SQL dumps
(sources.sqldump, parsed on the driver)."""
