"""PySpark-native analytics/ETL engine with the query and data-processing
capabilities of the reference relational->document-NoSQL migrator
(leoniantoinette/relational-to-doc-oriented-nosql-migrator), rebuilt
Spark-first: DataFrame/Catalyst execution instead of the reference's
row-at-a-time N+1 loops.

Layout:
  plans/      - catalog (IR#1), schema-conversion planner (IR#2), nesting
                materializer (plan -> join/collect_list DAG)
  sources/    - parquet/SQL-dump readers
  sinks/      - JSON collection writer (one file per collection + zip)
  functions/  - scalar functions (date normalize, SQL table-ref extraction)
  operators/  - relational operator builders + large-scale extension ops
                (dedup, similarity, text, windows)
  streaming/  - Structured Streaming variants over the events table
  workload.py - query-log -> GAF/UAF/MAF workload statistics
  dump_migration.py - a SQL dump's migration on the driver: plain Python
                that loads no Spark or Arrow module (service, CLI --dump)
  session.py  - tuned SparkSession factory
"""

from relational_to_doc_oriented_nosql_migrator_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
