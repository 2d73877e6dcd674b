"""minilake — a from-scratch Iceberg-shaped lake table format.

Parquet data files hash-bucketed on the primary key + an atomic JSON
snapshot log (schema, file manifest, committed epochs), with append and
exact-file-removal commits, schema evolution, and time travel. Built because the sandbox has
no Iceberg/Delta jars; the ``LakeTable`` interface is the seam where a real
Iceberg catalog drops in on a cluster that has them.
"""

from etl_kafka_project_spark.minilake.table import LakeTable, Snapshot

__all__ = ["LakeTable", "Snapshot"]
