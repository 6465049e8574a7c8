"""Rewrite-family modules split out of dialect.py (round 11).
duckdb_server_spark.dialect re-exports the names its callers read;
import anything else from the family module that defines it."""
