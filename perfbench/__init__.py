"""Standalone benchmark of the ingestion pipeline and the corpus operators;
see NOTES.md."""

PKG = "financial_data_ingestion_canonical_snowflake_spark"  # the package measured
