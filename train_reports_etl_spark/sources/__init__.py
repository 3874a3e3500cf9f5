"""Input sources: star-schema registry, header-sniffing report readers."""

from train_reports_etl_spark.sources.registry import TABLES, load_table

__all__ = ["TABLES", "load_table"]
