from pdf_brain_spark.sources.loaders import TABLES, load_table

__all__ = ["TABLES", "load_table"]
