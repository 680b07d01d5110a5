"""Pure-Python extraction core — unit-testable without a SparkSession.

The Spark layer (ocr_machine_spark.operators) only ever calls these functions
from inside Arrow-batched pandas UDFs; nothing here imports pyspark.
"""

from ocr_machine_spark.core.extract import ExtractResult, extract_one
from ocr_machine_spark.core.htmlparse import render_page

__all__ = ["ExtractResult", "extract_one", "render_page"]
