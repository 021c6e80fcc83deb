"""LLM-data-pipeline operators (SURVEY.md §2.J): dedup, similarity search,
text analysis, multimodal columns, time-series similarity."""

# Import order = registration order (see registry.load_all). The
# certification prefix is an explicit list (registry.rotation_order), so
# this order only groups families for the cache janitor's locality.
# curation cannot lead: its module-level `from llm.text import
# SQL_QUALITY` (decorator-time oracle interpolation) registers all 37
# text rungs after curation's 15th.
from aws_lambda_stream_processing_spark.llm import (  # noqa: F401
    multimodal,
    dedup,
    similarity,
    curation,
    text,
    timeseries,
)
