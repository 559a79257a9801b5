"""frappe_data_pipelines_spark — a PySpark-native analytics/pipeline engine.

A from-scratch re-expression of the query and data-processing capabilities of
the reference app ``frappe-accelerated/frappe_data_pipelines`` (a document
ETL-for-RAG pipeline) on Spark DataFrames / SQL / Structured Streaming, plus
the large-scale training-data-pipeline operators (dedup, similarity search,
multimodal columns, text analysis) that a 100 TB corpus needs.

Design stance (SURVEY.md §7): declarative DataFrame plans everywhere so
Catalyst supplies predicate pushdown, column pruning, join selection, AQE and
whole-stage codegen for free; Python only inside Arrow-batched pandas UDFs for
the genuinely procedural pieces (recursive chunking, stateful section paths,
pluggable embedders).
"""

__version__ = "0.1.0"

from frappe_data_pipelines_spark import lazyzip as _lazyzip

_lazyzip.install_in_worker()  # a no-op outside a PySpark task

from frappe_data_pipelines_spark.session import get_spark  # noqa: F401
from frappe_data_pipelines_spark.api import PipelineEngine, SearchService  # noqa: F401
from frappe_data_pipelines_spark.config import EngineSettings  # noqa: F401
