"""semantic_olap_spark — a PySpark-native semantic OLAP engine.

Re-implements, Spark-first, the query semantics of the reference
Semantic-OLAP system (see SURVEY.md): ten logical operators
(sem_filter, keyword_filter, num_filter, sem_map, sem_group,
sem_reduce, num_reduce, count, num_topk, sem_topk), physical filter
specializations (pattern / enum / numeric), a boolean plan language
with Kleene staged evaluation, and a cube-lattice materialized-view
memory — plus large-scale training-data-pipeline operators
(deduplication, similarity search, text analysis, multimodal columns)
that the reference lacks but a 100 TB deployment needs.

Layering (engine-first, opposite of the reference's agent-first
structure — SURVEY.md §7.0):

- ``session``     SparkSession factory tuned for analytics
- ``sources``     loaders (parquet star schema, JSON with the
                  reference's flatten semantics)
- ``operators``   the ten logical operators + physical filters
- ``plans``       plan-language executor + cube memory
- ``functions``   pipeline operators (dedup / similarity / text /
                  multimodal)
- ``streaming``   Structured Streaming windowed/session aggregation
- ``llm``         the ``predict(prompt) -> str`` protocol, stub +
                  caching (the reference's only LLM requirement:
                  Semantic-OLAP/Agents/Components/Operaters.py:69)
- ``engine``      the full NL-query lifecycle (decompose → cube
                  probe → delta filter → memoize → ReAct analysis →
                  top-k), the reference's OLAP_Agent.run
"""

__version__ = "0.2.0"

from semantic_olap_spark.caching import (  # noqa: F401
    cache_scope,
    release_caches,
)
from semantic_olap_spark.engine import OlapEngine  # noqa: F401
from semantic_olap_spark.inspector import (  # noqa: F401
    lattice_html,
    lattice_text,
)
from semantic_olap_spark.session import get_spark  # noqa: F401
from semantic_olap_spark.sql import (  # noqa: F401
    register_semantic_sql,
    register_tables,
)
from semantic_olap_spark.worker_zip import install_in_worker

# a Python worker imports the package to unpickle any of its UDFs
install_in_worker()
