"""Driver-facing query registry.

Every operator from SURVEY.md §2 (plus the training-data-pipeline
extensions) is registered here as a pair:

- a Spark callable ``(spark, sf_dir) -> DataFrame``
- an equivalent ANSI-SQL string DuckDB runs on the same parquet tables

The driver compares both at sf=0.01 (row count + schema + order-insensitive
value hash), so columns are aliased identically on both sides and all
engine-variant types are pinned with explicit CASTs (BIGINT counts, INTEGER
years, DOUBLE ratios). Money sums use the exact DECIMAL-sum-then-DOUBLE
pattern (see functions.scalar.dsum) so values are bit-identical regardless
of aggregation order.
"""

from __future__ import annotations

from .registry import ORACLE, QUERIES, query

# Import for registration side effects. QUERIES and ORACLE keep
# registration order: module by module, in the order imported here.
from . import olap  # noqa: E402,F401
from . import sampling  # noqa: E402,F401
from . import streaming  # noqa: E402,F401
from . import pipeline_e2e  # noqa: E402,F401
from . import winnow  # noqa: E402,F401
from . import quality  # noqa: E402,F401
from . import chunking  # noqa: E402,F401
from . import scrub  # noqa: E402,F401
from . import terms  # noqa: E402,F401
from . import funnel  # noqa: E402,F401
from . import skew  # noqa: E402,F401
from . import dedup  # noqa: E402,F401
from . import core  # noqa: E402,F401
from . import gold  # noqa: E402,F401
from . import similarity  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import multimodal  # noqa: E402,F401
from . import vocab  # noqa: E402,F401
from . import shards  # noqa: E402,F401
from . import graphx  # noqa: E402,F401
from . import corpus_profile  # noqa: E402,F401
from . import governance  # noqa: E402,F401
from . import formats  # noqa: E402,F401
from . import advanced  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import roundten  # noqa: E402,F401
from . import roundeleven  # noqa: E402,F401
from . import roundtwelve  # noqa: E402,F401

__all__ = ["QUERIES", "ORACLE", "query"]
