"""Named query registry — the engine's public query corpus.

Family modules register their queries on import; the public surface
is REGISTRY, queries(), oracle_sql(), load_table and every helper,
imported via ``financial_anomaly_detection_spark.queries``.
``queries()`` lists every oracle-backed query in registration order,
then every rows-only query in registration order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .common import *  # noqa: F401,F403
from .common import REGISTRY

# Import order = REGISTRY registration order.
from . import relational  # noqa: F401,E402
from . import profiles_scoring  # noqa: F401,E402
from . import ml_eval  # noqa: F401,E402
from . import text_curation  # noqa: F401,E402
from . import dedup_similarity  # noqa: F401,E402
from . import graph  # noqa: F401,E402
from . import sketches  # noqa: F401,E402
from . import multimodal  # noqa: F401,E402
from . import product_analytics  # noqa: F401,E402
from . import storage_layout  # noqa: F401,E402


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    oracle_backed = {n: s.fn for n, s in REGISTRY.items() if s.oracle is not None}
    rows_only = {n: s.fn for n, s in REGISTRY.items() if s.oracle is None}
    return {**oracle_backed, **rows_only}


def oracle_sql() -> dict[str, str]:
    return {n: s.oracle for n, s in REGISTRY.items() if s.oracle is not None}
