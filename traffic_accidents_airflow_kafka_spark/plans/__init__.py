"""Declared-query catalog.

Importing this package imports every plan module, which registers its
queries into :data:`registry.QUERY_REGISTRY` as a side effect. The driver
contract (``__spark_entry__.py``) and the bench both read the registry
through the accessors re-exported here.
"""

from __future__ import annotations

from .registry import QUERY_REGISTRY, QuerySpec, oracle_sql, queries, register  # noqa: F401
# Import order is registration order: it sets the order of queries()
# (whose head is the tier-0 window) and of the generated CATALOG.md.
from . import analytics  # noqa: F401, E402
from . import topics  # noqa: F401, E402
from . import operators_core  # noqa: F401, E402
from . import stats  # noqa: F401, E402
from . import llm_dedup  # noqa: F401, E402
from . import llm_ann  # noqa: F401, E402
from . import llm_text  # noqa: F401, E402
from . import llm_multimodal  # noqa: F401, E402
from . import llm_graph  # noqa: F401, E402
from . import llm_curation  # noqa: F401, E402
from . import llm_filtering  # noqa: F401, E402
from . import llm_pipeline  # noqa: F401, E402
from . import llm_analysis  # noqa: F401, E402
from . import llm_retrieval  # noqa: F401, E402
from . import llm_audits  # noqa: F401, E402
from . import star  # noqa: F401, E402
from . import streaming_plans  # noqa: F401, E402
from . import extensions  # noqa: F401, E402
from . import tokenizer  # noqa: F401, E402
from . import pyext  # noqa: F401, E402
