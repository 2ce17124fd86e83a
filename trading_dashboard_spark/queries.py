"""Aggregated query registry — importing this module registers every
query/oracle pair from all tiers (driver contract entry point).

Registry order is definition order: the modules below, in this order, and
each module's `register` calls top to bottom. Importing does no other work.
"""

from __future__ import annotations

from .query_registry import QUERY_REGISTRY, QuerySpec, register  # noqa: F401
from . import queries_relational  # noqa: F401
from . import queries_windows  # noqa: F401
from . import queries_text  # noqa: F401
from . import queries_similarity  # noqa: F401
from . import queries_multimodal  # noqa: F401
from . import queries_training  # noqa: F401
from . import queries_streaming  # noqa: F401
from . import queries_extra  # noqa: F401
from . import queries_analytics  # noqa: F401
from . import queries_dashboard  # noqa: F401
