from .registry import Query, all_queries, get_query, register  # noqa: F401

# Import every catalog module here, in this fixed order: registration
# order is the catalog order, so it must not depend on which plan module
# a caller happens to import first.
from . import (  # noqa: E402, F401
    analytics,
    curation,
    governance,
    llm,
    relational,
    telemetry,
)
