"""Every query, registered by the ``registry.query`` decorator at its definition.

Importing a module registers its queries, so this import order is the
order of QUERIES (the order ``list`` prints and a driver walks):
registry (flagship, order, market-data and CDC queries), relational,
tpch_more, tpch_wide, then dataprep (the training-data pipeline).
"""

from .registry import ORACLES, QUERIES
from . import relational, tpch_more, tpch_wide, dataprep  # noqa: F401 (order matters)

__all__ = ["QUERIES", "ORACLES"]
