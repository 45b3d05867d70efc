"""Registered queries, grouped by operator family (SURVEY.md §2)."""

# Importing any query module loads the registry FIRST, and with it
# every query module in _MODULES order. Without this, a query module
# imported on its own would start the registry from inside its own
# import, and the registry would finish while that module's queries
# are still unregistered.
from bigdatafinalproject_spark import registry  # noqa: F401
