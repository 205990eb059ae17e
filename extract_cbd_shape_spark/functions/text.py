"""Text column functions (JVM-side, no Python UDFs).

``tokens`` has a DuckDB-SQL mirror (``_TOKS_SQL`` in __spark_entry__.py,
checked by the ``entity_link`` oracle pair) — the tokenization contract
is shared: ``tokens = non-empty pieces of lower(text) split on
[^a-z0-9]+``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens(text: Column) -> Column:
    """Lower-cased alphanumeric tokens."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT_RE), lambda x: x != "")
