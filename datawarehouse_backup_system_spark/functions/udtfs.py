"""Sentence splitting as a built-in expression (t31's segmentation step).

Semantics (canonical, engine-portable): a sentence boundary is
``[.!?]`` followed by whitespace — the explicit
:data:`~..operators.text.WS_CLASS`, not the ``\\s`` shorthand, because
``\\s`` reads differently in every dialect this family spans (Python
``re`` on str: full Unicode whitespace incl. NBSP; Java: ASCII with
vertical tab; DuckDB/RE2: ASCII without vertical tab — the same
three-way fork the r11 tokens() migration closed for tokenization).
Implemented as mark-then-split — replace the boundary with the
terminator plus a ``\\x01`` marker, split on the marker, drop empties —
because RE2 (DuckDB) has no lookbehind, so the naive
``(?<=[.!?])\\s+`` split can't be replayed by the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators.text import WS_CLASS

SENT_MARK = "\x01"


def sentences_expr(text: Column) -> Column:
    """array<string> of sentences, codegen-friendly. Trims ASCII spaces
    only (``F.trim``), so edge tabs and newlines stay in the first and
    last sentence."""
    marked = F.regexp_replace(
        F.trim(text), f"([.!?]){WS_CLASS}+", "$1" + SENT_MARK
    )
    return F.filter(F.split(marked, SENT_MARK), lambda s: s != "")
