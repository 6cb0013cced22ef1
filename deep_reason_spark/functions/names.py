"""Shared deterministic name reductions.

``longest_name`` is THE tie-break rule for every "canonical display name =
longest surface form" reduction in the engine (full graph stage, ontology,
edge naming, incremental title merge). A bare
``max_by(name, length(name))`` is nondeterministic on equal-length ties,
which breaks two contracts at once: the incremental-maintenance exactness
guarantee (the reduction must be associative — a two-level merge must pick
the same winner as the one-level full rebuild) and the repo parity rule
that every reduction is deterministically tie-broken. Ordering by
``struct(length, value)`` resolves equal lengths lexicographically
(greatest wins), which is associative and engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def longest_name(col: str | Column) -> Column:
    """``max_by(col, struct(length(col), col))`` — longest value, ties
    broken by greatest string. Alias the result at the call site."""
    c = F.col(col) if isinstance(col, str) else col
    return F.max_by(c, F.struct(F.length(c), c))
