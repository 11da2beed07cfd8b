"""Skew-safe equi-join via explicit key salting.

The north rule calls for mega-repo skew "handled explicitly": a hash
equi-join sends every row of a hot key to ONE reducer, so a single
boilerplate-heavy repo (or a `source` shared by 10% of the lake) turns a
1000-executor join into a one-straggler join.  AQE's skew-join split
handles the SORT side of a sort-merge join, and `broadcast()` handles
small dims — this operator covers the remaining case: a dim table too
big to broadcast joined against facts with hot keys.

Mechanics: the fact side gets a deterministic salt in [0, salt_factor)
hashed from a fact-unique column; the dim side is replicated once per
salt value (an `explode(sequence(...))` cross product — dim rows only,
never facts).  The join key becomes (key, salt), so a hot key spreads
over ``salt_factor`` reducers.  Salting is semantics-invisible: every
fact row carries exactly one salt and every dim row exists at every
salt, so the result set is bit-identical to the unsalted join — which is
exactly what the DuckDB oracle pins (the oracle runs the PLAIN join).

Reference parity: no analog (single-node engine); part of the
partitioning/shuffle/skew surface of the LLM-training-data extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key_col: str,
    salt_from: str,
    salt_factor: int = 8,
) -> DataFrame:
    """Inner equi-join ``facts ⋈ dim`` on ``key_col`` with the fact side salted.

    ``salt_from`` names a fact column whose xxhash64 scatters rows across
    replicas (any well-distributed column works; a row id is ideal —
    deterministic, unlike a random or partition-derived salt, so retries
    and resumed runs place every row identically).  Each fact row joins
    the single dim replica carrying its salt.

    Dim replication costs ``salt_factor ×`` the dim size in shuffle —
    the right trade when the dim is too big to broadcast and fact keys
    are hot; for broadcast-able dims use ``F.broadcast`` instead.
    """
    if salt_factor < 1:
        raise ValueError(f"salt_factor={salt_factor} must be >= 1")
    if SALT_COL in facts.columns or SALT_COL in dim.columns:
        # silently overwriting (and later dropping) a caller's column of
        # the same name would corrupt output (ADVICE r05)
        raise ValueError(
            f"salted_join: input already carries a {SALT_COL!r} column — "
            "rename it before joining"
        )
    f = facts.withColumn(
        SALT_COL, F.pmod(F.xxhash64(F.col(salt_from)), F.lit(salt_factor))
    )
    d = dim.withColumn(
        SALT_COL,
        F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1)).cast("array<long>")),
    )
    return f.join(d, on=[key_col, SALT_COL]).drop(SALT_COL)
