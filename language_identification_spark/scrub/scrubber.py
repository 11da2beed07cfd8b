"""Batch scrub pass (the Spark-side implementation).

Used inside the pipeline's Arrow pandas UDF on every row the models see.
Each row takes one ``re.Pattern.subn`` per pattern, in spec order — the
labeler's own loop (``datagen/labeler.py``): the substitution count and the
scrubbed text come out of the same regex pass.  A row with no match costs
the six scans and comes back unchanged with ``n_sub`` 0.  A ``mask`` lets
the caller skip rows already marked for drop (SURVEY.md §4.1 "early filter
before downstream work").
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .patterns import COMPILED


def _scrub_one(text: str) -> tuple[str, int]:
    n = 0
    for _name, rx, repl in COMPILED:
        text, k = rx.subn(repl, text)
        n += k
    return text, n


def scrub_series(
    content: pd.Series,
    mask: pd.Series | None = None,
    pretriggered: bool = False,
) -> tuple[pd.Series, pd.Series]:
    """Returns ``(scrubbed, n_sub)`` aligned with ``content``.

    Rows where ``mask`` is False, and NULL rows, are passed through
    untouched with n_sub=0.  ``pretriggered`` no longer changes anything:
    there is no prefilter to skip (a union pre-search costs more in Python
    than the six passes it would guard), so every masked row is scrubbed
    the same way whatever the flag says.
    """
    if mask is None:
        mask = pd.Series(True, index=content.index)
    active = content[mask.fillna(False) & content.notna()]
    out = content.copy()
    n_sub = pd.Series(np.zeros(len(content), dtype=np.int64), index=content.index)
    if len(active):
        texts, counts = zip(*map(_scrub_one, active))
        out.loc[active.index] = list(texts)
        n_sub.loc[active.index] = list(counts)
    return out, n_sub
