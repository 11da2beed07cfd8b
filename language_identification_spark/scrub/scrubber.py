r"""The scrub chain: the flagship's Arrow UDF, ``scrub_audit`` and
``scrub_comments_scoped`` all run this loop on their Python workers.  Each
row takes one ``re.Pattern.subn`` per pattern, in spec order — the
labeler's own loop (``datagen/labeler.py``): count and scrubbed text come
out of one regex pass.  A ``mask`` lets the caller skip rows.

``private_key``'s lazy ``[\s\S]*?`` rescans to the end of the row from
every BEGIN with no END after it: quadratic.  No match can end after the
row's last END marker, so the rule runs on the text up to there and the
tail passes through — the plain ``subn``'s text and count, in linear time.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from .patterns import COMPILED

# the END half of ``PATTERNS``' private_key rule (a test pins the suffix)
_PEM_END = re.compile(r"-----END [A-Z ]*PRIVATE KEY-----")


def _pem_cut(text: str) -> int:
    """End of the last ``_PEM_END`` match (overlapping ones included), 0
    without one.  A match's end grows with its start: take the rightmost."""
    i = len(text)
    while (i := text.rfind("-----END ", 0, i)) >= 0:
        m = _PEM_END.match(text, i)
        if m:
            return m.end()
    return 0


def scrub_text(text: str) -> tuple[str, list[int]]:
    """``text`` with every rule applied in spec order, and one count per
    rule (spec order) of its substitutions on the text the earlier rules
    left: a PEM body consumed by ``private_key`` is not re-counted by
    ``email``."""
    counts = []
    for name, rx, repl in COMPILED:
        if name == "private_key":
            cut = _pem_cut(text)
            head, k = rx.subn(repl, text[:cut])
            text = head + text[cut:]
        else:
            text, k = rx.subn(repl, text)
        counts.append(k)
    return text, counts


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
        texts, counts = zip(*map(scrub_text, active))
        out.loc[active.index] = list(texts)
        n_sub.loc[active.index] = [sum(c) for c in counts]
    return out, n_sub
