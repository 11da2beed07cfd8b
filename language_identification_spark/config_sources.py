"""Config sources: .env / environment / spark-conf layering (S9).

Re-expresses the reference's config behaviors as an engine config source
(semantics, not code):

- ``load_dotenv`` — parse ``KEY=VALUE`` lines, skip comments/blanks/non-KV,
  strip surrounding quotes, and NEVER override variables already present in
  the real environment (``/root/reference/disconnected_language_detector.py:
  75-109``).
- ``env_get`` — multi-name fallback with or-chain semantics: the first name
  whose value is truthy wins, empty strings fall through (``:474-482``).
- ``filter_config`` — layer the decision thresholds into ``FilterConfig``
  with precedence spark conf > env > .env > frozen defaults.
"""

from __future__ import annotations

import dataclasses
import os
from collections.abc import MutableMapping

from .config import DEFAULT_CONFIG, FilterConfig

# multi-name fallback per tunable (first truthy name wins), reference-style
ENV_NAMES: dict[str, tuple[str, ...]] = {
    "min_chars": ("LID_MIN_CHARS", "QF_MIN_CHARS"),
    "max_line_len": ("LID_MAX_LINE_LEN", "QF_MAX_LINE_LEN"),
    "rep_min_lines": ("LID_REP_MIN_LINES", "QF_REP_MIN_LINES"),
    "rep_distinct_ratio": ("LID_REP_DISTINCT_RATIO", "QF_REP_DISTINCT_RATIO"),
    "min_alnum_ratio": ("LID_MIN_ALNUM_RATIO", "QF_MIN_ALNUM_RATIO"),
    "conf_tau": ("LID_CONF_TAU", "QF_CONF_TAU"),
    "ll_floor": ("LID_LL_FLOOR", "QF_LL_FLOOR"),
    "ppl_tau": ("LID_PPL_TAU", "QF_PPL_TAU"),
}

# spark conf key per tunable (highest-precedence source)
SPARK_CONF_KEYS: dict[str, str] = {
    f: "spark.lid." + "".join(
        w if i == 0 else w.capitalize() for i, w in enumerate(f.split("_"))
    )
    for f in ENV_NAMES
}


def load_dotenv(
    path: str = ".env", env: MutableMapping[str, str] | None = None
) -> dict[str, str]:
    """Parse ``path`` into ``env`` WITHOUT overriding existing variables.

    Returns the variables that were newly set.  Missing file → no-op.
    """
    if env is None:
        env = os.environ
    loaded: dict[str, str] = {}
    if not os.path.isfile(path):
        return loaded
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            key, val = line.split("=", 1)
            key = key.strip()
            if key in env:
                continue  # real environment wins (reference :101-102)
            val = val.strip().strip('"').strip("'")
            env[key] = val
            loaded[key] = val
    return loaded


def env_get(env: MutableMapping[str, str], *names: str) -> str:
    """First TRUTHY value among ``names`` (or-chain: '' falls through), else ''."""
    for n in names:
        v = env.get(n)
        if v:
            return v.strip()
    return ""


def filter_config(
    env: MutableMapping[str, str] | None = None,
    dotenv_path: str | None = None,
    spark=None,
) -> FilterConfig:
    """Layered FilterConfig: spark conf > env > .env > ``DEFAULT_CONFIG``."""
    if env is None:
        env = os.environ
    if dotenv_path is not None:
        load_dotenv(dotenv_path, env)

    overrides: dict[str, object] = {}
    for field in dataclasses.fields(DEFAULT_CONFIG):
        if field.name not in ENV_NAMES:
            continue
        raw = env_get(env, *ENV_NAMES[field.name])
        if spark is not None:
            raw = spark.conf.get(SPARK_CONF_KEYS[field.name], None) or raw
        if not raw:
            continue
        cur = getattr(DEFAULT_CONFIG, field.name)
        overrides[field.name] = type(cur)(raw)
    return dataclasses.replace(DEFAULT_CONFIG, **overrides)
