"""Ordered PII/secret scrub patterns — the frozen spec shared as DATA.

The Spark scrub chain (``scrub/scrubber.py``, which every Spark-side
scrub runs), the independent labeler (``datagen/labeler.py``) and the
DuckDB oracle SQL (RE2) apply exactly this list in exactly this order,
one ``subn`` per pattern.  Order matters: PEM blocks are removed
first so their base64 body can't partially match later patterns.

Reference analog: the per-segment content transformation keyed by detected
label (``/root/reference/disconnected_language_detector.py:559-894``) — here
the transform is redaction rather than transcription.  Replacement tokens
never re-match any pattern, so the scrub is idempotent
(``scrub(scrub(x)) == scrub(x)``, FIXTURES.md F3).
"""

from __future__ import annotations

import re

# (name, pattern, replacement) — applied in order with re.MULTILINE
PATTERNS: tuple[tuple[str, str, str], ...] = (
    (
        "private_key",
        r"-----BEGIN [A-Z ]*PRIVATE KEY-----[\s\S]*?-----END [A-Z ]*PRIVATE KEY-----",
        "[REDACTED_PRIVATE_KEY]",
    ),
    (
        "aws_key",
        r"\bAKIA[0-9A-Z]{16}\b",
        "[REDACTED_AWS_KEY]",
    ),
    (
        "email",
        r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b",
        "[REDACTED_EMAIL]",
    ),
    (
        "ipv4",
        # [0-9] (not \d) so the class is byte-identical in Python/Java/RE2
        r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b",
        "[REDACTED_IP]",
    ),
    (
        "ipv6",
        r"\b(?:[0-9A-Fa-f]{1,4}:){3,7}[0-9A-Fa-f]{1,4}\b",
        "[REDACTED_IP6]",
    ),
    (
        "secret_assignment",
        # scoped (?i: ) so patterns stay combinable into one alternation
        # (a global (?i) mid-pattern is a hard error on Python 3.11+)
        r"\b((?i:secret|token|password|passwd|api[_-]?key|access[_-]?key))"
        r"(\s*[=:]\s*)[\"']?[^\s\"']{6,}[\"']?",
        r"\1\2[REDACTED]",
    ),
)

# Engine-neutral flag: Python compiles with re.ASCII so \b/\w/\s use the
# ASCII tables — as RE2 (the DuckDB oracle) does.  Without it, Python's
# Unicode-aware \b can match where the other engines do not.
PATTERN_FLAGS = re.ASCII | re.MULTILINE

COMPILED: tuple[tuple[str, "re.Pattern[str]", str], ...] = tuple(
    (name, re.compile(pat, PATTERN_FLAGS), repl) for name, pat, repl in PATTERNS
)

# union of all patterns.  The flagship runs no trigger in front of the scrub
# (every row the models see is scrubbed in their Python pass); the
# benchmark's ``trigger.s`` ablation still times this union as a Java
# ``rlike``.  (?i:..), [0-9] classes, \s and lazy quantifiers parse
# identically in java.util.regex, Python re (ASCII mode) and RE2; \b does
# not (Java 17's \b counts non-ASCII letters as word characters).
TRIGGER_REGEX = "|".join(f"(?:{p})" for _n, p, _r in PATTERNS)

