"""Config-source layering tests (S9): .env precedence, multi-name fallback,
spark-conf override — table-driven per the reference rules."""

from __future__ import annotations

import pytest

from language_identification_spark.config import DEFAULT_CONFIG
from language_identification_spark.config_sources import (
    env_get,
    filter_config,
    load_dotenv,
)


def test_dotenv_never_overrides_real_env(tmp_path):
    p = tmp_path / ".env"
    p.write_text(
        "# comment line\n"
        "\n"
        "LID_MIN_CHARS=99\n"
        'QUOTED="  spaced value  "\n'
        "NOEQUALS LINE\n"
        "EXISTING=from_file\n"
    )
    env = {"EXISTING": "from_env"}
    loaded = load_dotenv(str(p), env)
    assert env["EXISTING"] == "from_env"  # real env wins (ref :101-102)
    assert env["LID_MIN_CHARS"] == "99"
    assert env["QUOTED"] == "  spaced value  "  # quotes stripped, inner kept
    assert "NOEQUALS LINE" not in env
    assert set(loaded) == {"LID_MIN_CHARS", "QUOTED"}


def test_dotenv_missing_file_is_noop(tmp_path):
    env: dict[str, str] = {}
    assert load_dotenv(str(tmp_path / "absent.env"), env) == {}
    assert env == {}


@pytest.mark.parametrize(
    "env,expected",
    [
        ({"A": "x"}, "x"),
        ({"B": "y"}, "y"),
        ({"A": "", "B": "y"}, "y"),  # empty string falls through (or-chain)
        ({"A": " x "}, "x"),  # stripped like the reference
        ({}, ""),  # no truthy name → empty string
    ],
)
def test_env_get_multi_name_fallback(env, expected):
    assert env_get(env, "A", "B") == expected


def test_filter_config_layering(tmp_path):
    p = tmp_path / ".env"
    p.write_text("LID_MIN_CHARS=10\nQF_PPL_TAU=42.5\nLID_CONF_TAU=0.5\n")
    # env overrides .env for the same key; multi-name fallback for ppl_tau
    env = {"LID_MIN_CHARS": "20"}
    cfg = filter_config(env=env, dotenv_path=str(p))
    assert cfg.min_chars == 20  # env beat .env
    assert cfg.ppl_tau == 42.5  # second name (QF_) picked up from .env
    assert cfg.conf_tau == 0.5
    assert cfg.max_line_len == DEFAULT_CONFIG.max_line_len  # untouched


def test_filter_config_spark_conf_wins(spark):
    spark.conf.set("spark.lid.minChars", "77")
    try:
        cfg = filter_config(env={"LID_MIN_CHARS": "20"}, spark=spark)
        assert cfg.min_chars == 77
    finally:
        spark.conf.unset("spark.lid.minChars")
