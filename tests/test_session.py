"""Session configuration knobs."""

from __future__ import annotations

import pytest

from project_fauna_spark.session import _env_bytes

SIZES = ["64m", "64mb", "64MB", "1t", "1tb", "2p", "512kb", "512K", "1048576", "7b", " 8g "]
NOT_SIZES = ["", "64 mb", "1.5g", "-1m", "64x", "mb", "1kib", "64mbb"]


@pytest.mark.parametrize("raw", SIZES + NOT_SIZES)
def test_env_bytes_follows_spark_size_grammar(raw, monkeypatch, spark):
    """A value is accepted exactly when Spark's own parser accepts it;
    anything else falls back to the default."""
    monkeypatch.setenv("FAUNA_TEST_BYTES", raw)
    parse = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    try:
        parse(raw)
        spark_ok = True
    except Exception:
        spark_ok = False
    assert spark_ok == (raw in SIZES)
    assert _env_bytes("FAUNA_TEST_BYTES", "64m") == (raw.strip() if spark_ok else "64m")
