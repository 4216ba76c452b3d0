"""Session conf scoping: a scoped override never leaks into later queries."""

import pytest

from otel_arrow_spark.session import small_state_conf

KEYS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def test_small_state_conf_restores_after_body_raises(spark):
    scoped = {KEYS[0]: "false", KEYS[1]: "1"}
    before = {k: spark.conf.get(k) for k in KEYS}
    assert before[KEYS[0]] != "false" and before[KEYS[1]] != "1"
    with pytest.raises(RuntimeError, match="boom"):
        with small_state_conf(spark):
            assert {k: spark.conf.get(k) for k in KEYS} == scoped
            raise RuntimeError("boom")
    assert {k: spark.conf.get(k) for k in KEYS} == before
