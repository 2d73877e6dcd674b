"""EngineConfig validates at construction (no Spark): a bad knob fails
with ConfigError where it is written, not epochs later in apply_epoch."""

import dataclasses

import pytest

from etl_kafka_project_spark.config import ConfigError, EngineConfig


@pytest.mark.parametrize(
    "kw",
    [
        {"order_guard": "warm"},
        {"n_buckets": 0},
        {"key_columns": ()},
        {"key_columns": ("repo", "lsn")},
        {"key_columns": ("op",)},
    ],
    ids=["order_guard", "n_buckets", "empty_keys", "lsn_key", "op_key"],
)
def test_bad_values_raise_config_error(kw):
    with pytest.raises(ConfigError):
        EngineConfig(**kw)


def test_defaults_and_fixed_settings():
    cfg = EngineConfig(order_guard="warn", n_buckets=4)
    assert cfg.order_guard == "warn" and cfg.n_buckets == 4
    # the compaction cadence is a constant, readable but not settable
    assert cfg.compact_every_epochs == 8 and cfg.compact_delta_share == 0.2
    names = [f.name for f in dataclasses.fields(EngineConfig)]
    assert "compact_delta_share" not in names
    with pytest.raises(TypeError):
        EngineConfig(compact_delta_share=0.5)
