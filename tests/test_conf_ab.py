"""dev/conf_ab.py, the one conf A/B script: its named arms, its record
per query, and its refusal of a static conf before any query runs."""

from __future__ import annotations

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "conf_ab",
    os.path.join(os.path.dirname(__file__), "..", "dev", "conf_ab.py"),
)
conf_ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(conf_ab)

NO_AQE = "no_aqe:spark.sql.adaptive.enabled=false"


def test_parse_arms_empty_and_multi_key():
    arms = conf_ab.parse_arms(["default:", "smj:a.b=-1,c.d=true"])
    assert arms == {"default": {}, "smj": {"a.b": "-1", "c.d": "true"}}


@pytest.mark.parametrize(
    "specs", [["default:"], ["default:", "default:"], ["default:", "bad:a.b"]]
)
def test_parse_arms_refuses(specs):
    with pytest.raises(SystemExit):
        conf_ab.parse_arms(specs)


def test_static_key_refused_before_any_query_runs(spark, sf_dir, monkeypatch):
    def never(*_):
        raise AssertionError("a query ran")

    monkeypatch.setattr(conf_ab, "ab", never)
    monkeypatch.setattr(conf_ab, "load_all", never)
    arms = conf_ab.parse_arms(["default:", "big:spark.sql.codegen.cache.maxEntries=8192", NO_AQE])
    with pytest.raises(SystemExit, match="spark.sql.codegen.cache.maxEntries"):
        conf_ab.run(spark, arms, ["q6_forecast_revenue"], sf_dir)


def test_run_records_each_arm(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(conf_ab, "BLOCKS", 1)
    monkeypatch.setattr(conf_ab, "RUNS", 1)
    out = conf_ab.run(spark, conf_ab.parse_arms(["default:", NO_AQE]), ["q6_forecast_revenue"], sf_dir)
    rec = out["q6_forecast_revenue"]
    assert rec["rows_equal"] is True
    assert set(rec) == {"rows_equal", "default", "no_aqe", "no_aqe/default"}
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
