"""tools/ab.py: a two-arm env A/B yields per-query ratios and restores
the environment it changed."""

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from ab import parse_arm, run  # noqa: E402

KEY = "SPARK_GRAFT_AB_TEST_KEY"


def test_two_env_arms_report_ratio_and_restore_env(spark, sf_dir, monkeypatch):
    monkeypatch.setenv(KEY, "before")
    out = run(spark, sf_dir, ["inner_fk_join"], [[f"env:{KEY}=a"], [f"env:{KEY}=b"]], reps=1)
    q = out["queries"]["inner_fk_join"]
    assert {"A_min", "A_max", "B_min", "B_max", "B/A"} <= set(q)
    assert q["B/A"] > 0
    assert out["A"]["env"] == {KEY: "a"} and out["B"]["env"] == {KEY: "b"}
    assert {"total_A", "total_B", "total_B/A", "loadavg", "sf_dir"} <= set(out)
    assert os.environ[KEY] == "before"


def test_parse_arm_rejects_malformed_assignment():
    assert parse_arm(["conf:a.b=1", "env:X=y=z"]) == {
        "conf": {"a.b": "1"},
        "env": {"X": "y=z"},
    }
    with pytest.raises(ValueError):
        parse_arm(["spark.sql.x=1"])
