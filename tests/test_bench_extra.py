"""bench_extra.py argument validation: bad arguments fail before Spark."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import bench_extra  # noqa: E402


@pytest.mark.parametrize("reps", ["0", "-1"])
def test_reps_below_one_is_rejected_before_spark_starts(monkeypatch, capsys,
                                                        reps):
    from webextract import session

    def no_spark(*a, **kw):
        raise AssertionError("Spark started for an invalid --reps")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        bench_extra.main(["--reps", reps, "q01_pricing_summary"])
    assert exc.value.code == 2
    assert "--reps" in capsys.readouterr().err
