"""bench.py's sweep output, checked without Spark."""

from __future__ import annotations

import json


def test_sweep_line_carries_error_strings(monkeypatch, capsys):
    import bench
    import fp_data_lakehouse_spark.session as session
    from fp_data_lakehouse_spark.operators import REGISTRY

    class _Spec:
        @staticmethod
        def builder(spark, sf_dir):
            return None

    seen_errors = []
    sf_dirs = []

    def fake_suite(spark, sf_dir, errors=None):
        assert errors is not None, "sweep must pass an errors dict"
        assert not errors, "one fresh dict per scale factor"
        seen_errors.append(errors)
        sf_dirs.append(sf_dir)
        errors["q01_avg_customer_revenue"] = f"boom at {sf_dir}"
        return {"q01_avg_customer_revenue": -1.0, "q02_x": 1.0}

    monkeypatch.setattr(session, "get_session", lambda *a, **k: object())
    monkeypatch.setattr(bench, "materialize", lambda df: None)
    monkeypatch.setattr(bench, "run_suite", fake_suite)
    monkeypatch.setitem(REGISTRY, "q01_avg_customer_revenue", _Spec())
    bench.sweep()
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines() if x.startswith("{")]
    suites = [x for x in lines if x["metric"] == "sweep_suite"]
    assert [x["sf"] for x in suites] == [0.001, 0.01, 0.1]
    for x, sf_dir in zip(suites, sf_dirs):
        assert x["n_errors"] == 1
        assert x["errors"] == {"q01_avg_customer_revenue": f"boom at {sf_dir}"}
    assert len({id(e) for e in seen_errors}) == 3
