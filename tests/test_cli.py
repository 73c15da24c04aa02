"""Smoke test for the executable pipeline CLI (demo fixtures, both
modes) — the reference-user migration path."""

from __future__ import annotations

import pytest

from bigdata_flightanalysis_spark.pipeline.run import main


@pytest.mark.parametrize("mode", ["idiomatic", "compat"])
def test_cli_demo_end_to_end(spark, tmp_path, mode, capsys):
    out = str(tmp_path / f"out_{mode}")
    main(["--out", out, "--demo", "--mode", mode])
    printed = capsys.readouterr().out
    assert "Silhouette 2019:" in printed
    assert "Top-5 airlines" in printed
    preds = spark.read.parquet(f"{out}/predictions_2023_parquet")
    assert preds.count() > 0
    assert "prediction" in preds.columns
    # CSV sink must be readable back (features stringified, reference S3)
    csv = spark.read.option("header", "true").csv(f"{out}/predictions_2023_csv")
    assert csv.count() == preds.count()
    # report artifacts land next to the sinks
    import os

    assert os.path.exists(f"{out}/report/index.html")
    assert os.path.exists(f"{out}/report/silhouette_scores.svg")


def test_engine_cli_list_and_run(capsys):
    from bigdata_flightanalysis_spark.__main__ import main

    main(["list", "--tag", "tpch"])
    out = capsys.readouterr().out
    assert "q1_pricing_summary" not in out  # tagged relational, not tpch
    assert "q6_forecast_revenue" in out
    assert all("tpch" in line.split()[-1] for line in out.splitlines())

    main(["run", "q6_forecast_revenue", "--limit", "5"])
    out = capsys.readouterr().out
    assert "revenue" in out


def test_cli_rejects_half_specified_csv_pair(tmp_path):
    """One CSV alone used to fall through SILENTLY to the built-in
    fixtures and write demo artifacts that looked like results for the
    user's file (r16 review) — the pair is all-or-nothing, and --demo
    must not contradict explicit CSVs."""
    out = str(tmp_path / "out")
    with pytest.raises(SystemExit):
        main(["--out", out, "--csv-2023", "/nonexistent/2023.csv"])
    with pytest.raises(SystemExit):
        main(["--out", out, "--csv-2019", "/nonexistent/2019.csv"])
    with pytest.raises(SystemExit):
        main([
            "--out", out, "--demo",
            "--csv-2019", "/nonexistent/2019.csv",
            "--csv-2023", "/nonexistent/2023.csv",
        ])


def test_introspect_cli_unknown_query_is_usage_error():
    """An unknown name must exit with a usage error + suggestions
    BEFORE the Spark spin-up, not a bare KeyError traceback after it
    (r16 review)."""
    import pytest

    from bigdata_flightanalysis_spark.plans import introspect

    with pytest.raises(SystemExit) as exc:
        introspect.main(["doc_bm25_topk_typo"])
    assert exc.value.code == 2
