"""In-process CLI tests (the argparse surface of __main__.py); get_spark's
getOrCreate reuses the test session so these stay fast."""

from __future__ import annotations

from data_engineering_task_adtech_data_pipeline_spark.__main__ import main


def test_cli_full_cycle(spark, tmp_path, capsys):
    root = str(tmp_path / "lake")
    assert main(["batch", "--root", root, "--advertisers", "2",
                 "--campaigns", "2", "--impressions", "50"]) == 0
    assert main(["initial-load", "--root", root, "--as-of", "2024-01-01"]) == 0
    assert main(["batch", "--root", root, "--append", "--advertisers", "1",
                 "--campaigns", "1", "--impressions", "30",
                 "--seed", "9", "--id-offset", "10"]) == 0
    assert main(["track-deltas", "--root", root]) == 0
    assert main(["stats", "--root", root]) == 0
    out = capsys.readouterr().out
    assert "'advertiser': 2" in out  # first batch counts
    assert "'advertiser_campaigns':" in out  # delta counts printed
    assert "ctr_pct" in out  # stats table rendered
    assert main(["reset", "--root", root]) == 0
    import os

    assert not os.path.exists(root)


def test_cli_reset_removes_a_uri_root(spark, tmp_path):
    root = tmp_path / "lake"
    (root / "bronze").mkdir(parents=True)
    (root / "bronze" / "part-0.parquet").write_bytes(b"x")
    assert main(["reset", "--root", root.as_uri()]) == 0
    assert not root.exists()
