"""The tooling entry point (``python -m ufload_spark.runner``): each mode
over one registered query at the test scale, on the shared session."""

from __future__ import annotations

from tests.conftest import SF_DIR
from ufload_spark import runner

Q = "latest_backup_per_instance"


def test_time_gives_three_runs_and_their_median(spark):
    res = runner.time_queries(spark, [Q], SF_DIR)
    assert res["sf_dir"] == SF_DIR and list(res["queries"]) == [Q]
    runs = res["queries"][Q]["runs"]
    assert len(runs) == runner.PASSES == 3
    assert res["queries"][Q]["median"] == sorted(runs)[1]


def test_plans_executed_dump_is_the_final_plan(spark, tmp_path, capsys):
    paths = runner.dump_plans(spark, "t", [Q], SF_DIR, str(tmp_path), executed=True)
    assert paths == [str(tmp_path / f"{Q}_t.txt")]
    assert "isFinalPlan=true" in (tmp_path / f"{Q}_t.txt").read_text()
    assert capsys.readouterr().out.startswith(f"wrote {paths[0]} (")


def test_audit_prints_header_and_one_row_per_query(spark, capsys):
    runner.audit(spark, SF_DIR, {Q})
    header, *rows = capsys.readouterr().out.splitlines()
    assert header == (
        "query\tscans\tdup_scan_tables\texchanges\treused_exch\tbhj\tsmj\tshj"
        "\tbnlj\tpy_nodes\twindows\tsubqueries"
    )
    assert len(rows) == 1
    row = rows[0].split("\t")
    assert row[0] == Q and len(row) == 12
    assert all(c.isdigit() for c in row[1:2] + row[3:])


def test_sweep_reports_no_fails(spark, capsys):
    assert runner.sweep(spark, SF_DIR, {Q}) == 0
    out = capsys.readouterr().out
    assert out.startswith("DONE 1 queries, 0 fails, ")


def test_unknown_names_exit_2_before_any_query_runs(spark, capsys):
    assert runner.main(["sweep", "--family", "nosuch"]) == 2
    assert runner.sweep(spark, SF_DIR, {"nosuch"}) == 2
    assert capsys.readouterr().out.splitlines() == [
        "UNKNOWN FAMILY 'nosuch'",
        "UNKNOWN ['nosuch']",
    ]
