"""Lifecycle tests for the composed end-to-end restore (VERDICT r7 #1):
a mid-chain failure publishes NOTHING and the loop probes the next
candidate; an all-fail probe list leaves the target absent; the composed
report agrees with the listing-predicted winners."""

from __future__ import annotations

import io
import os
import zipfile

import pytest

from tests.conftest import SF_DIR
from ufload_spark.operators.restore_e2e import (
    DELIVE_STEPS,
    RESTORE_INSTANCES,
    _is_garbage,
    _is_multimember,
    delive_audit_facts,
    ensure_candidate_zips,
    restore_instances,
    restore_one_instance,
)
from ufload_spark.sources.loader import AuditError
from ufload_spark.sources.zipsource import zip_peek


def _write_zip(path: str, members: dict[str, str | bytes]) -> None:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, text in members.items():
            z.writestr(zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0)), text)
    with open(path, "wb") as f:
        f.write(buf.getvalue())


def _write_garbage(path: str) -> None:
    with open(path, "wb") as f:
        f.write(b"\x00NOT A ZIP\xff" * 16)


def _cands(*names: str) -> list[dict]:
    return [{"name": n, "rn": i + 1} for i, n in enumerate(names)]


def test_failed_candidate_publishes_nothing_and_probes_next(spark, tmp_path):
    """rn1 corrupt → its publish must fail BEFORE target exists; rn2 wins;
    the published bytes are rn2's dump, and no staging debris remains."""
    zips = tmp_path / "zips"
    zips.mkdir()
    _write_garbage(str(zips / "a.zip"))
    _write_zip(str(zips / "b.zip"), {"inst.dump": "DUMP FROM B"})
    _write_zip(str(zips / "c.zip"), {"inst.dump": "DUMP FROM C"})
    target = str(tmp_path / "restored")
    row = restore_one_instance(
        spark, str(zips), "INST", _cands("a.zip", "b.zip", "c.zip"), target
    )
    assert row["ok"] is True
    assert row["published"] == "b.zip"
    assert row["n_attempts"] == 2
    assert row["rn_published"] == 2
    assert row["dump_rows"] == 1
    got = spark.read.parquet(target).collect()
    assert len(got) == 1 and got[0]["text"] == "DUMP FROM B"
    # c.zip was never attempted (the reference's break-on-success)
    debris = [p for p in os.listdir(tmp_path) if ".staging." in p]
    assert debris == []


def test_multimember_archive_fails_audit(spark, tmp_path):
    """Two members violate the reference's exactly-one-dump rule
    (cloud.py:221-228): the central-directory peek rejects the archive
    before it is staged (the expected_rows=1 audit behind it would reject
    its two-row extract too) and the next candidate wins."""
    zips = tmp_path / "zips"
    zips.mkdir()
    _write_zip(
        str(zips / "multi.zip"),
        {"inst.dump": "REAL", "stray.txt": "EXTRA"},
    )
    _write_zip(str(zips / "good.zip"), {"inst.dump": "GOOD"})
    target = str(tmp_path / "restored")
    row = restore_one_instance(
        spark, str(zips), "INST", _cands("multi.zip", "good.zip"), target
    )
    assert row["published"] == "good.zip" and row["n_attempts"] == 2


def test_non_utf8_dump_fails_audit_and_probes_next(spark, tmp_path):
    """A one-member archive whose member is not UTF-8 text passes the peek
    but extracts to zero rows, so the audit rejects it and the next
    candidate wins — it must not abort the whole restore."""
    zips = tmp_path / "zips"
    zips.mkdir()
    _write_zip(str(zips / "binary.zip"), {"inst.dump": b"\xff\xfe\x00\x80DUMP"})
    _write_zip(str(zips / "text.zip"), {"inst.dump": "TEXT DUMP"})
    target = str(tmp_path / "restored")
    row = restore_one_instance(
        spark, str(zips), "INST", _cands("binary.zip", "text.zip"), target
    )
    assert row["published"] == "text.zip" and row["n_attempts"] == 2
    assert spark.read.parquet(target).collect()[0]["text"] == "TEXT DUMP"


def _write_damaged(path: str, compression: int) -> None:
    """One member whose data is damaged after the archive was written: a
    flipped stored byte fails the CRC check, a deflate stream starting
    with a reserved block type fails to inflate. The central directory
    stays intact."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        info = zipfile.ZipInfo("inst.dump", date_time=(2020, 1, 1, 0, 0, 0))
        z.writestr(info, "DAMAGED DUMP " * 4, compress_type=compression)
    data = bytearray(buf.getvalue())
    data[30 + len("inst.dump")] ^= 0xFF  # first byte after the local header
    with open(path, "wb") as f:
        f.write(bytes(data))


def test_peek_clean_damaged_member_fails_audit(spark, tmp_path):
    """The peek reads only the central directory, so archives whose member
    data is damaged pass it; their extracts are empty and the audit behind
    the peek rejects them."""
    zips = tmp_path / "zips"
    zips.mkdir()
    _write_damaged(str(zips / "crc.zip"), zipfile.ZIP_STORED)
    _write_damaged(str(zips / "inflate.zip"), zipfile.ZIP_DEFLATED)
    _write_zip(str(zips / "good.zip"), {"inst.dump": "GOOD"})
    for name in ("crc.zip", "inflate.zip"):
        assert zip_peek(spark, str(zips / name))[:2] == (True, 1)
    target = str(tmp_path / "restored")
    row = restore_one_instance(
        spark, str(zips), "INST", _cands("crc.zip", "inflate.zip", "good.zip"), target
    )
    assert row["published"] == "good.zip" and row["n_attempts"] == 3


def test_peek_rejects_bad_archives_without_spark_jobs(spark, tmp_path):
    """A garbage and a two-member archive ahead of a good one launch no
    Spark job: the peek rejects both from their central directories, so
    the probe runs exactly the jobs of restoring the good one alone."""
    zips = tmp_path / "zips"
    zips.mkdir()
    _write_garbage(str(zips / "garbage.zip"))
    _write_zip(str(zips / "multi.zip"), {"inst.dump": "REAL", "stray.txt": "EXTRA"})
    _write_zip(str(zips / "good.zip"), {"inst.dump": "GOOD"})
    sc = spark.sparkContext

    def n_jobs(group: str, *names: str) -> int:
        sc.setJobGroup(group, group)
        try:
            row = restore_one_instance(
                spark, str(zips), "INST", _cands(*names), str(tmp_path / group)
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert row["published"] == "good.zip"
        return len(sc.statusTracker().getJobIdsForGroup(group))

    alone = n_jobs("restore_good_alone", "good.zip")
    assert alone > 0
    assert n_jobs("restore_good_behind_bad", "garbage.zip", "multi.zip", "good.zip") == alone


def test_all_candidates_fail_leaves_target_absent(spark, tmp_path):
    zips = tmp_path / "zips"
    zips.mkdir()
    _write_garbage(str(zips / "a.zip"))
    _write_zip(str(zips / "b.zip"), {"x.dump": "X", "y.txt": "Y"})
    target = str(tmp_path / "restored")
    row = restore_one_instance(
        spark, str(zips), "INST", _cands("a.zip", "b.zip"), target
    )
    assert row["ok"] is False
    assert row["published"] == "" and row["rn_published"] == 0
    assert row["n_attempts"] == 2
    assert not os.path.exists(target)


def test_composed_report_matches_listing_prediction(spark):
    """The engine DISCOVERS viability through real failed attempts (the
    peek rejects garbage and two-member archives); the fixture rule
    (mtime-second mod 3 / mod 5) PREDICTS it. The two must agree for
    every instance, and the winner must be the lowest-rank viable
    candidate."""
    from ufload_spark.operators.listing import backup_candidates_top3
    from pyspark.sql import functions as F

    ensure_candidate_zips(spark, SF_DIR)
    cands = (
        backup_candidates_top3(spark, SF_DIR)
        .where(F.col("instance").isin(*RESTORE_INSTANCES))
        .collect()
    )
    predicted = {}
    for c in sorted(cands, key=lambda c: (c["instance"], c["rn"])):
        sec = c["mtime"].second
        viable = not (_is_garbage(sec) or _is_multimember(sec))
        if viable and c["instance"] not in predicted:
            predicted[c["instance"]] = (c["name"], c["rn"])
    report = {
        r["instance"]: r
        for r in restore_instances(
            spark, SF_DIR, publish_report=False
        ).collect()
    }
    assert set(report) == set(RESTORE_INSTANCES)
    for inst, row in report.items():
        if inst in predicted:
            name, rn = predicted[inst]
            assert row["ok"] and row["published"] == name
            assert row["rn_published"] == rn and row["n_attempts"] == rn
        else:
            assert not row["ok"] and row["n_attempts"] == 3


def test_delive_step_gating(spark):
    """The CLI knobs thread through: a reduced step set yields exactly the
    selected audit columns (the reference's -pwlist/-hidegroups flags turn
    individual clean() steps off, cli/main.py:811-835)."""
    only = ("password_stomp", "hide_groups")
    df = delive_audit_facts(spark, SF_DIR, steps=only)
    assert sorted(df.columns) == ["active_users", "visible_membership_rows"]
    full = delive_audit_facts(spark, SF_DIR)
    assert len(full.columns) == len(DELIVE_STEPS)
    with pytest.raises(ValueError):
        delive_audit_facts(spark, SF_DIR, steps=())


def test_delive_audit_fold_is_one_aggregate_over_union(spark):
    """The audit facts fold in ONE aggregate over the union of the step
    outputs — no join between facts, so no shuffled join anywhere (a
    step may still hash-partition inside its own plan)."""
    df = delive_audit_facts(spark, SF_DIR)
    qe = df._jdf.queryExecution()
    root = qe.optimizedPlan()
    assert root.nodeName() == "Aggregate"
    assert root.child().nodeName() == "Union"
    assert root.child().children().size() == len(DELIVE_STEPS)
    plan = qe.executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def _step_facts_by_hand(spark, steps) -> dict:
    """Each step's fact from its own collected output, in Python."""
    from ufload_spark.operators import delive as dl

    def count_if(rows, pred):
        return sum(1 for r in rows if pred(r)) if rows else None

    spec = {
        "password_stomp": ("active_users", lambda r: r["active"] is True),
        "disable_cron": ("active_cron_jobs", lambda r: r["active"] is True),
        "hide_groups": ("visible_membership_rows", None),
        "user_dept_join": (
            "dept_linked_users",
            lambda r: r["context_department_id"] is not None,
        ),
        "create_users": ("created_users", None),
        "logo_banner": (
            "banner_rows",
            lambda r: (r["banner"] or "").startswith("THIS IS A SANDBOX COPY"),
        ),
        "sequence_bump": ("sequence_rows", None),
        "ilike_groups": ("hidden_groups", None),
        "sync_connection_override": (
            "sync_overridden",
            lambda r: r["protocol"] == "xmlrpc" and r["automatic_patching"] is False,
        ),
        "automation_blanking": (
            "automation_blanked",
            lambda r: r["ftp_ok"] is False and r["ftp_password"] == "",
        ),
        "backup_config_reset": (
            "backup_flags_off",
            lambda r: r["scheduledbackup"] is False
            and r["beforemanualsync"] is False,
        ),
        "sync_entity_relink": ("relinked_entities", lambda r: r["user_id"] is not None),
    }
    out = {}
    for step in steps:
        col, pred = spec[step]
        rows = getattr(dl, f"delive_{step}")(spark, SF_DIR).collect()
        out[col] = len(rows) if pred is None else count_if(rows, pred)
    return out


@pytest.mark.parametrize(
    "steps", [DELIVE_STEPS, ("password_stomp", "hide_groups")], ids=["all", "two"]
)
def test_delive_audit_fold_matches_per_step_facts(spark, steps):
    """The one-pass fold returns exactly the facts each step's output
    yields on its own."""
    got = delive_audit_facts(spark, SF_DIR, steps=steps).collect()
    assert len(got) == 1
    assert got[0].asDict() == _step_facts_by_hand(spark, steps)
