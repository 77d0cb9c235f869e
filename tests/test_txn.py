"""Multi-table transactions (operators/txn.py): stage on N tables,
decide once, roll forward idempotently — all-or-nothing durability
with crash recovery, stuck-txn parking on commit-time conflicts, and
saga-style compensation."""

from __future__ import annotations

import json
import os

import pytest

from medallion_data_lake_spark.operators import txn as T
from medallion_data_lake_spark.operators.txn import (
    TxnStuck,
    commit_txn,
    compensate_stuck_txn,
    expire_txns,
    list_txns,
    read_txn,
    recover_txns,
    txn_snapshot,
)
from medallion_data_lake_spark.operators.versioned import (
    CommitConflict,
    commit,
    history,
    latest_version,
    read_table,
    set_table_constraints,
)
from medallion_data_lake_spark.operators.wap import list_staged, stage_commit


def _mk(spark, tmp_path):
    a = str(tmp_path / "events")
    b = str(tmp_path / "rollup")
    commit(spark.createDataFrame([(1, "x")], "id long, tag string"), a)
    commit(spark.createDataFrame([(1, 10.0)], "id long, total double"), b)
    return a, b, str(tmp_path / "_txn")


def _stage_pair(spark, a, b, offset=100):
    sa = stage_commit(
        spark.createDataFrame([(offset, "y")], "id long, tag string"), a)
    sb = stage_commit(
        spark.createDataFrame([(offset, 99.0)], "id long, total double"), b)
    return sa, sb


def test_commit_txn_publishes_all_legs_atomically(spark, tmp_path):
    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)

    m = commit_txn(spark, root, [(a, sa), (b, sb)], note="batch 100")

    assert m["status"] == "committed"
    assert {r["id"] for r in read_table(spark, a).collect()} == {1, 100}
    assert {r["id"] for r in read_table(spark, b).collect()} == {1, 100}
    # per-leg versions recorded; manifest doubles as a savepoint
    assert all(leg["version"] == 1 for leg in m["legs"])
    assert set(m["savepoint"]["tables"]) == {
        os.path.abspath(a), os.path.abspath(b)
    }
    # no staging manifests left behind
    assert list_staged(a) == [] and list_staged(b) == []


def test_snapshot_is_the_transaction_consistent_world(spark, tmp_path):
    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)
    m = commit_txn(spark, root, [(a, sa), (b, sb)])

    # later commits must not leak into the txn's snapshot
    commit(spark.createDataFrame([(999, "late")], "id long, tag string"), a)
    snap = txn_snapshot(spark, root, m["txn_id"])
    assert {r["id"] for r in snap[os.path.abspath(a)].collect()} == {1, 100}
    assert {r["id"] for r in snap[os.path.abspath(b)].collect()} == {1, 100}


def test_abort_before_decision_is_invisible(spark, tmp_path):
    from medallion_data_lake_spark.operators.wap import abandon_staged

    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)
    # the documented abort path: no manifest was written, just abandon
    abandon_staged(a, sa)
    abandon_staged(b, sb)
    assert latest_version(a) == 0 and latest_version(b) == 0
    assert list_txns(root) == []


def test_crash_mid_roll_forward_recovers_forward(spark, tmp_path, monkeypatch):
    """Kill the coordinator after leg A publishes: the prepared manifest
    is the redo log — recover_txns completes leg B with no double
    publish of leg A."""
    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)

    real = T.publish_staged
    calls = {"n": 0}

    def dies_after_first(spark_, path, sid):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated coordinator crash")
        return real(spark_, path, sid)

    monkeypatch.setattr(T, "publish_staged", dies_after_first)
    with pytest.raises(RuntimeError, match="simulated"):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.setattr(T, "publish_staged", real)

    # torn state: A visible, B not — exactly what recovery must repair
    assert latest_version(a) == 1 and latest_version(b) == 0
    (m,) = list_txns(root)
    assert m["status"] == "prepared"
    assert m["legs"][0]["version"] == 1
    assert m["legs"][1].get("version") is None

    acted = recover_txns(spark, root)
    assert [x["status"] for x in acted] == ["committed"]
    assert latest_version(a) == 1, "leg A must not publish twice"
    assert latest_version(b) == 1
    assert {r["id"] for r in read_table(spark, b).collect()} == {1, 100}


def test_recover_replay_is_idempotent(spark, tmp_path):
    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)
    m = commit_txn(spark, root, [(a, sa), (b, sb)])

    # manually rewind the manifest to prepared (crash before finalize)
    rewound = dict(m, status="prepared")
    rewound.pop("savepoint")
    T._write_manifest(root, rewound)
    acted = recover_txns(spark, root)
    assert [x["status"] for x in acted] == ["committed"]
    # replay published nothing new on either table
    assert latest_version(a) == 1 and latest_version(b) == 1
    assert len(history(a)) == 2 and len(history(b)) == 2
    # and running recovery again acts on nothing
    assert recover_txns(spark, root) == []


def test_preflight_conflict_aborts_cleanly(spark, tmp_path):
    """A conflict that already exists at commit time (constraints moved
    after staging) must refuse BEFORE the decision point: no manifest,
    nothing published, stagings still abandonable."""
    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)
    set_table_constraints(b, [{"kind": "check", "name": "pos", "sql": "total >= 0"}])

    with pytest.raises(CommitConflict, match="pre-check"):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    assert list_txns(root) == []
    assert latest_version(a) == 0 and latest_version(b) == 0
    assert {m["staging_id"] for m in list_staged(a)} == {sa}


def test_commit_time_race_parks_stuck_then_compensates(
    spark, tmp_path, monkeypatch
):
    """A conflict landing BETWEEN the pre-check and a leg's publish
    parks the txn stuck (leg A stays published, the error is recorded);
    compensate_stuck_txn restores A and abandons B's staging."""
    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)

    real = T.publish_staged

    def conflict_on_b(spark_, path, sid):
        if path == b:
            # the race: constraints change after pre-flight, before B
            set_table_constraints(b, [{"kind": "check", "name": "pos", "sql": "total >= 0"}])
        return real(spark_, path, sid)

    monkeypatch.setattr(T, "publish_staged", conflict_on_b)
    with pytest.raises(TxnStuck, match="contract"):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.setattr(T, "publish_staged", real)

    (m,) = list_txns(root)
    assert m["status"] == "stuck"
    assert m["legs"][0]["version"] == 1
    assert "contract" in m["legs"][1]["error"]
    # default recovery leaves stuck txns alone
    assert recover_txns(spark, root) == []

    out = compensate_stuck_txn(spark, root, m["txn_id"])
    assert out["status"] == "aborted"
    # leg A restored: live set equals pre-txn, history preserved
    assert {r["id"] for r in read_table(spark, a).collect()} == {1}
    assert latest_version(a) == 2  # append + compensating RESTORE
    # leg B's staging abandoned, nothing ever published there
    assert latest_version(b) == 0
    assert list_staged(b) == []
    # snapshots only exist for committed txns
    with pytest.raises(ValueError, match="aborted"):
        txn_snapshot(spark, root, m["txn_id"])


def test_stuck_txn_retries_forward_after_conflict_resolved(
    spark, tmp_path, monkeypatch
):
    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)

    real = T.publish_staged

    def conflict_on_b(spark_, path, sid):
        if path == b:
            set_table_constraints(b, [{"kind": "check", "name": "pos", "sql": "total >= 0"}])
        return real(spark_, path, sid)

    monkeypatch.setattr(T, "publish_staged", conflict_on_b)
    with pytest.raises(TxnStuck):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.setattr(T, "publish_staged", real)

    # resolution: the staged batch satisfies the new contract — but the
    # staged manifest's fingerprint is from before, so the supported
    # forward path is reverting the DDL that raced in
    set_table_constraints(b, [])
    acted = recover_txns(spark, root, retry_stuck=True)
    assert [x["status"] for x in acted] == ["committed"]
    assert {r["id"] for r in read_table(spark, b).collect()} == {1, 100}


def test_compensation_refuses_when_table_moved_past_leg(
    spark, tmp_path, monkeypatch
):
    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)

    real = T.publish_staged

    def conflict_on_b(spark_, path, sid):
        if path == b:
            set_table_constraints(b, [{"kind": "check", "name": "pos", "sql": "total >= 0"}])
        return real(spark_, path, sid)

    monkeypatch.setattr(T, "publish_staged", conflict_on_b)
    with pytest.raises(TxnStuck):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.setattr(T, "publish_staged", real)

    # an unrelated commit lands on A after the leg published
    commit(spark.createDataFrame([(7, "z")], "id long, tag string"), a)
    (m,) = list_txns(root)
    with pytest.raises(CommitConflict, match="moved past"):
        compensate_stuck_txn(spark, root, m["txn_id"])
    # nothing reverted, manifest still stuck
    assert read_txn(root, m["txn_id"])["status"] == "stuck"
    assert {r["id"] for r in read_table(spark, a).collect()} == {1, 100, 7}


def test_leg_validation(spark, tmp_path):
    a, b, root = _mk(spark, tmp_path)
    sa, _ = _stage_pair(spark, a, b)
    with pytest.raises(ValueError, match="at least one"):
        commit_txn(spark, root, [])
    with pytest.raises(ValueError, match="one leg per table"):
        commit_txn(spark, root, [(a, sa), (a, sa)])
    with pytest.raises(FileNotFoundError):
        commit_txn(spark, root, [(a, "wap-never-staged")])
    assert list_txns(root) == []


def test_expire_drops_only_terminal_manifests(spark, tmp_path, monkeypatch):
    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)
    m1 = commit_txn(spark, root, [(a, sa)])

    # a prepared manifest (crash before any publish)
    sa2 = stage_commit(
        spark.createDataFrame([(200, "y2")], "id long, tag string"), a)
    real = T.publish_staged
    monkeypatch.setattr(
        T, "publish_staged",
        lambda *args: (_ for _ in ()).throw(RuntimeError("crash")))
    with pytest.raises(RuntimeError):
        commit_txn(spark, root, [(a, sa2)])
    monkeypatch.setattr(T, "publish_staged", real)

    # opt out of newest-committed retention: this test targets the
    # terminal-vs-redo distinction (retention has its own test below)
    dropped = expire_txns(root, older_than_sec=0.0,
                          keep_latest_committed=False)
    assert dropped == [m1["txn_id"]]
    (left,) = list_txns(root)
    assert left["status"] == "prepared", "redo records must survive expiry"
    # and the survivor still recovers
    acted = recover_txns(spark, root)
    assert [x["status"] for x in acted] == ["committed"]
    assert {r["id"] for r in read_table(spark, a).collect()} == {1, 100, 200}


# ---------------------------------------------------------------------------
# cross-process crash recovery: the coordinator dies for real (os._exit
# in a spawned interpreter, own JVM), a stranger process repairs
# ---------------------------------------------------------------------------

def _coordinator_that_dies_after_leg_one(a, b, root, result):
    """Runs in a SPAWNED process: stages both legs, calls the real
    commit_txn, and hard-exits (no cleanup, no finalize) the instant
    the first leg publishes — the worst crash point for atomicity."""
    import json as _json
    import os as _os
    import sys

    sys.path.insert(0, _os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))))
    from medallion_data_lake_spark.operators import txn as T_
    from medallion_data_lake_spark.operators.wap import stage_commit
    from medallion_data_lake_spark.session import get_spark

    spark = get_spark(
        app_name="txn-crash", master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": 4},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sa = stage_commit(
        spark.createDataFrame([(100, "y")], "id long, tag string"), a)
    sb = stage_commit(
        spark.createDataFrame([(100, 99.0)], "id long, total double"), b)

    real = T_.publish_staged

    def bomb(spark_, path, sid):
        entry = real(spark_, path, sid)
        _json.dump({"published": path, "version": entry["version"]},
                   open(result, "w"))
        _os._exit(1)  # die before the per-leg progress write

    T_.publish_staged = bomb
    T_.commit_txn(spark, root, [(a, sa), (b, sb)])


def test_cross_process_crash_then_recovery(spark, tmp_path):
    import multiprocessing as mp
    import time as _time

    a, b, root = _mk(spark, tmp_path)
    result = str(tmp_path / "result.json")
    ctx = mp.get_context("spawn")
    proc = ctx.Process(
        target=_coordinator_that_dies_after_leg_one,
        args=(a, b, root, result),
    )
    proc.start()
    proc.join(timeout=300)
    assert proc.exitcode == 1, "coordinator must have died mid-txn"
    crash = json.load(open(result))
    assert crash["published"] == os.path.abspath(a)

    # torn world, and the manifest doesn't even carry leg A's version
    # (the crash landed before the progress write — recovery must
    # rediscover it through publish_staged's idempotence)
    assert latest_version(a) == 1 and latest_version(b) == 0
    (m,) = list_txns(root)
    assert m["status"] == "prepared"
    assert all(leg.get("version") is None for leg in m["legs"])

    deadline = _time.time() + 60
    acted = recover_txns(spark, root)
    assert _time.time() < deadline
    assert [x["status"] for x in acted] == ["committed"]
    assert latest_version(a) == 1, "recovery must not re-publish leg A"
    assert latest_version(b) == 1
    assert {r["id"] for r in read_table(spark, a).collect()} == {1, 100}
    assert {r["id"] for r in read_table(spark, b).collect()} == {1, 100}


# ---------------------------------------------------------------------------
# review-pass hardening: redo-state protection, version-0 legs,
# compensation crash-resume, recovery isolation
# ---------------------------------------------------------------------------

def test_prepared_txn_legs_survive_staging_maintenance(
    spark, tmp_path, monkeypatch
):
    """A prepared txn's unpublished stagings are its REDO LOG:
    wap.expire_staged must skip them and manual abandon_staged must
    refuse, or a crashed coordinator's txn becomes permanently torn."""
    from medallion_data_lake_spark.operators.wap import (
        abandon_staged,
        expire_staged,
    )

    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)

    real = T.publish_staged
    calls = {"n": 0}

    def dies_after_first(spark_, path, sid):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated coordinator crash")
        return real(spark_, path, sid)

    monkeypatch.setattr(T, "publish_staged", dies_after_first)
    with pytest.raises(RuntimeError):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.setattr(T, "publish_staged", real)

    # the maintenance sweep (horizon 0: everything is 'old') must leave
    # the prepared txn's leg alone
    assert expire_staged(b, older_than_sec=0.0) == []
    with pytest.raises(ValueError, match="transaction leg"):
        abandon_staged(b, sb)

    acted = recover_txns(spark, root)
    assert [x["status"] for x in acted] == ["committed"]
    assert {r["id"] for r in read_table(spark, b).collect()} == {1, 100}
    # terminal txn: the (now published) staging is gone, and expiry of
    # the manifest itself works as before
    assert list_staged(b) == []


def test_compensation_of_a_table_creating_leg(spark, tmp_path, monkeypatch):
    """A leg whose publish CREATED its table (version 0) has no
    version -1 to restore to: compensation lands an empty overwrite
    instead of crashing in rollback's range check."""
    a, b, root = _mk(spark, tmp_path)
    c = str(tmp_path / "brand_new")
    sc = stage_commit(
        spark.createDataFrame([(1, "n")], "id long, tag string"), c)
    sa = stage_commit(
        spark.createDataFrame([(100, "y")], "id long, tag string"), a)

    real = T.publish_staged

    def conflict_on_a(spark_, path, sid):
        if path == a:
            set_table_constraints(
                a, [{"kind": "check", "name": "pos", "sql": "id >= 0"}])
        return real(spark_, path, sid)

    monkeypatch.setattr(T, "publish_staged", conflict_on_a)
    with pytest.raises(TxnStuck):
        commit_txn(spark, root, [(c, sc), (a, sa)])
    monkeypatch.setattr(T, "publish_staged", real)

    (m,) = list_txns(root)
    assert m["legs"][0]["version"] == 0  # the creating leg published

    out = compensate_stuck_txn(spark, root, m["txn_id"])
    assert out["status"] == "aborted"
    assert read_table(spark, c).count() == 0  # empty overwrite, not a crash
    assert latest_version(c) == 1
    assert latest_version(a) == 0  # leg never published, staging abandoned
    assert list_staged(a) == []


def test_compensation_resumes_after_crash_between_restore_and_record(
    spark, tmp_path, monkeypatch
):
    """Crash-safety of the abort path itself: a compensating RESTORE
    that landed but was never recorded is ADOPTED by the re-run (the
    manifest said 'aborting', the tip IS that restore) instead of being
    refused as 'moved past' — and the leg is not restored twice."""
    a, b, root = _mk(spark, tmp_path)
    c = str(tmp_path / "t3")
    commit(spark.createDataFrame([(1, 5.0)], "id long, total double"), c)
    sa, sb = _stage_pair(spark, a, b)
    sc = stage_commit(
        spark.createDataFrame([(100, 9.0)], "id long, total double"), c)

    real = T.publish_staged

    def conflict_on_c(spark_, path, sid):
        if path == c:
            set_table_constraints(
                c, [{"kind": "check", "name": "pos", "sql": "total >= 0"}])
        return real(spark_, path, sid)

    monkeypatch.setattr(T, "publish_staged", conflict_on_c)
    with pytest.raises(TxnStuck):
        commit_txn(spark, root, [(a, sa), (b, sb), (c, sc)])
    monkeypatch.setattr(T, "publish_staged", real)

    # first compensation pass 'crashes' right after leg A's restore
    # lands, before the manifest records it
    real_rb = T.rollback

    def crash_after_first_restore(spark_, path, to_version):
        entry = real_rb(spark_, path, to_version)
        raise RuntimeError("simulated crash after restore landed")

    (m,) = list_txns(root)
    monkeypatch.setattr(T, "rollback", crash_after_first_restore)
    with pytest.raises(RuntimeError, match="simulated"):
        compensate_stuck_txn(spark, root, m["txn_id"])
    monkeypatch.setattr(T, "rollback", real_rb)

    mid = read_txn(root, m["txn_id"])
    assert mid["status"] == "aborting"
    assert all("compensated_by" not in leg for leg in mid["legs"])
    assert latest_version(a) == 2  # the unrecorded restore IS on the log

    out = compensate_stuck_txn(spark, root, m["txn_id"])
    assert out["status"] == "aborted"
    assert latest_version(a) == 2, "adopted, not restored a second time"
    assert latest_version(b) == 2  # restored by the resume pass
    assert {r["id"] for r in read_table(spark, a).collect()} == {1}
    assert {r["id"] for r in read_table(spark, b).collect()} == {1}
    assert latest_version(c) == 0 and list_staged(c) == []


def test_recover_isolates_a_poisoned_txn(spark, tmp_path, monkeypatch):
    """One unrecoverable manifest (its staged dir AND manifest were
    destroyed out-of-band) must not block recovery of the healthy txn
    behind it in the listing."""
    import shutil

    a, b, root = _mk(spark, tmp_path)

    # txn 1: poisoned — force a lexically-small id so it lists first
    sa = stage_commit(
        spark.createDataFrame([(100, "y")], "id long, tag string"), a)
    monkeypatch.setattr(
        T.uuid, "uuid4",
        lambda: type("U", (), {"hex": "0" * 32})())
    real = T.publish_staged
    monkeypatch.setattr(
        T, "publish_staged",
        lambda *args: (_ for _ in ()).throw(RuntimeError("crash")))
    with pytest.raises(RuntimeError):
        commit_txn(spark, root, [(a, sa)])
    monkeypatch.undo()
    # out-of-band destruction (bypassing the txn guard on purpose)
    from medallion_data_lake_spark.operators.wap import abandon_staged
    abandon_staged(a, sa, force=True)

    # txn 2: healthy, prepared (crashes before any publish)
    sb = stage_commit(
        spark.createDataFrame([(100, 99.0)], "id long, total double"), b)
    monkeypatch.setattr(
        T, "publish_staged",
        lambda *args: (_ for _ in ()).throw(RuntimeError("crash")))
    with pytest.raises(RuntimeError):
        commit_txn(spark, root, [(b, sb)])
    monkeypatch.undo()

    acted = recover_txns(spark, root)
    by_status = sorted(x["status"] for x in acted)
    assert by_status == ["committed", "error"]
    assert {r["id"] for r in read_table(spark, b).collect()} == {1, 100}
    # the poisoned one is still prepared on disk for the next sweep
    assert {x["status"] for x in list_txns(root)} == {"prepared", "committed"}


def test_audit_and_commit_txn_gates_all_legs_together(spark, tmp_path):
    """Multi-table WAP: one leg failing its expectations keeps BOTH
    stagings out (nothing half-lands); a clean re-stage commits both."""
    from medallion_data_lake_spark.operators.expectations import in_range
    from medallion_data_lake_spark.operators.txn import audit_and_commit_txn

    a, b, root = _mk(spark, tmp_path)
    sa = stage_commit(
        spark.createDataFrame([(100, "y")], "id long, tag string"), a)
    sb = stage_commit(
        spark.createDataFrame([(100, -5.0)], "id long, total double"), b)

    out = audit_and_commit_txn(
        spark, root,
        [(a, sa, None), (b, sb, [in_range("total", 0.0, 1e9)])],
    )
    assert out["committed"] is False
    rep = out["reports"][os.path.abspath(b)]
    assert not rep["passed"] and rep["checks"]["in_range_total"] == 1
    assert latest_version(a) == 0 and latest_version(b) == 0
    assert list_txns(root) == []
    # quarantine (on_fail="keep"): both stagings still inspectable
    assert {m["staging_id"] for m in list_staged(a)} == {sa}
    assert {m["staging_id"] for m in list_staged(b)} == {sb}

    # fix table B's batch, audit again, commit both atomically
    from medallion_data_lake_spark.operators.wap import abandon_staged
    abandon_staged(b, sb)
    sb2 = stage_commit(
        spark.createDataFrame([(100, 5.0)], "id long, total double"), b)
    out2 = audit_and_commit_txn(
        spark, root,
        [(a, sa, None), (b, sb2, [in_range("total", 0.0, 1e9)])],
    )
    assert out2["committed"] is True
    assert out2["manifest"]["status"] == "committed"
    assert {r["id"] for r in read_table(spark, a).collect()} == {1, 100}
    assert {r["total"] for r in read_table(spark, b).collect()} == {10.0, 5.0}


def test_creating_leg_compensation_resumes_after_crash(
    spark, tmp_path, monkeypatch
):
    """The confirmed repro from review: a creating leg's compensating
    commit lands but is not recorded; the re-run must ADOPT it (via the
    txn_compensate_of stamp) instead of wedging on 'moved past'."""
    a, b, root = _mk(spark, tmp_path)
    c = str(tmp_path / "brand_new")
    sc = stage_commit(
        spark.createDataFrame([(1, "n")], "id long, tag string"), c)
    sa = stage_commit(
        spark.createDataFrame([(100, "y")], "id long, tag string"), a)

    real = T.publish_staged

    def conflict_on_a(spark_, path, sid):
        if path == a:
            set_table_constraints(
                a, [{"kind": "check", "name": "pos", "sql": "id >= 0"}])
        return real(spark_, path, sid)

    monkeypatch.setattr(T, "publish_staged", conflict_on_a)
    with pytest.raises(TxnStuck):
        commit_txn(spark, root, [(c, sc), (a, sa)])
    monkeypatch.setattr(T, "publish_staged", real)
    (m,) = list_txns(root)

    real_cc = T._compensate_creating_leg

    def crash_after_compensate(spark_, path, txn_id):
        real_cc(spark_, path, txn_id)
        raise RuntimeError("simulated crash after compensation landed")

    monkeypatch.setattr(T, "_compensate_creating_leg", crash_after_compensate)
    with pytest.raises(RuntimeError, match="simulated"):
        compensate_stuck_txn(spark, root, m["txn_id"])
    monkeypatch.setattr(T, "_compensate_creating_leg", real_cc)
    assert latest_version(c) == 1  # the unrecorded compensation IS there

    out = compensate_stuck_txn(spark, root, m["txn_id"])
    assert out["status"] == "aborted"
    assert latest_version(c) == 1, "adopted, not compensated twice"
    assert read_table(spark, c).count() == 0


def test_unrecoverable_prepared_txn_has_a_terminal_path(
    spark, tmp_path, monkeypatch
):
    """Redo state destroyed out-of-band: recover keeps erroring, but
    compensate_stuck_txn(allow_prepared=True) terminally aborts —
    restoring the published legs and unpinning the survivors."""
    from medallion_data_lake_spark.operators.wap import abandon_staged

    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)

    real = T.publish_staged
    calls = {"n": 0}

    def dies_after_first(spark_, path, sid):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated coordinator crash")
        return real(spark_, path, sid)

    monkeypatch.setattr(T, "publish_staged", dies_after_first)
    with pytest.raises(RuntimeError):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.setattr(T, "publish_staged", real)

    # leg B's redo state destroyed bypassing the guard
    abandon_staged(b, sb, force=True)
    acted = recover_txns(spark, root)
    assert [x["status"] for x in acted] == ["error"]

    (m,) = list_txns(root)
    with pytest.raises(ValueError, match="allow_prepared"):
        compensate_stuck_txn(spark, root, m["txn_id"])
    out = compensate_stuck_txn(spark, root, m["txn_id"],
                               allow_prepared=True)
    assert out["status"] == "aborted"
    assert {r["id"] for r in read_table(spark, a).collect()} == {1}
    assert latest_version(b) == 0
    assert recover_txns(spark, root) == []  # terminal: nothing to act on


def test_failed_decision_write_unmarks_legs_immediately(
    spark, tmp_path, monkeypatch
):
    """put_exclusive of the decision manifest fails (store error): the
    documented abort path (abandon each staging) must work immediately,
    not after the marker grace window."""
    from medallion_data_lake_spark.operators import logstore as L
    from medallion_data_lake_spark.operators.wap import abandon_staged

    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)

    store = L.get_log_store()
    real_put = store.put_exclusive

    def refuse_txn_manifest(file_path, text):
        if "/_txn/" in file_path or file_path.startswith(root):
            raise OSError("simulated store outage")
        return real_put(file_path, text)

    monkeypatch.setattr(store, "put_exclusive", refuse_txn_manifest)
    with pytest.raises(OSError, match="outage"):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.setattr(store, "put_exclusive", real_put)

    assert list_txns(root) == []
    # no grace-window refusal: the markers were removed on the way out
    abandon_staged(a, sa)
    abandon_staged(b, sb)
    assert list_staged(a) == [] and list_staged(b) == []


def test_torn_txn_manifest_never_crashes_maintenance(spark, tmp_path):
    """A half-written coordinator manifest (the put_exclusive /
    non-atomic-replace windows) must read as 'deciding' (grace-
    protected), not crash expire_staged with JSONDecodeError."""
    from medallion_data_lake_spark.operators.wap import (
        expire_staged,
        mark_staging_txn,
    )

    a, b, root = _mk(spark, tmp_path)
    sa = stage_commit(
        spark.createDataFrame([(100, "y")], "id long, tag string"), a)
    os.makedirs(root, exist_ok=True)
    torn = os.path.join(root, "txn-torn.json")
    open(torn, "w").write('{"txn_id": "txn-torn", "st')  # torn mid-write
    mark_staging_txn(a, sa, "txn-torn", torn)

    assert expire_staged(a, older_than_sec=0.0) == []  # protected, no crash
    assert {m["staging_id"] for m in list_staged(a)} == {sa}


# ---------------------------------------------------------------------------
# third review pass: watermark/compensation interactions
# ---------------------------------------------------------------------------

def test_compensation_refuses_watermarked_legs(spark, tmp_path, monkeypatch):
    """A restore cannot retract a leg entry's (app, batch) watermark, so
    compensating a streamed txn would make the replayed batch skip one
    table forever — refuse, resolve forward."""
    a, b, root = _mk(spark, tmp_path)
    sa = stage_commit(
        spark.createDataFrame([(100, "y")], "id long, tag string"), a,
        txn_app_id="stream-x", txn_version=7)
    sb = stage_commit(
        spark.createDataFrame([(100, 9.0)], "id long, total double"), b,
        txn_app_id="stream-x", txn_version=7)

    real = T.publish_staged

    def conflict_on_b(spark_, path, sid):
        if path == b:
            set_table_constraints(
                b, [{"kind": "check", "name": "pos", "sql": "total >= 0"}])
        return real(spark_, path, sid)

    monkeypatch.setattr(T, "publish_staged", conflict_on_b)
    with pytest.raises(TxnStuck):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.setattr(T, "publish_staged", real)

    (m,) = list_txns(root)
    with pytest.raises(CommitConflict, match="watermark"):
        compensate_stuck_txn(spark, root, m["txn_id"])
    # forward resolution still works after reverting the DDL
    set_table_constraints(b, [])
    acted = recover_txns(spark, root, retry_stuck=True)
    assert [x["status"] for x in acted] == ["committed"]


def test_duplicate_skip_records_covering_version_not_tip(spark, tmp_path):
    """A replayed leg's recorded version must be the entry that COVERS
    its batch, not whatever the tip happens to be — the committed
    savepoint must not pin unrelated later commits."""
    from medallion_data_lake_spark.operators.versioned import (
        latest_txn_version,
    )

    a, b, root = _mk(spark, tmp_path)
    # batch 5 already published on A (v1, carries the watermark) ...
    commit(spark.createDataFrame([(100, "y")], "id long, tag string"), a,
           txn_app_id="app-z", txn_version=5)
    assert latest_txn_version(a, "app-z") == 5
    # ... then an unrelated commit lands (v2)
    commit(spark.createDataFrame([(777, "w")], "id long, tag string"), a)

    covered = stage_commit(
        spark.createDataFrame([(100, "y")], "id long, tag string"), a,
        txn_app_id="app-z", txn_version=4)  # a covered, OLDER batch
    assert covered is None, "fast path must skip a covered batch"
    # now stage an UNCOVERED batch and let a racing writer cover it
    # between stage and publish — the duplicate-skip path under test
    sa = stage_commit(
        spark.createDataFrame([(101, "z")], "id long, tag string"), a,
        txn_app_id="app-z", txn_version=6)
    sb = stage_commit(
        spark.createDataFrame([(101, 9.0)], "id long, total double"), b,
        txn_app_id="app-z", txn_version=6)
    # batch 6 gets covered on A by a racing writer before our publish
    commit(spark.createDataFrame([(101, "z")], "id long, tag string"), a,
           txn_app_id="app-z", txn_version=6)                      # v3
    commit(spark.createDataFrame([(888, "v")], "id long, tag string"), a)  # v4

    m = commit_txn(spark, root, [(a, sa), (b, sb)])
    leg_a = next(leg for leg in m["legs"] if leg["table"] == os.path.abspath(a))
    assert leg_a["duplicate_skip"] is True
    assert leg_a["version"] == 3, "must pin the covering entry, not tip v4"
    snap = txn_snapshot(spark, root, m["txn_id"])
    ids = {r["id"] for r in snap[os.path.abspath(a)].collect()}
    assert 888 not in ids and 101 in ids


def test_mark_loop_partial_failure_unmarks_earlier_legs(
    spark, tmp_path, monkeypatch
):
    from medallion_data_lake_spark.operators.wap import abandon_staged

    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)

    real_mark = T.mark_staging_txn
    calls = {"n": 0}

    def fails_on_second(*args, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("simulated disk full")
        return real_mark(*args, **kw)

    monkeypatch.setattr(T, "mark_staging_txn", fails_on_second)
    with pytest.raises(OSError, match="disk full"):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.setattr(T, "mark_staging_txn", real_mark)

    assert list_txns(root) == []
    # leg 1's marker was removed on the way out: abort works NOW
    abandon_staged(a, sa)
    abandon_staged(b, sb)
    assert list_staged(a) == [] and list_staged(b) == []


def test_mark_refuses_to_resurrect_a_reclaimed_staging(spark, tmp_path):
    from medallion_data_lake_spark.operators.wap import (
        abandon_staged,
        list_staged as ls,
        mark_staging_txn,
    )

    a, b, root = _mk(spark, tmp_path)
    sa, _ = _stage_pair(spark, a, b)
    (stale,) = ls(a)  # the caller's cached manifest dict
    abandon_staged(a, sa)  # cron reclaims it in between

    with pytest.raises(FileNotFoundError, match="vanished"):
        mark_staging_txn(a, sa, "txn-x", T._txn_file(root, "txn-x"),
                         manifest=stale)
    assert ls(a) == [], "the stale dict must not be written back"


def test_audit_and_publish_reports_duplicate_skip(spark, tmp_path):
    from medallion_data_lake_spark.operators.expectations import not_null
    from medallion_data_lake_spark.operators.wap import audit_and_publish

    a, b, _ = _mk(spark, tmp_path)
    df = spark.createDataFrame([(100, "y")], "id long, tag string")
    sa1 = stage_commit(df, a, txn_app_id="app-q", txn_version=1)
    # publish via a racing commit of the same batch
    commit(df, a, txn_app_id="app-q", txn_version=1)

    out = audit_and_publish(spark, a, sa1, [not_null("id")])
    assert out == {
        "published": False, "duplicate_skip": True,
        "report": out["report"], "entry": None, "staging_id": sa1,
    }
    assert out["report"]["passed"]
    assert read_table(spark, a).count() == 2  # 1 seed + 1 (once, not twice)


def test_resolve_broken_txn_is_the_honest_terminal(
    spark, tmp_path, monkeypatch
):
    """A prepared txn whose unpublished redo state was destroyed AND
    whose published leg is watermarked (compensation refuses): neither
    forward nor backward works — resolve_broken_txn records the tear
    terminally instead of recover erroring on every sweep forever."""
    from medallion_data_lake_spark.operators.txn import resolve_broken_txn
    from medallion_data_lake_spark.operators.wap import abandon_staged

    a, b, root = _mk(spark, tmp_path)
    sa = stage_commit(
        spark.createDataFrame([(100, "y")], "id long, tag string"), a,
        txn_app_id="stream-w", txn_version=3)
    sb = stage_commit(
        spark.createDataFrame([(100, 9.0)], "id long, total double"), b,
        txn_app_id="stream-w", txn_version=3)

    real = T.publish_staged
    calls = {"n": 0}

    def dies_after_first(spark_, path, sid):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("crash")
        return real(spark_, path, sid)

    monkeypatch.setattr(T, "publish_staged", dies_after_first)
    with pytest.raises(RuntimeError):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.setattr(T, "publish_staged", real)
    (m,) = list_txns(root)

    # while the redo state is intact, declaring broken is refused
    with pytest.raises(ValueError, match="still resolvable"):
        resolve_broken_txn(spark, root, m["txn_id"])
    abandon_staged(b, sb, force=True)  # out-of-band destruction
    assert [x["status"] for x in recover_txns(spark, root)] == ["error"]
    with pytest.raises(CommitConflict, match="watermark"):
        compensate_stuck_txn(spark, root, m["txn_id"], allow_prepared=True)

    out = resolve_broken_txn(spark, root, m["txn_id"])
    assert out["status"] == "broken"
    assert out["legs"][1]["lost"] is True
    assert recover_txns(spark, root) == []  # terminal: sweeps are quiet
    from medallion_data_lake_spark.operators.txn import expire_txns
    assert expire_txns(root, older_than_sec=0.0) == [m["txn_id"]]


def test_duplicate_skip_crash_window_is_replayable(
    spark, tmp_path, monkeypatch
):
    """The skip is persisted into the txn manifest BEFORE the staging
    is reclaimed: a crash between the two leaves the staging behind,
    the resumed roll-forward completes from the recorded version, and
    staging expiry reclaims the leftover once the txn is terminal."""
    a, b, root = _mk(spark, tmp_path)
    df_a = spark.createDataFrame([(101, "z")], "id long, tag string")
    sa = stage_commit(df_a, a, txn_app_id="app-k", txn_version=2)
    sb = stage_commit(
        spark.createDataFrame([(101, 9.0)], "id long, total double"), b,
        txn_app_id="app-k", txn_version=2)
    # a racing writer covers A's batch between stage and publish
    commit(df_a, a, txn_app_id="app-k", txn_version=2)

    real_ab = T.abandon_staged

    def crash_on_reclaim(path, sid, force=False):
        raise RuntimeError("crash before reclaim")

    monkeypatch.setattr(T, "abandon_staged", crash_on_reclaim)
    with pytest.raises(RuntimeError, match="reclaim"):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.setattr(T, "abandon_staged", real_ab)

    # the skip was recorded; the staging (the redo state) survived
    (m,) = list_txns(root)
    leg_a = next(leg for leg in m["legs"]
                 if leg["table"] == os.path.abspath(a))
    assert leg_a["duplicate_skip"] is True and leg_a["version"] == 1
    assert {x["staging_id"] for x in list_staged(a)} == {sa}

    acted = recover_txns(spark, root)
    assert [x["status"] for x in acted] == ["committed"]
    assert read_table(spark, a).filter("id = 101").count() == 1  # once
    assert read_table(spark, b).filter("id = 101").count() == 1
    # terminal txn: protection lifted, expiry reclaims the leftover
    from medallion_data_lake_spark.operators.wap import expire_staged
    assert expire_staged(a, older_than_sec=0.0) == [sa]
    assert list_staged(a) == []


def test_mark_post_write_verify_closes_the_reclaim_race(spark, tmp_path):
    """A reclaim interleaving between mark's exists-check and its write
    must not leave a resurrected manifest pointing at vanished bytes —
    the post-write re-verify drops it and raises."""
    import shutil

    from medallion_data_lake_spark.operators.wap import (
        list_staged as ls,
        mark_staging_txn,
    )

    a, b, root = _mk(spark, tmp_path)
    sa, _ = _stage_pair(spark, a, b)
    (stale,) = ls(a)
    # simulate the interleaving: the data dir is already gone but the
    # manifest deletion hasn't landed yet when mark's exists-check runs
    shutil.rmtree(os.path.join(a, stale["data_dir"]))

    with pytest.raises(FileNotFoundError, match="reclaimed concurrently"):
        mark_staging_txn(a, sa, "txn-y", T._txn_file(root, "txn-y"),
                         manifest=dict(stale))
    assert ls(a) == [], "no resurrected manifest may remain"


def test_broken_leg_does_not_block_later_legs(spark, tmp_path, monkeypatch):
    """A leg whose redo state vanished must not stop the legs AFTER it
    from publishing on the recovery sweep; the txn then terminates via
    resolve_broken_txn with only the genuinely lost leg recorded."""
    from medallion_data_lake_spark.operators.txn import resolve_broken_txn
    from medallion_data_lake_spark.operators.wap import abandon_staged

    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)

    monkeypatch.setattr(
        T, "publish_staged",
        lambda *args: (_ for _ in ()).throw(RuntimeError("crash")))
    with pytest.raises(RuntimeError):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.undo()
    abandon_staged(a, sa, force=True)  # leg ONE's redo state destroyed

    acted = recover_txns(spark, root)
    assert [x["status"] for x in acted] == ["error"]
    # ... but leg TWO published anyway
    assert latest_version(b) == 1
    assert {r["id"] for r in read_table(spark, b).collect()} == {1, 100}

    (m,) = list_txns(root)
    out = resolve_broken_txn(spark, root, m["txn_id"])
    assert out["status"] == "broken"
    assert [leg.get("lost") for leg in out["legs"]] == [True, None]


def test_destroyed_but_covered_leg_recovers_as_duplicate_skip(
    spark, tmp_path, monkeypatch
):
    """The txn manifest's denormalized watermark classifies a destroyed
    staging whose batch a replay already published: recovery records
    the duplicate-skip and the txn COMMITS instead of erroring."""
    from medallion_data_lake_spark.operators.wap import abandon_staged

    a, b, root = _mk(spark, tmp_path)
    df_a = spark.createDataFrame([(100, "y")], "id long, tag string")
    sa = stage_commit(df_a, a, txn_app_id="app-r", txn_version=9)
    sb = stage_commit(
        spark.createDataFrame([(100, 9.0)], "id long, total double"), b,
        txn_app_id="app-r", txn_version=9)

    monkeypatch.setattr(
        T, "publish_staged",
        lambda *args: (_ for _ in ()).throw(RuntimeError("crash")))
    with pytest.raises(RuntimeError):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.undo()

    # a replay publishes A's batch, then A's staging is destroyed
    commit(df_a, a, txn_app_id="app-r", txn_version=9)
    abandon_staged(a, sa, force=True)

    acted = recover_txns(spark, root)
    assert [x["status"] for x in acted] == ["committed"]
    (m,) = list_txns(root)
    leg_a = next(leg for leg in m["legs"]
                 if leg["table"] == os.path.abspath(a))
    assert leg_a["duplicate_skip"] is True and leg_a["version"] == 1
    assert read_table(spark, a).filter("id = 100").count() == 1
    assert read_table(spark, b).filter("id = 100").count() == 1


def test_zombie_staging_manifest_is_terminable(spark, tmp_path, monkeypatch):
    """A manifest whose data dir vanished (a reclaim raced the marker
    write) is unpublishable but addressable: recovery records the error
    without blocking other legs, and resolve_broken_txn classifies it
    as lost and drops the dangling manifest."""
    import shutil

    from medallion_data_lake_spark.operators.txn import resolve_broken_txn
    from medallion_data_lake_spark.operators.wap import (
        _read_manifest,
        list_staged as ls,
    )

    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)

    monkeypatch.setattr(
        T, "publish_staged",
        lambda *args: (_ for _ in ()).throw(RuntimeError("crash")))
    with pytest.raises(RuntimeError):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.undo()

    shutil.rmtree(os.path.join(a, _read_manifest(a, sa)["data_dir"]))
    acted = recover_txns(spark, root)
    assert [x["status"] for x in acted] == ["error"]
    assert latest_version(b) == 1  # the healthy leg landed

    (m,) = list_txns(root)
    out = resolve_broken_txn(spark, root, m["txn_id"])
    assert out["status"] == "broken"
    assert out["legs"][0]["lost"] is True
    assert ls(a) == [], "the zombie manifest was dropped"


def test_legacy_zombie_covered_leg_refuses_broken_and_recovers(
    spark, tmp_path, monkeypatch
):
    """A pre-denormalization manifest (no per-leg txn_watermark) with a
    ZOMBIE staging (data dir gone) whose batch a replay covered: the
    surviving staging manifest's own watermark must be consulted BEFORE
    any zombie cleanup — resolve_broken_txn refuses (the rows are in!)
    and recover_txns commits the txn as a duplicate-skip."""
    import shutil

    from medallion_data_lake_spark.operators.txn import resolve_broken_txn
    from medallion_data_lake_spark.operators.wap import _read_manifest

    a, b, root = _mk(spark, tmp_path)
    df_a = spark.createDataFrame([(100, "y")], "id long, tag string")
    sa = stage_commit(df_a, a, txn_app_id="app-l", txn_version=5)
    sb = stage_commit(
        spark.createDataFrame([(100, 9.0)], "id long, total double"), b,
        txn_app_id="app-l", txn_version=5)

    monkeypatch.setattr(
        T, "publish_staged",
        lambda *args: (_ for _ in ()).throw(RuntimeError("crash")))
    with pytest.raises(RuntimeError):
        commit_txn(spark, root, [(a, sa), (b, sb)])
    monkeypatch.undo()

    # simulate a legacy manifest: strip the denormalized watermarks
    (m,) = list_txns(root)
    for leg in m["legs"]:
        leg.pop("txn_watermark", None)
        leg.pop("base_version", None)
    T._write_manifest(root, m)

    # a replay covers A's batch; A's staging then turns zombie
    commit(df_a, a, txn_app_id="app-l", txn_version=5)
    shutil.rmtree(os.path.join(a, _read_manifest(a, sa)["data_dir"]))

    with pytest.raises(ValueError, match="watermark-covered"):
        resolve_broken_txn(spark, root, m["txn_id"])
    acted = recover_txns(spark, root)
    assert [x["status"] for x in acted] == ["committed"]
    assert read_table(spark, a).filter("id = 100").count() == 1
    assert read_table(spark, b).filter("id = 100").count() == 1


def test_recovery_with_stale_copy_never_regresses_committed(spark, tmp_path):
    """r9-ADVICE txn.py:388 — a recover sweep holding a stale 'prepared'
    copy of a txn that a live commit_txn already finalized must ADOPT
    the on-disk committed manifest, not last-writer-wins it back to
    'prepared' (which dropped the savepoint and made a concurrent
    txn_snapshot of the just-committed txn spuriously raise)."""
    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)
    committed = commit_txn(spark, root, [(a, sa), (b, sb)])

    # what a concurrent recover_txns loaded at ITS list_txns instant:
    # the prepared manifest, no leg versions yet
    stale = json.loads(json.dumps(committed))
    stale["status"] = "prepared"
    stale.pop("savepoint", None)
    stale.pop("completed", None)
    for leg in stale["legs"]:
        leg.pop("version", None)

    out = T._roll_forward(spark, root, stale)
    assert out["status"] == "committed"
    on_disk = read_txn(root, committed["txn_id"])
    assert on_disk["status"] == "committed"
    assert on_disk["savepoint"] == committed["savepoint"]
    snap = txn_snapshot(spark, root, committed["txn_id"])
    assert {r["id"] for r in snap[os.path.abspath(a)].collect()} == {1, 100}


def test_txn_ids_and_listing_are_chronological(spark, tmp_path):
    """r9-ADVICE txn.py:125 — list_txns promises oldest-first: ids now
    carry a sortable time_ns prefix AND the listing orders by each
    manifest's recorded created time, so legacy random-uuid ids keep
    the contract too."""
    a, b, root = _mk(spark, tmp_path)
    ids = []
    for off in (100, 200, 300):
        sa, sb = _stage_pair(spark, a, b, offset=off)
        ids.append(commit_txn(spark, root, [(a, sa), (b, sb)])["txn_id"])
    assert sorted(ids) == ids, "new ids must sort chronologically"
    # a legacy random-id manifest (lexicographically LAST) with the
    # oldest created time must still list first
    legacy = {"txn_id": "txn-zzzzzzzzzzzz", "status": "aborted",
              "created": 0.0, "legs": []}
    T._write_manifest(root, legacy)
    assert [m["txn_id"] for m in list_txns(root)] == [legacy["txn_id"], *ids]


def test_malformed_txn_marker_heals_instead_of_crashing():
    """r9-ADVICE wap.py:437 — a marker missing 'file' must classify through the torn-marker arm (grace-protect, then
    free), not crash the expire_staged sweep with an eager KeyError."""
    import time as _time

    from medallion_data_lake_spark.operators.wap import (
        TXN_MARKER_GRACE_SEC,
        _txn_protection,
    )

    fresh = {"txn": {"id": "txn-x", "marked_at": _time.time()}}
    assert _txn_protection(fresh) is not None  # inside the grace window
    stale = {"txn": {"id": "txn-x",
                     "marked_at": _time.time() - TXN_MARKER_GRACE_SEC - 1}}
    assert _txn_protection(stale) is None  # freed after grace


def test_tip_fallback_duplicate_skip_is_marked_unverified(spark, tmp_path):
    """r9-ADVICE txn.py:198 — the legacy tip-fallback pin (watermark
    unknown) records version_unverified=True so savepoint consumers
    know the pin may include unrelated later commits; the verified
    covering-entry path records no such flag."""
    a, b, root = _mk(spark, tmp_path)
    T.get_log_store().ensure_dir(root)
    commit(spark.createDataFrame([(2, "y")], "id long, tag string"), a)

    manifest = {"txn_id": "txn-unit", "status": "prepared", "created": 1.0,
                "legs": [{"table": os.path.abspath(a), "staging_id": "s-x"}]}
    leg = manifest["legs"][0]
    T._write_manifest(root, manifest)
    assert T._skip_covered_leg(root, manifest, leg, None, None) is None
    assert leg["duplicate_skip"] is True
    assert leg["version"] == latest_version(a)
    assert leg["version_unverified"] is True

    commit(spark.createDataFrame([(3, "z")], "id long, tag string"), a,
           txn_app_id="app-q", txn_version=7)
    leg2 = {"table": os.path.abspath(a), "staging_id": "s-y"}
    manifest["legs"].append(leg2)
    T._skip_covered_leg(root, manifest, leg2,
                        {"app_id": "app-q", "version": 7}, None)
    assert leg2["version"] == latest_version(a)
    assert "version_unverified" not in leg2


def test_roll_forward_refuses_concurrently_aborted_manifest(spark, tmp_path):
    """r10 review finding: adopting an 'aborted'/'broken' manifest
    mid-roll-forward would silently discard a leg this runner just
    published. The guard adopts only 'committed'; other terminals raise
    (the documented no-concurrent-compensate rule was violated) and the
    terminal manifest is left unregressed."""
    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)
    committed = commit_txn(spark, root, [(a, sa), (b, sb)])

    on_disk = read_txn(root, committed["txn_id"])
    on_disk["status"] = "aborted"
    T._write_manifest(root, on_disk)

    stale = json.loads(json.dumps(committed))
    stale["status"] = "prepared"
    stale.pop("savepoint", None)
    for leg in stale["legs"]:
        leg.pop("version", None)

    with pytest.raises(RuntimeError, match="resolved to 'aborted'"):
        T._roll_forward(spark, root, stale)
    assert read_txn(root, committed["txn_id"])["status"] == "aborted"


def test_expire_keeps_the_newest_committed_manifest(spark, tmp_path):
    """r10 review finding: reaping every committed manifest would make
    savepoint consumers (inverted_index.committed_index_snapshot) fall
    back to unpinned tip reads. The sweep retains the newest committed
    manifest past the horizon by default."""
    a, b, root = _mk(spark, tmp_path)
    ids = []
    for off in (100, 200):
        sa, sb = _stage_pair(spark, a, b, offset=off)
        ids.append(commit_txn(spark, root, [(a, sa), (b, sb)])["txn_id"])

    dropped = expire_txns(root, older_than_sec=0.0)
    assert dropped == [ids[0]], "only the older committed manifest is reaped"
    assert [m["txn_id"] for m in list_txns(root)] == [ids[1]]
    # opt out restores the old behavior
    assert expire_txns(root, 0.0, keep_latest_committed=False) == [ids[1]]
    assert list_txns(root) == []


def test_marker_without_id_heals_not_crashes():
    """r10 review finding: a marker lacking 'id' crashed the protection
    strings with a KeyError outside the handler."""
    import time as _time

    from medallion_data_lake_spark.operators.wap import _txn_protection

    fresh = {"txn": {"marked_at": _time.time()}}  # no id, no file, no root
    assert "deciding" in _txn_protection(fresh)


def test_roll_forward_refuses_concurrent_aborting_manifest(spark, tmp_path):
    """r10 review pass 4: 'aborting' is live compensation state — a
    roll-forward writing through it would erase the compensation's
    persisted intent and per-leg progress. Refuse like aborted/broken."""
    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b)
    committed = commit_txn(spark, root, [(a, sa), (b, sb)])
    on_disk = read_txn(root, committed["txn_id"])
    on_disk["status"] = "aborting"
    T._write_manifest(root, on_disk)

    stale = json.loads(json.dumps(committed))
    stale["status"] = "prepared"
    stale.pop("savepoint", None)
    for leg in stale["legs"]:
        leg.pop("version", None)
    with pytest.raises(RuntimeError, match="resolved to 'aborting'"):
        T._roll_forward(spark, root, stale)
    assert read_txn(root, committed["txn_id"])["status"] == "aborting"


def test_expire_keeps_the_covering_set_of_committed_manifests(spark, tmp_path):
    """r10 review pass 4: the newest committed manifest can cover a
    SUBSET of tables (a duplicate-skip re-run); retention must keep the
    minimal covering set so per-table savepoint pins survive."""
    a, b, root = _mk(spark, tmp_path)
    sa, sb = _stage_pair(spark, a, b, offset=100)
    full = commit_txn(spark, root, [(a, sa), (b, sb)])  # covers a+b
    sa2 = stage_commit(
        spark.createDataFrame([(300, "z")], "id long, tag string"), a)
    partial = commit_txn(spark, root, [(a, sa2)])       # covers a only

    dropped = expire_txns(root, older_than_sec=0.0)
    # the a-only manifest is newest, but the a+b one is the only cover
    # for b — BOTH must survive; nothing else existed
    assert dropped == []
    kept = {m["txn_id"] for m in list_txns(root)}
    assert kept == {full["txn_id"], partial["txn_id"]}


def test_guarded_write_preserves_stuck_leg_errors(spark, tmp_path):
    """r10 ADVICE txn.py:330 — a runner holding a stale 'prepared' copy
    must not last-writer-wins an on-disk 'stuck' manifest back to
    'prepared' with the other runner's per-leg error erased: the
    guarded write merges unresolved legs' error records and keeps the
    stuck status until some runner actually resolves the erroring
    leg."""
    a, b, root = _mk(spark, tmp_path)
    os.makedirs(root, exist_ok=True)
    stuck = {
        "txn_id": "t-stuck", "status": "stuck", "created": 1.0,
        "legs": [
            {"table": os.path.abspath(a), "staging_id": "sA"},
            {"table": os.path.abspath(b), "staging_id": "sB",
             "error": "CommitConflict: table moved past base"},
        ],
    }
    T._write_manifest(root, stuck)

    # the stale runner published leg A, knows nothing of B's conflict
    stale = json.loads(json.dumps(stuck))
    stale["status"] = "prepared"
    stale["legs"][0]["version"] = 7
    stale["legs"][1].pop("error")
    assert T._write_manifest_unless_terminal(root, stale) is None

    on_disk = read_txn(root, "t-stuck")
    assert on_disk["status"] == "stuck", "stuck status silently erased"
    assert on_disk["legs"][0]["version"] == 7  # progress still recorded
    assert "CommitConflict" in on_disk["legs"][1]["error"]
    # and the stale runner's live copy now carries the record too, so
    # its own later finalize cannot re-erase it
    assert "CommitConflict" in stale["legs"][1]["error"]

    # once a runner RESOLVES the erroring leg, the stuck state clears
    resolved = json.loads(json.dumps(stale))
    resolved["status"] = "prepared"
    resolved["legs"][1]["version"] = 9
    resolved["legs"][1].pop("error", None)
    assert T._write_manifest_unless_terminal(root, resolved) is None
    on_disk = read_txn(root, "t-stuck")
    assert on_disk["status"] == "prepared"
    assert on_disk["legs"][1].get("error") is None
    assert on_disk["legs"][1]["version"] == 9
