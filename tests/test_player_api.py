"""The reference's system test, replayed against the Spark engine.

Mirrors ``PlayerResourceIT.crud()`` (IT:109-190) assertion-for-
assertion: create -> read-your-write, update -> last-write-wins,
findAll membership, idempotent delete of an absent id, tombstone
removal — plus the fix for the reference's own assertion bug (IT:188
re-checks the wrong response; here the post-delete read is real).
"""

from __future__ import annotations

import glob
import json
import os
import re

from pokertracker_cassandra_st_spark.player_api import PlayerStore


def test_crud_lifecycle(spark, tmp_path):
    store = PlayerStore(spark, str(tmp_path))

    # create (IT:123-127): server assigns a monotonic id
    pid = store.create("Robert", "Brem")
    assert pid == 1
    pid2 = store.create("Other", "Person")
    assert pid2 == 2

    # read-your-write (IT:131-139): fields present with created values
    p = store.get(pid)
    assert p is not None
    assert p.firstName == "Robert" and p.lastName == "Brem"

    # update (IT:148-161): subsequent read sees the new values
    store.update(pid, "Robertupdated", "Bremupdated")
    p = store.get(pid)
    assert p.firstName == "Robertupdated" and p.lastName == "Bremupdated"

    # findAll (IT:164-171): non-empty, contains the updated entity
    all_players = store.find_all()
    assert len(all_players) == 2
    assert any(r.id == pid and r.firstName == "Robertupdated" for r in all_players)

    # idempotent delete of a non-existent id (IT:174-179: id -42 -> 204)
    store.delete(-42)
    assert store.get(-42) is None
    assert len(store.find_all()) == 2  # nothing else changed

    # delete the created player (IT:182-188): gone from both reads
    store.delete(pid)
    assert store.get(pid) is None
    assert [r.id for r in store.find_all()] == [pid2]


def test_versions_order_not_wall_clock(spark, tmp_path):
    # last-write-wins is by VERSION (the clustering key, initial_db
    # .sql:11), not timestamps — two updates in the same instant still
    # resolve deterministically.
    store = PlayerStore(spark, str(tmp_path))
    pid = store.create("A", "A")
    for i in range(5):
        store.update(pid, f"v{i}", "x")
    assert store.get(pid).firstName == "v4"


def _part_files(store) -> int:
    return len(glob.glob(os.path.join(store.path, "part-*.parquet")))


def _recent_executions(spark, last: int = 16) -> list[int]:
    """Ids of the ``last`` newest SQL executions. The status store keeps
    only the newest ``spark.sql.ui.retainedExecutions``, so its count
    stops growing in a long session and cannot serve as a cursor."""
    status = spark._jsparkSession.sharedState().statusStore()
    execs = status.executionsList(max(status.executionsCount() - last, 0), last).iterator()
    ids = []
    while execs.hasNext():
        ids.append(execs.next().executionId())
    return ids


def _plan_nodes_after(spark, newest: int) -> set[str]:
    """Operator names of the SQL executions with an id above ``newest``."""
    status = spark._jsparkSession.sharedState().statusStore()
    names: set[str] = set()
    for eid in _recent_executions(spark):
        if eid > newest:
            nodes = status.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                names.add(nodes.next().name())
    return names


def test_each_command_is_one_write_plan(spark, tmp_path):
    # Every command is one plan that aggregates the next id/version from
    # the log and appends the event: at most 2 jobs (the aggregate's
    # shuffle stage and the write), exactly one new part file, and no
    # Python-side rows (a Python RDD scans as "ExistingRDD").
    store = PlayerStore(spark, str(tmp_path))
    sc = spark.sparkContext
    commands = [
        ("create-empty-log", store.create, ("A", "A")),
        ("create", store.create, ("B", "B")),
        ("update", store.update, (1, "A2", "A2")),
        ("delete", store.delete, (2,)),
        ("delete-absent", store.delete, (-42,)),
    ]
    try:
        for i, (label, command, args) in enumerate(commands):
            group = f"player-cmd-{i}-{label}"
            files, newest = _part_files(store), max(_recent_executions(spark), default=-1)
            sc.setJobGroup(group, label)
            command(*args)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            assert 1 <= len(jobs) <= 2, f"{label}: {len(jobs)} jobs"
            assert _part_files(store) == files + 1, label
            nodes = _plan_nodes_after(spark, newest)
            python = {n for n in nodes if re.search(r"ExistingRDD|Python|Arrow", n)}
            assert not python, f"{label}: {python}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [r.id for r in store.find_all()] == [1]


def test_event_envelope_and_versions_on_disk(spark, tmp_path):
    # The event row is built from literals and an aggregate; read back
    # with no user schema, the file must still carry the reference's
    # envelope types (a bare lit(None) would be void, a bare lit(0) int).
    store = PlayerStore(spark, str(tmp_path))
    pid = store.create("Robert", "Brem")
    store.update(pid, "R2", "B2")
    store.delete(pid)
    store.delete(-42)

    log = spark.read.parquet(store.path)
    assert [(f.name, f.dataType.simpleString()) for f in log.schema.fields] == [
        ("ID", "bigint"), ("NAME", "string"), ("VERSION", "bigint"),
        ("DATE", "timestamp"), ("DATA", "string"),
    ]
    rows = sorted((r.ID, r.VERSION, r.NAME, r.DATA) for r in log.collect())
    assert [r[:3] for r in rows] == [
        (-42, 0, "PlayerDeleted"),
        (pid, 0, "PlayerCreated"),
        (pid, 1, "PlayerUpdated"),
        (pid, 2, "PlayerDeleted"),
    ]
    assert json.loads(rows[2][3]) == {"firstName": "R2", "lastName": "B2"}
    assert rows[0][3] is None and rows[3][3] is None  # both tombstones

    # id assignment is max(ID)+1 over the whole log, tombstones included
    assert store.create("Next", "One") == pid + 1
