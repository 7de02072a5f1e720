"""Cluster-deploy profile smoke tests (round-5 verdict stretch-#9):
iterative operators must honor a configured RELIABLE checkpoint dir —
iterative.cut_lineage switches from localCheckpoint to df.checkpoint
the moment sparkContext.setCheckpointDir is set, with identical
results. session.get_spark_cluster documents/wires the full profile."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest


def _reset_checkpoint_dir(spark):
    """There is no public unset API; reach the scala var so the shared
    session fixture doesn't leak a (pytest-temporary!) checkpoint dir
    into later tests."""
    jsc = spark.sparkContext._jsc.sc()
    getattr(jsc, "checkpointDir_$eq")(spark._jvm.scala.Option.apply(None))


def test_cut_lineage_uses_reliable_checkpoint_when_dir_set(spark, tmp_path):
    from django_indexer_spark.iterative import cut_lineage, has_checkpoint_dir

    df = spark.range(10)
    assert not has_checkpoint_dir(df)
    local = cut_lineage(df)  # local branch — no dir configured
    assert local.count() == 10

    ckdir = tmp_path / "ck"
    spark.sparkContext.setCheckpointDir(str(ckdir))
    try:
        assert has_checkpoint_dir(df)
        reliable = cut_lineage(spark.range(7))
        assert reliable.count() == 7
        assert any(p.is_file() for p in ckdir.rglob("*")), (
            "no reliable checkpoint files written under the configured dir"
        )
    finally:
        _reset_checkpoint_dir(spark)
    assert not has_checkpoint_dir(df)


def test_graph_loops_honor_checkpoint_dir(spark, tmp_path):
    """connected_components through the RELIABLE checkpoint path: same
    answer, per-round state files under the configured dir."""
    from django_indexer_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    plain = {
        (r["id"], r["component"])
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert plain == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}

    ckdir = tmp_path / "gck"
    spark.sparkContext.setCheckpointDir(str(ckdir))
    try:
        with_dir = {
            (r["id"], r["component"])
            for r in connected_components(edges, "src", "dst").collect()
        }
        assert with_dir == plain
        assert any(p.is_file() for p in Path(ckdir).rglob("*"))
    finally:
        _reset_checkpoint_dir(spark)


def test_get_spark_cluster_profile_shape():
    """The profile must carry the cluster-only settings and not force a
    master (composes with spark-submit). Conf inspection only — the
    test process already holds a local session, so we do not build a
    second one."""
    import inspect

    from django_indexer_spark.session import get_spark_cluster

    src = inspect.getsource(get_spark_cluster)
    for key in (
        "spark.dynamicAllocation.enabled",
        "spark.dynamicAllocation.shuffleTracking.enabled",
        "spark.sql.adaptive.enabled",
        "setCheckpointDir",
    ):
        assert key in src
    assert ".master(" not in src


def _shm_gate_holds() -> bool:
    """session.get_spark's /dev/shm scratch gate: writable, ≥ 8 GiB free."""
    if not os.access("/dev/shm", os.W_OK):
        return False
    st = os.statvfs("/dev/shm")
    return st.f_bavail * st.f_frsize >= 8 * 1024**3


# the child leaves a shuffle job running on a daemon thread, so the exit
# handler meets a SparkContext that is still writing shuffle files
_SHM_CHILD = """
import json, os, sys, threading, time
from django_indexer_spark.session import get_spark
spark = get_spark("shm-exit")
local = spark.sparkContext.getConf().get("spark.local.dir")
df = spark.range(200000).selectExpr("id % 97 AS k", "id AS v")
df.groupBy("k").count().collect()
files = sum(len(fs) for _, _, fs in os.walk(local))
job = df.repartition(8, "v").groupBy("k").count().crossJoin(spark.range(2000)).count
threading.Thread(target=job, daemon=True).start()
time.sleep(1.0)
print(json.dumps({"pid": os.getpid(), "local": local, "files": files}))
sys.stdout.flush()
"""


@pytest.mark.skipif(not _shm_gate_holds(), reason="/dev/shm scratch gate (8 GiB free) not met")
def test_shm_scratch_removed_at_exit():
    """The per-PID /dev/shm shuffle scratch is gone once the interpreter
    has exited, even with a job in flight: the exit handler stops the
    SparkContext before removing the directory."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_MASTER")
    }
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _SHM_CHILD],
        cwd=Path(__file__).resolve().parent.parent,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rec["local"] == f"/dev/shm/spark_graft_local/{rec['pid']}"
    assert rec["files"] > 0, "the shuffle wrote nothing under the scratch dir"
    assert not os.path.exists(rec["local"])
