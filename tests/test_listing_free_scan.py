"""Manifest-driven scans list their files on the driver.

The manifests name every live data file, so a scan has nothing to
discover.  Past ``spark.sql.sources.parallelPartitionDiscovery.threshold``
(32) paths, a plain ``spark.read.parquet(*paths)`` still launches a
parallel "Listing leaf files" job to stat them.  ``icepack.io.read_files``
lists on the driver instead.  These tests build a table with more live
data files than the threshold and pin, for each scan-building entry
point: no listing job runs, the rows equal a plain read over the same
paths, and the session's threshold conf is left exactly as it was.
"""

import contextlib
import itertools
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import icepack.maintenance as M
from icepack.expr import col
from icepack.io import _LISTING_THRESHOLD, read_files
from icepack.sql import IceSQL

from tests.conftest import rows_sorted

N_FILES = 40
_groups = itertools.count()


def _job_descriptions(spark, group):
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        desc = jsc.statusStore().job(jid).description()
        out.append(desc.get() if desc.isDefined() else "")
    return out


@contextlib.contextmanager
def _jobs(spark):
    """Run the body in its own job group; yields the list that receives
    the group's job descriptions when the body ends."""
    group = f"listing-free-{next(_groups)}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    descs = []
    try:
        yield descs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        descs.extend(_job_descriptions(spark, group))


def _listings(descs):
    return [d for d in descs if d.startswith("Listing leaf files")]


@pytest.fixture(params=[None, "8"], ids=["unset", "set"])
def threshold(spark, request):
    """The session's threshold conf, either unset or set by the user;
    restored to unset after the test."""
    if request.param is None:
        spark.conf.unset(_LISTING_THRESHOLD)
    else:
        spark.conf.set(_LISTING_THRESHOLD, request.param)
    yield request.param
    spark.conf.unset(_LISTING_THRESHOLD)


def _wide_table(spark, tmp_path, props=None):
    isql = IceSQL(spark, str(tmp_path / "wh"))
    df = spark.range(0, N_FILES * 10).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("v")
    )
    t = isql.catalog.create_table("wide", df.schema, properties=props)
    t.append(df.repartition(N_FILES))
    paths = [f.path for f in t.live_files()]
    assert len(paths) == N_FILES
    return isql, t, paths


def test_plain_read_of_wide_path_list_runs_a_listing_job(spark, tmp_path, threshold):
    """Control: the detector sees the job the engine avoids."""
    _isql, _t, paths = _wide_table(spark, tmp_path)
    with _jobs(spark) as descs:
        spark.read.parquet(*paths).count()
    assert _listings(descs)
    with _jobs(spark) as descs:
        read_files(spark, paths).count()
    assert descs and not _listings(descs)
    assert spark.conf.get(_LISTING_THRESHOLD, None) == threshold


def test_scans_and_compact_launch_no_listing_job(
    spark, tmp_path, threshold, monkeypatch
):
    import icepack.dv as dv

    isql, t, paths = _wide_table(
        spark,
        tmp_path,
        {"write.delete.mode": "merge-on-read", "write.delete.mor.strategy": "position"},
    )
    plain = spark.read.parquet(*paths)

    def check(descs):
        assert descs and not _listings(descs), descs
        assert spark.conf.get(_LISTING_THRESHOLD, None) == threshold

    with _jobs(spark) as descs:
        got = rows_sorted(t.toDF())
    check(descs)
    assert got == rows_sorted(plain)

    with _jobs(spark) as descs:
        got = isql.sql("SELECT COUNT(*) AS n, SUM(v) AS s FROM wide WHERE v > 2").collect()
    check(descs)
    assert [tuple(r) for r in got] == [
        tuple(r) for r in plain.where("v > 2").agg(F.count("*"), F.sum("v")).collect()
    ]

    # merge-on-read: one position delete folded into a deletion vector,
    # then a second position delete next to it
    t.delete(col("id").isin(*range(3, N_FILES * 10, 10)))
    assert M.write_deletion_vectors(t) is not None
    t.delete(col("id").isin(*range(5, N_FILES * 10, 10)))
    live = t.live_files(content="all")
    assert {f.content for f in live} >= {"deletion-vectors", "position-deletes"}
    expect = rows_sorted(plain.where("id % 10 NOT IN (3, 5)"))
    for bound in (dv.DRIVER_MAX_ROWS, 0):  # driver lane, then Spark
        monkeypatch.setattr(dv, "DRIVER_MAX_ROWS", bound)
        with _jobs(spark) as descs:
            got = rows_sorted(t.toDF())
        check(descs)
        assert got == expect
    monkeypatch.undo()

    with _jobs(spark) as descs:
        M.compact(t)
    check(descs)
    assert rows_sorted(t.toDF()) == expect


def test_threshold_restored_when_the_read_fails(spark, tmp_path):
    """A conf raised for one reader call is restored even when the call
    raises."""
    spark.conf.unset(_LISTING_THRESHOLD)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_files(spark, [str(tmp_path / f"missing-{i}.parquet") for i in range(40)])
    assert spark.conf.get(_LISTING_THRESHOLD, None) is None


def test_concurrent_readers_restore_the_session_value(spark, tmp_path, threshold):
    """Readers on several threads raise and restore the one session-wide
    conf; the lock keeps a reader from restoring another reader's raised
    value, so the session ends with the value it started with."""
    import sys
    import threading

    paths = []
    for i in range(48):
        p = str(tmp_path / f"f{i}.parquet")
        spark.range(i, i + 1).coalesce(1).write.parquet(p)
        paths += [os.path.join(p, n) for n in os.listdir(p) if n.endswith(".parquet")]
    errors = []

    def reader(k):
        try:
            for j in range(3):
                n = 33 + (k * 3 + j) % 16
                got = sorted(r[0] for r in read_files(spark, paths[:n]).collect())
                assert got == list(range(n))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert spark.conf.get(_LISTING_THRESHOLD, None) == threshold
