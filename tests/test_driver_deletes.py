"""Every small delete set is read on the driver through one gated helper,
``icepack.dv.driver_deletes``.

Each caller keeps a Spark path for delete sets past the helper's row
bound (``icepack.dv.DRIVER_MAX_ROWS``) or with an unknown row count.
These tests pin, for every caller, that the two paths return the same
rows, and that the gate sends the caller to its Spark path whenever a
count is unknown or the total is over the bound.
"""

import dataclasses
import itertools
import sys

import pytest
from pyspark.sql import functions as F

import icepack.dv as dv
import icepack.maintenance as M
from icepack.expr import col
from icepack.table import IceTable

from tests.conftest import rows_sorted

_POS = {"write.delete.mode": "merge-on-read", "write.delete.mor.strategy": "position"}


@pytest.fixture()
def calls(monkeypatch):
    """Record every helper call as (calling function, delete contents,
    gated row total, whether the driver read it)."""
    out = []
    real = dv.driver_deletes

    def spy(entries, schema=None, extra_rows=0):
        entries = list(entries)
        got = real(entries, schema, extra_rows)
        out.append(
            (
                sys._getframe(1).f_code.co_name,
                frozenset(e.content for e in entries),
                sum(e.record_count or 0 for e in entries) + extra_rows,
                got is not None,
            )
        )
        return got

    monkeypatch.setattr(dv, "driver_deletes", spy)
    return out


# ------------------------------------------------- equality-delete lane


def _eq_table(spark, path, key_type="string"):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "b", 30), (4, None, 40), (5, "b", 50)],
        "id long, k string, n int",
    )
    t = IceTable.create(
        spark,
        str(path),
        df.schema,
        properties={
            "write.delete.mode": "merge-on-read",
            "identifier-field-names": "k" if key_type == "string" else "n",
        },
    )
    t.append(df.coalesce(1))
    return t


def _both_lanes(t, monkeypatch, calls):
    """Visible rows with the row bound high (driver lane), then at 0
    (Spark lane), and whether each scan's equality-delete helper call
    read on the driver."""
    del calls[:]
    monkeypatch.setattr(dv, "DRIVER_MAX_ROWS", 4_000_000)
    drv = rows_sorted(t.toDF())
    monkeypatch.setattr(dv, "DRIVER_MAX_ROWS", 0)
    spk = rows_sorted(t.toDF())
    monkeypatch.setattr(dv, "DRIVER_MAX_ROWS", 4_000_000)
    eq = [taken for _f, kinds, _n, taken in calls if kinds == {"equality-deletes"}]
    return drv, spk, eq


def test_eq_lanes_agree_on_a_null_key(spark, tmp_path, monkeypatch, calls):
    t = _eq_table(spark, tmp_path / "t")
    t.delete(col("k").is_null())
    drv, spk, eq = _both_lanes(t, monkeypatch, calls)
    assert eq == [True, False]
    assert drv == spk == [(1, "a", 10), (3, "b", 30), (5, "b", 50)]


def test_eq_lanes_agree_after_a_key_rename(spark, tmp_path, monkeypatch, calls):
    t = _eq_table(spark, tmp_path / "t")
    t.delete(col("k") == "b")
    t.rename_column("k", "key")
    t.append(spark.createDataFrame([(9, "b", 90)], "id long, key string, n int"))
    drv, spk, eq = _both_lanes(t, monkeypatch, calls)
    assert eq == [True, False]
    assert drv == spk == [
        (1, "a", 10), (2, None, 20), (4, None, 40), (9, "b", 90)
    ]


def test_eq_mixed_key_types_take_the_spark_read(spark, tmp_path, monkeypatch, calls):
    """Two delete files keyed on one field, written under schema
    versions whose key types differ (int, then bigint): the merged
    read's upcast belongs to Spark, so neither bound reads them on the
    driver."""
    t = _eq_table(spark, tmp_path / "t", key_type="int")
    t.delete(col("n") == 20)
    t.widen_column("n", "bigint")
    t.delete(col("n") == 40)
    files = t.live_files(content="equality-deletes")
    assert len({f.schema_id for f in files}) == 2
    drv, spk, eq = _both_lanes(t, monkeypatch, calls)
    assert eq == []
    assert drv == spk == [(1, "a", 10), (3, "b", 30), (5, "b", 50)]


# ------------------------------------------------ one gate, every caller


def _scan_pos(spark, path):
    df = spark.range(0, 300).withColumn("v", (F.col("id") * 7) % 5)
    t = IceTable.create(spark, str(path), df.schema, properties=_POS)
    t.append(df.coalesce(2))
    t.delete(col("v") == 1)
    return t


def _scan_dv(spark, path):
    t = _scan_pos(spark, path)
    assert M.write_deletion_vectors(t) is not None
    return t


def _scan_eq(spark, path):
    t = _eq_table(spark, path)
    t.delete(col("k") == "b")
    return t


def _v3(spark, path):
    df = spark.range(0, 400).withColumn("v", (F.col("id") * 13) % 7)
    t = IceTable.create(
        spark, str(path), df.schema, properties={**_POS, "format.spec-version": "3"}
    )
    t.append(df.coalesce(2))
    t.delete(col("v") == 2)
    return t


def _consolidate_input(spark, path):
    t = _scan_pos(spark, path)
    t.delete(col("id") < 40)
    return t


def _delete_more(t):
    t.delete(col("v") == 3)  # touches both files: merges their prior DVs


def _consolidate(t):
    assert M.write_deletion_vectors(t) is not None


# caller -> (set-up, op (None: the caller is the scan itself), the
# helper call that is the caller's own gate, the delete content that is
# fed an unknown count)
CALLERS = {
    "scan_pos": (_scan_pos, None, "_driver_tombstones", "position-deletes"),
    "scan_dv": (_scan_dv, None, "_driver_tombstones", "deletion-vectors"),
    "scan_eq": (_scan_eq, None, "_read_with_deletes", "equality-deletes"),
    "dml_dv_build": (_v3, _delete_more, "_write_dv_entries", "deletion-vectors"),
    "dv_consolidation": (
        _consolidate_input, _consolidate, "write_deletion_vectors", "position-deletes"
    ),
}


@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_every_caller_refuses_unknown_counts_and_totals_over_the_bound(
    spark, tmp_path, monkeypatch, calls, caller
):
    """For each caller: on good input the gate admits the delete set and
    the driver lane serves it; with a ``record_count`` of None, of 0,
    or a total one row over the bound, the caller takes its Spark lane
    and returns the same rows."""
    make, op, fn, feed = CALLERS[caller]
    scan = make(spark, tmp_path / "scan") if op is None else None
    n_tables = itertools.count()

    def run(*count):
        """The caller's own helper calls as (gated total, read on the
        driver), and the visible rows after the op; ``count`` replaces
        the fed entries' ``record_count``."""
        t = scan if op is None else make(spark, tmp_path / f"t{next(n_tables)}")
        if count:
            real = t.live_files
            t.live_files = lambda *a, **kw: [
                dataclasses.replace(e, record_count=count[0]) if e.content == feed else e
                for e in real(*a, **kw)
            ]
        del calls[:]
        try:
            rows = _read(t) if op is None else op(t)
            own = [
                (n, taken)
                for f, kinds, n, taken in calls
                if f == fn and (op is not None or kinds == {feed})
            ]
        finally:
            t.__dict__.pop("live_files", None)
        return own, (rows if op is None else _read(t))

    good, want = run()
    assert good and all(taken for _n, taken in good), good
    for count in (None, 0):
        got, rows = run(count)
        assert got and not any(taken for _n, taken in got), (count, got)
        assert rows == want
    monkeypatch.setattr(dv, "DRIVER_MAX_ROWS", min(n for n, _ in good) - 1)
    got, rows = run()
    assert got and not any(taken for _n, taken in got), got
    assert rows == want


def _read(t):
    return rows_sorted(t.toDF())
