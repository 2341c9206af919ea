"""Snapshot-keyed table-level column statistics (NDV / duplication).

The adaptive multiplicity-collapse rewrites (queries/llm.py
``_duplication_ratio``) gate on one corpus-level number: rows /
distinct-values of a column.  For raw parquet fixtures that stat is
memoized per session; a warehouse table deserves the real thing — a
statistic computed once, keyed to the snapshot it described, persisted
with the table, and reused by every later session (the reference keeps
table-level stats with the table metadata the same way,
docs/03-metadata-management.md's stats-in-metadata framing).

Design for 100 TB:

* **Lazy, not eager.**  Computing NDV at write time would add a full
  scan to every commit.  Instead the stat is computed on FIRST request
  (one column-pruned scan; ``count`` + ``approx_count_distinct`` are
  both map-side-combinable, so the exchange carries one HLL sketch per
  partition, never rows) and persisted via a metadata-only property
  commit.
* **Bounds before rescans.**  A stat keyed to snapshot S is not dead
  the moment snapshot S+1 lands.  If every commit since S was a pure
  append, the new NDV is bracketed by [old_ndv, old_ndv + added_rows]
  (appends can only add distinct values), and the new row count is
  exact from the snapshot summaries — no scan at all.  When the whole
  bracket (inflated by the HLL rsd) sits on one side of the collapse
  threshold, the gate is answered for free; only a straddling bracket
  or a non-append commit (delete/overwrite can REMOVE distinct values)
  forces a recompute.  At 100 TB this means the common
  append-only-table case re-answers the gate from metadata forever.
* **Stale stats are replaced, never trusted blindly** — the persisted
  JSON carries the snapshot id it described, and any decision derived
  from it goes through the bracket logic above.

Property key: ``stats.ndv.<column>`` → ``{"snapshot-id", "rows",
"ndv"}``.  Properties ride every ``copy_with`` in the commit path, so
DML keeps (correctly stale) stats; ``set_properties`` is CAS-retried,
and a losing stat write is dropped silently — it is a cache, not data.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

#: approx_count_distinct's default relative standard deviation is
#: ~2.3%; pad to 5% so a 2-sigma estimate error can't flip a bracket
#: decision.
_HLL_RSD_PAD = 0.05

_PROP_PREFIX = "stats.ndv."


def _prop_key(column: str) -> str:
    return _PROP_PREFIX + column


def read_stat(table, column: str) -> dict | None:
    """The persisted stat for ``column``, or None."""
    raw = table.meta.properties.get(_prop_key(column))
    if raw is None:
        return None
    try:
        d = json.loads(raw)
        return {
            "snapshot_id": int(d["snapshot-id"]),
            "rows": int(d["rows"]),
            "ndv": int(d["ndv"]),
        }
    except (ValueError, KeyError, TypeError):
        return None


def _appends_since(table, since_snapshot_id: int) -> int | None:
    """Rows appended between ``since_snapshot_id`` and the current
    snapshot, walking the parent chain — or None when the chain
    includes anything other than a pure append (delete / overwrite /
    replace may REMOVE distinct values, so no bracket exists), when
    the chain doesn't reach the stat's snapshot (rollback /
    expire), or when the table moved backwards."""
    snap = table.meta.current_snapshot
    added = 0
    while snap is not None:
        if snap.snapshot_id == since_snapshot_id:
            return added
        if snap.operation != "append":
            return None
        try:
            added += int(snap.summary.get("added-records", ""))
        except ValueError:
            return None
        parent = snap.parent_snapshot_id
        snap = (
            table.meta.snapshot_by_id(parent) if parent is not None else None
        )
    return None


def _compute_and_persist(table, column: str) -> dict:
    """One column-pruned scan → persist → return the fresh stat."""
    snap = table.meta.current_snapshot
    r = table.toDF().agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(column).alias("d"),
    ).first()
    stat = {
        "snapshot_id": snap.snapshot_id if snap else 0,
        "rows": int(r["n"]),
        "ndv": int(r["d"]),
    }
    try:
        _persist(table, column, stat)
    except Exception:
        # the stat is a cache: losing the property CAS (or a read-only
        # store) must never fail the query that asked for the ratio
        pass
    return stat


def _persist(table, column: str, stat: dict) -> None:
    """One metadata-only commit carrying BOTH the ``stats.ndv.*``
    property and the spec ``statistics`` entry pointing at a Puffin
    file (icepack/puffin.py) — external engines read NDV from the blob
    metadata, the native engine from the property.  Blobs for other
    columns already attached to the same snapshot are merged into the
    new file (one StatisticsFile per snapshot, as Iceberg keeps it)."""
    import uuid as _uuid

    from .puffin import footer_size, ndv_blob, read_puffin, write_puffin

    prop_val = json.dumps(
        {
            "snapshot-id": stat["snapshot_id"],
            "rows": stat["rows"],
            "ndv": stat["ndv"],
        }
    )
    for _ in range(5):
        meta = table.meta
        fld = meta.schema.field_by_name(column)
        blob = ndv_blob(
            fld.id if fld is not None else -1,
            stat["snapshot_id"],
            meta.last_sequence_number,
            stat["ndv"],
            stat["rows"],
        )
        blobs = [blob]
        kept_entries = []
        for e in meta.statistics:
            if e.get("snapshot-id") != stat["snapshot_id"]:
                kept_entries.append(e)
                continue
            # merge the previous file's other-column blobs
            try:
                old, _props = read_puffin(
                    table.store.read_bytes(e["statistics-path"])
                )
                blobs += [
                    {**b, "properties": b.get("properties", {})}
                    for b in old
                    if b.get("fields") != blob["fields"]
                ]
            except Exception:
                pass  # unreadable predecessor: replace it outright
        data = write_puffin(blobs)
        path = table.store.join(
            table._mdir, f"{stat['snapshot_id']}-{_uuid.uuid4().hex}.stats"
        )
        table.store.write_bytes(path, data)
        entry = {
            "snapshot-id": stat["snapshot_id"],
            "statistics-path": path,
            "file-size-in-bytes": len(data),
            "file-footer-size-in-bytes": footer_size(data),
            "blob-metadata": [
                {
                    "type": b["type"],
                    "snapshot-id": b["snapshot-id"],
                    "sequence-number": b["sequence-number"],
                    "fields": b["fields"],
                    "properties": b.get("properties", {}),
                }
                for b in blobs
            ],
        }
        try:
            table._write_version(
                table._version + 1,
                meta.copy_with(
                    properties={**meta.properties, _prop_key(column): prop_val},
                    statistics=kept_entries + [entry],
                ),
            )
            return
        except Exception as e:  # CommitConflict — rebase and retry
            from .table import CommitConflict

            if not isinstance(e, CommitConflict):
                raise
            table.refresh()
            if table.meta.current_snapshot_id != stat["snapshot_id"]:
                return  # the table moved on; a stale stat is useless


def duplication_ratio(
    table,
    column: str,
    threshold: float | None = None,
    refresh: bool = False,
) -> float:
    """rows / approx-distinct(``column``) for the CURRENT snapshot.

    With ``threshold`` given, the return value is only guaranteed to
    be on the correct SIDE of the threshold — that is the contract the
    collapse gate needs, and it is what lets an appends-only bracket
    answer without a scan.  Without ``threshold`` (or with
    ``refresh=True``) a stale stat always recomputes.
    """
    if table.meta.current_snapshot is None:
        return 1.0
    stat = None if refresh else read_stat(table, column)
    cur = table.meta.current_snapshot_id
    if stat is not None and stat["snapshot_id"] == cur:
        return stat["rows"] / max(stat["ndv"], 1)
    if stat is not None and threshold is not None:
        added = _appends_since(table, stat["snapshot_id"])
        if added is not None:
            rows = stat["rows"] + added
            lo_ndv = max(1.0, stat["ndv"] * (1.0 - _HLL_RSD_PAD))
            hi_ndv = min(
                float(rows), stat["ndv"] * (1.0 + _HLL_RSD_PAD) + added
            )
            lo_ratio = rows / hi_ndv  # pessimistic: everything new is distinct
            hi_ratio = rows / lo_ndv  # optimistic: duplicates only
            if lo_ratio >= threshold:
                return lo_ratio
            if hi_ratio < threshold:
                return hi_ratio
    fresh = _compute_and_persist(table, column)
    return fresh["rows"] / max(fresh["ndv"], 1)


# -- partition statistics (Iceberg spec "Partition Statistics") --------------

#: spec field ids for the partition-stats file schema
_PSTAT_FIELDS = [
    ("partition", 1),
    ("spec_id", 2),
    ("data_record_count", 3),
    ("data_file_count", 4),
    ("total_data_file_size_in_bytes", 5),
    ("position_delete_record_count", 6),
    ("position_delete_file_count", 7),
    ("equality_delete_record_count", 8),
    ("equality_delete_file_count", 9),
    ("total_record_count", 10),
    ("last_updated_at", 11),
    ("last_updated_snapshot_id", 12),
]


def _fill_total_record_counts(agg: dict) -> None:
    """Spec: ``total_record_count`` is the record count AFTER applying
    delete files — publishing data_record_count under live deletes is
    simply wrong (the r7 advice finding).  Per-tuple subtraction is
    only EXACT when every delete entry lives in the same tuple as the
    data it masks; our MOR delete files are unpartitioned, so a
    partitioned table's deletes land in the '{}' tuple and may target
    any data tuple.  The rule, conservative in the spec's direction:

    - no delete entries anywhere → total = data (exact);
    - all delete entries live in THIS tuple and are position
      deletes/DVs (1 mask row = 1 data row) → data - position (exact,
      the unpartitioned-table case);
    - otherwise the optional field is omitted (null) — equality-delete
      cardinality is not a matched-row count, and cross-tuple masks
      cannot be attributed from metadata."""
    del_keys = {
        k
        for k, a in agg.items()
        if a["position_delete_record_count"] or a["equality_delete_record_count"]
    }
    for k, a in agg.items():
        if not del_keys:
            a["total_record_count"] = a["data_record_count"]
        elif del_keys <= {k} and not a["equality_delete_record_count"]:
            a["total_record_count"] = max(
                0, a["data_record_count"] - a["position_delete_record_count"]
            )
        else:
            a["total_record_count"] = None


def _pstats_agg_distributed(table, snap) -> dict | None:
    """Partition-stats aggregation in Spark for large tables: workers
    parse the RAW manifest JSONL lines (full partition-value type
    fidelity — the stringly pruning schema would corrupt the keys),
    emit per-task partial counters keyed by (sorted partition JSON,
    spec id), and Spark sums the partials; the driver collects
    O(partitions) rows instead of walking O(files) entries.  Returns
    None when the store can't be reached from executors."""
    from pyspark.sql import functions as F

    from .scanplan import manifest_lines_df

    names = [
        m["manifest-path"] for m in table._read_mlist(snap.manifest_list)
    ]
    lines = manifest_lines_df(table, names)
    if lines is None:
        return None

    counter_names = [k for k, _ in _PSTAT_FIELDS[2:10]]
    out_schema = (
        "key string, spec_id int, data_record_count long,"
        " data_file_count long, total_data_file_size_in_bytes long,"
        " position_delete_record_count long, position_delete_file_count long,"
        " equality_delete_record_count long, equality_delete_file_count long,"
        " total_record_count long"
    )

    def _partial(batches):
        import json as _json

        import pandas as pd

        counts: dict = {}
        for pdf in batches:
            for ln in pdf["value"]:
                if not ln or not ln.strip():
                    continue
                d = _json.loads(ln)
                if d.get("status") == "deleted":
                    continue
                key = (
                    _json.dumps(d.get("partition", {}), sort_keys=True),
                    d.get("spec-id", 0),
                )
                a = counts.setdefault(key, [0] * 8)
                rc = d.get("record-count", 0) or 0
                fs = d.get("file-size-bytes", 0) or 0
                content = d.get("content", "data")
                if content == "data":
                    a[0] += rc
                    a[1] += 1
                    a[2] += fs
                elif content in ("position-deletes", "deletion-vectors"):
                    a[3] += rc
                    a[4] += 1
                elif content == "equality-deletes":
                    a[5] += rc
                    a[6] += 1
        rows = [
            {"key": k, "spec_id": sid, **dict(zip(
                (
                    "data_record_count",
                    "data_file_count",
                    "total_data_file_size_in_bytes",
                    "position_delete_record_count",
                    "position_delete_file_count",
                    "equality_delete_record_count",
                    "equality_delete_file_count",
                ),
                a,
            )), "total_record_count": 0}
            for (k, sid), a in counts.items()
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "key",
                "spec_id",
                *counter_names,
            ],
        )

    summed = (
        lines.mapInPandas(_partial, out_schema)
        .groupBy("key", "spec_id")
        .agg(*[F.sum(c).alias(c) for c in counter_names])
        .collect()
    )
    agg: dict = {}
    for r in summed:
        agg[(r["key"], r["spec_id"])] = {
            c: int(r[c] or 0) for c in counter_names
        }
        # total_record_count is recomputed by _fill_total_record_counts
        agg[(r["key"], r["spec_id"])]["total_record_count"] = 0
    return agg


def write_partition_stats(table) -> str:
    """Compute and persist the PARTITION STATISTICS file for the
    current snapshot (public Iceberg spec "Partition Statistics"): one
    parquet row per (partition tuple, spec id) with data/delete file
    and record totals, field-id-stamped per the spec schema, registered
    in table metadata's ``partition-statistics`` list.

    Why it exists at 100 TB: partition-level dashboards (docs/07:164-
    173 $PARTITIONS) otherwise re-walk EVERY manifest on every call;
    the stats file pins the answer once per snapshot, so "how big is
    each partition" is a single small parquet read no matter how many
    million files the table holds.  Deletion-vector entries count as
    position deletes (they are position deletes, in bitmap form).

    Computation walks manifest ENTRIES (metadata, O(files) — the same
    driver-side cost every plan pays); the file is written through the
    table's metadata store and rides the snapshot's lifetime
    (expire_snapshots drops it with the snapshot).  Returns the path."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = table.meta.current_snapshot
    if snap is None:
        raise ValueError("table has no snapshot to analyze")
    # unified partition field list across all specs (spec: the
    # partition struct is the union; absent fields read NULL)
    all_fields: list[str] = []
    for sp in table.meta.partition_specs:
        for pf in sp.fields:
            if pf.name not in all_fields:
                all_fields.append(pf.name)
    agg: dict = {}
    now = int(__import__("time").time() * 1000)
    # pstats-specific auto-flip (r11, measured): the
    # aggregation's driver/distributed crossover is ~256k ENTRIES —
    # the generic 64-manifest flip fired 4× too early and paid ~3.5 s
    # of Spark overhead at 128k.  Plan-mode pins still rule.
    descs = table._read_mlist(snap.manifest_list)
    dist = (
        _pstats_agg_distributed(table, snap)
        if table._distributed_by_entries(
            table._est_live_entries(descs),
            "stats.partition.auto.entry-threshold",
            262_144,
        )
        else None
    )
    if dist is not None:
        agg = dist
    else:
        for f in table.live_files(snap, content="all"):
            key = (json.dumps(f.partition, sort_keys=True), f.spec_id)
            a = agg.setdefault(
                key, {k: 0 for k, _ in _PSTAT_FIELDS[2:10]}
            )
            if f.content == "data":
                a["data_record_count"] += f.record_count
                a["data_file_count"] += 1
                a["total_data_file_size_in_bytes"] += f.file_size_bytes
            elif f.content in ("position-deletes", "deletion-vectors"):
                a["position_delete_record_count"] += f.record_count
                a["position_delete_file_count"] += 1
            elif f.content == "equality-deletes":
                a["equality_delete_record_count"] += f.record_count
                a["equality_delete_file_count"] += 1
    _fill_total_record_counts(agg)
    rows = sorted(agg.items())
    if not all_fields:
        # parquet cannot store a childless struct group (pyarrow
        # refuses); an unpartitioned table still has meaningful totals,
        # so carry one always-null placeholder child — the reader's
        # partition render skips nulls, so the row surfaces as '{}'
        all_fields = ["__unpartitioned__"]
    part_type = pa.struct(
        [pa.field(n, pa.string()) for n in all_fields]
    )
    arrays = {
        "partition": pa.array(
            [
                {
                    n: (None if (v := json.loads(k[0]).get(n)) is None else str(v))
                    for n in all_fields
                }
                for k, _ in rows
            ],
            type=part_type,
        ),
        "spec_id": pa.array([k[1] for k, _ in rows], pa.int32()),
        "data_record_count": pa.array(
            [a["data_record_count"] for _, a in rows], pa.int64()
        ),
        "data_file_count": pa.array(
            [a["data_file_count"] for _, a in rows], pa.int32()
        ),
        "total_data_file_size_in_bytes": pa.array(
            [a["total_data_file_size_in_bytes"] for _, a in rows], pa.int64()
        ),
        "position_delete_record_count": pa.array(
            [a["position_delete_record_count"] for _, a in rows], pa.int64()
        ),
        "position_delete_file_count": pa.array(
            [a["position_delete_file_count"] for _, a in rows], pa.int32()
        ),
        "equality_delete_record_count": pa.array(
            [a["equality_delete_record_count"] for _, a in rows], pa.int64()
        ),
        "equality_delete_file_count": pa.array(
            [a["equality_delete_file_count"] for _, a in rows], pa.int32()
        ),
        "total_record_count": pa.array(
            [a["total_record_count"] for _, a in rows], pa.int64()
        ),
        "last_updated_at": pa.array([now] * len(rows), pa.int64()),
        "last_updated_snapshot_id": pa.array(
            [snap.snapshot_id] * len(rows), pa.int64()
        ),
    }
    schema = pa.schema(
        [
            pa.field(
                name,
                arrays[name].type,
                metadata={b"PARQUET:field_id": str(fid).encode()},
            )
            for name, fid in _PSTAT_FIELDS
        ]
    )
    tbl = pa.table([arrays[n] for n, _ in _PSTAT_FIELDS], schema=schema)
    sink = pa.BufferOutputStream()
    pq.write_table(tbl, sink)
    data = sink.getvalue().to_pybytes()
    path = table.store.join(
        table._mdir,
        f"partition-stats-{snap.snapshot_id}-{_uuid.uuid4().hex}.parquet",
    )
    table.store.write_bytes(path, data)
    entry = {
        "snapshot-id": snap.snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": len(data),
    }
    from .table import CommitConflict

    for _ in range(5):
        meta = table.meta
        kept = [
            e
            for e in meta.partition_statistics
            if e.get("snapshot-id") != snap.snapshot_id
        ]
        try:
            table._write_version(
                table._version + 1,
                meta.copy_with(partition_statistics=kept + [entry]),
            )
            return path
        except CommitConflict:
            # rebase and retry: the entry stays valid for ITS snapshot
            # even if the table moved on (history dashboards read it),
            # unless that snapshot was expired underneath us
            table.refresh()
            if all(
                s.snapshot_id != snap.snapshot_id
                for s in table.meta.snapshots
            ):
                return path  # snapshot expired mid-flight: nothing to pin
    raise CommitConflict("write_partition_stats gave up after retries")
