"""Deletion-vector plumbing (Iceberg v3, docs/08 MOR story), and the
one driver-side reader of small delete sets.

:mod:`icepack.roaring` is the pure-bytes codec; this module is the
layer on top of it:

- :func:`driver_deletes` — the gated driver read of delete files.
  Position-delete and equality-delete parquet and DV blobs whose
  summed manifest ``record_count`` is at most :data:`DRIVER_MAX_ROWS`
  are read with pyarrow into one Arrow table.  Every driver lane of
  the engine (MOR scans, the v3 DML bitmap build, DV consolidation,
  :func:`dv_positions_df`) goes through it; past the bound, or when a
  count is unknown, the caller keeps its distributed Spark path.
- :func:`dv_positions_df` — decode DV blobs into a ``(file_path, pos)``
  DataFrame: on the driver under the bound, else IN EXECUTORS (one
  task per blob batch, Arrow-batched ``mapInPandas``).  The output
  feeds the same broadcast anti-join the v2 position-delete path uses.
- :func:`build_dv_blobs` — the reverse direction: a ``(file_path,
  pos)`` tombstone DataFrame grouped per target data file into framed
  ``deletion-vector-v1`` blob bytes, built by ``applyInPandas`` so the
  bitmap construction for a million files fans out across the cluster.
  Only the FINISHED blobs (roaring-compressed, ~KBs per file) travel
  to the driver for Puffin assembly.

DV Puffin files live in the table's ``data/`` directory next to the
parquet they mask, so they are Spark/executor-reachable by plain path
exactly like the data files (the metadata ``store`` seam is for the
metadata tree, not the data dir).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Iceberg reserved field ids for position-delete identity
#: (spec "Reserved field IDs"): 2147483546 = file_path, 2147483545 = pos.
FILE_PATH_FIELD_ID = 2147483546
POS_FIELD_ID = 2147483545

#: Puffin blob type from the Iceberg v3 spec.
DV_BLOB_TYPE = "deletion-vector-v1"

#: Row bound under which a delete set is read on the driver
#: (:func:`driver_deletes`).  The manifests carry each delete file's
#: exact row count (a DV's count is its cardinality), so the gate
#: costs no job and never guesses.  Below it, a ~ms pyarrow read
#: replaces a Spark read or a Python executor stage whose fixed
#: boundary latency is ~0.5 s; the small sets it admits are
#: broadcast into the anti-join anyway.  A DV blob needs no byte
#: bound of its own: every roaring container holds at least one
#: position, so a blob's bytes grow with its cardinality.
DRIVER_MAX_ROWS = 4_000_000


def driver_deletes(entries, schema=None, extra_rows: int = 0):
    """Read delete ``entries`` on the driver into one Arrow table of
    ``schema``, or return None when the caller must keep its Spark path.

    The gate: every entry's ``record_count`` is known and above 0,
    every entry's file is local, and the summed counts plus
    ``extra_rows`` (rows the caller adds itself) are at most
    :data:`DRIVER_MAX_ROWS`.  Parquet entries are read by column name
    and cast to ``schema``, by default the tombstone schema
    ``(file_path string, pos int64)``: delete files from other engines
    differ in nullability, string encoding and position width, which
    ``concat_tables`` would treat as different schemas.
    Deletion-vector entries (tombstone schema only) decode to
    ``(referenced_data_file, pos)`` rows."""
    entries = list(entries)
    total = extra_rows
    for e in entries:
        rc = e.record_count
        if rc is None or rc <= 0 or not os.path.isfile(e.path):
            return None
        total += int(rc)
    if total > DRIVER_MAX_ROWS:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .roaring import read_dv_blob

    if schema is None:
        schema = pa.schema([("file_path", pa.string()), ("pos", pa.int64())])
    tbls = []
    for e in entries:
        if e.content == "deletion-vectors":
            with open(e.path, "rb") as fh:
                fh.seek(int(e.content_offset))
                pos = read_dv_blob(fh.read(int(e.content_size)))
            tbls.append(
                pa.table(
                    [
                        pa.repeat(pa.scalar(e.referenced_data_file), len(pos)),
                        pa.array(pos.astype("int64")),
                    ],
                    schema=schema,
                )
            )
        else:
            tbls.append(pq.read_table(e.path, columns=schema.names).cast(schema))
    return pa.concat_tables(tbls) if tbls else schema.empty_table()


def dv_positions_df(spark: SparkSession, entries) -> DataFrame:
    """Decode deletion-vector manifest entries → ``(file_path, pos)``.

    ``entries`` are ``DataFile`` rows with content ``deletion-vectors``
    (identity = (path, content_offset)).  Under the
    :func:`driver_deletes` gate the decode runs on the driver and the
    frame is a LocalTableScan; past it, decoding happens in executors.
    ``file_path`` is the entry's ``referenced_data_file`` (the raw
    manifest spelling of the target data file)."""
    entries = list(entries)
    from .session import local_df

    tbl = driver_deletes(entries)
    if tbl is not None:
        return spark.createDataFrame(tbl, "file_path string, pos long")
    refs = [
        (e.path, int(e.content_offset), int(e.content_size), e.referenced_data_file)
        for e in entries
    ]

    sdf = local_df(
        spark, refs, "puffin string, offset long, length long, file_path string"
    )
    if len(refs) > 1:
        sdf = sdf.repartition(min(len(refs), 32))

    def _decode(batches):
        import pandas as pd

        from icepack.roaring import read_dv_blob

        for pdf in batches:
            for puffin, off, ln, fp in pdf.itertuples(index=False):
                with open(puffin, "rb") as fh:
                    fh.seek(int(off))
                    data = fh.read(int(ln))
                pos = read_dv_blob(data)
                yield pd.DataFrame(
                    {"file_path": fp, "pos": pos.astype("int64")}
                )

    return sdf.mapInPandas(_decode, "file_path string, pos long")


def write_dv_puffins(
    table, blobs, snapshot_id: int, max_puffin_bytes: int = 64 * 1024 * 1024
):
    """Collected ``build_dv_blobs`` rows → Puffin files on disk + their
    ``deletion-vectors`` manifest entries.

    Shared by the maintenance consolidation
    (:func:`icepack.maintenance.write_deletion_vectors`) and the v3 DML
    write path (:func:`icepack.dml._write_dv_entries`) so both produce
    byte-identical framing.  Only finished roaring blobs (~KBs/file)
    are in memory here; batches flush past ``max_puffin_bytes`` so one
    call over a million-file table writes a bounded series of container
    files rather than one unbounded buffer."""
    import os
    import uuid as _uuid

    from .manifest import DataFile
    from .puffin import write_puffin

    entries: list[DataFile] = []
    batch: list = []
    batch_bytes = 0

    def _flush():
        nonlocal batch, batch_bytes
        if not batch:
            return
        puffin = write_puffin(
            [
                {
                    "type": DV_BLOB_TYPE,
                    "fields": [POS_FIELD_ID],
                    "snapshot-id": snapshot_id,
                    "sequence-number": table.meta.last_sequence_number,
                    "data": r["blob"],
                    "properties": {
                        "referenced-data-file": r["file_path"],
                        "cardinality": str(r["cardinality"]),
                    },
                }
                for r in batch
            ]
        )
        # an add_files-adopted table may never have written a native
        # data/ dir (its parquet lives externally) — create it on
        # first DV write
        ddir = os.path.join(table.location, "data")
        os.makedirs(ddir, exist_ok=True)
        path = os.path.join(ddir, f"dv-{_uuid.uuid4().hex}.puffin")
        with open(path, "wb") as fh:
            fh.write(puffin)
        off = len(b"PFA1")
        for r in batch:
            entries.append(
                DataFile(
                    path=path,
                    status="added",
                    partition={},
                    spec_id=table.meta.default_spec_id,
                    schema_id=table.meta.current_schema_id,
                    record_count=int(r["cardinality"]),
                    file_size_bytes=len(puffin),
                    content="deletion-vectors",
                    referenced_data_file=r["file_path"],
                    content_offset=off,
                    content_size=len(r["blob"]),
                )
            )
            off += len(r["blob"])
        batch, batch_bytes = [], 0

    for r in sorted(blobs, key=lambda r: r["file_path"]):
        if batch_bytes + len(r["blob"]) > max_puffin_bytes and batch:
            _flush()
        batch.append(r)
        batch_bytes += len(r["blob"])
    _flush()
    return entries


def build_dv_blob_rows(pdf) -> list:
    """Driver-side twin of :func:`build_dv_blobs` for inputs under the
    :func:`driver_deletes` gate: a pandas ``(file_path, pos)`` frame →
    ``[{file_path, blob, cardinality}]``.  Bytes are identical by
    construction (same ``np.unique`` + ``dv_blob_bytes`` per file as
    the applyInPandas lane — pinned by tests) so the two lanes can
    never disagree."""
    import numpy as np

    from .roaring import dv_blob_bytes

    out = []
    for fp, grp in pdf.groupby("file_path", sort=True):
        pos = np.unique(grp["pos"].to_numpy(dtype="int64"))
        out.append(
            {
                "file_path": fp,
                "blob": dv_blob_bytes(pos),
                "cardinality": int(len(pos)),
            }
        )
    return out


def build_dv_blobs(tombstones: DataFrame) -> DataFrame:
    """``(file_path, pos)`` tombstones → one framed DV blob per file.

    Returns ``(file_path, blob binary, cardinality long)``; the group
    key is whatever spelling ``file_path`` already carries (callers
    canonicalize/join to raw manifest paths BEFORE grouping)."""

    def _to_blob(pdf):
        import numpy as np
        import pandas as pd

        from icepack.roaring import dv_blob_bytes

        pos = np.unique(pdf["pos"].to_numpy())
        return pd.DataFrame(
            {
                "file_path": [pdf["file_path"].iloc[0]],
                "blob": [dv_blob_bytes(pos)],
                "cardinality": [len(pos)],
            }
        )

    return tombstones.groupBy("file_path").applyInPandas(
        _to_blob, "file_path string, blob binary, cardinality long"
    )
