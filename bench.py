"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <float>}

Each query executes its FULL plan via the noop sink (no collect —
result sizes don't skew timing, and nothing funnels through the
driver, mirroring cluster execution).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from icepack.queries import all_queries  # noqa: E402
from icepack.session import get_session  # noqa: E402

#: headline set: one per operator family, heaviest-per-family first.
HEADLINE = [
    "a0_gold_daily",
    "a4_tpch_q1",
    "a4_tpch_q5",
    "j1_inner_join",
    "j3_broadcast_star",
    "j7_asof_join",
    "w1_topk_per_group",
    "w3_running_sum",
    "a6_cube",
    "st1_tumbling_window",
    "st3_session_window",
    "x2_jaccard_pairs",
    "x3_minhash_lsh",
    "x5_cosine_topk",
    "x13_embedding_neardup",
    "x22_contamination",
    "x1_exact_dedup",
    "x28_sequence_pack",
    "x30_embedding_outliers",
    "x42_training_pipeline",
    # span-level substring dedup (r6): the heaviest token-granular
    # dedup leg; sf1 ladder stresses its all-grams-shared worst case
    "x47_substring_dedup",
    # semantic-dedup candidate mining (r7): within-bucket pairwise
    # cosine — the vector analogue of x2's bounded pair expansion
    "x48_semantic_dedup",
    "p1_pruned_scan",
    "f8_explode_words",
    # table-layer lifecycle: create→append→(prune/delete)→scan
    "ice1_create_append_read",
    "ice7_hidden_partition_prune",
    # merge-on-read leg (r6): equality-delete masks applied at scan —
    # the sf1 ladder reruns this HEADLINE, so the delete-merge path's
    # scale trend is measured, not assumed
    "ice10_mor_delete",
    # v3 deletion vectors (r7 continuation): position-delete MOR →
    # distributed bitmap consolidation → DV-masked scan.  NEW this
    # round: subtract from cross-round headline comparisons
    "ice54_deletion_vectors",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_session("icepack-bench")
    qs = all_queries()

    # Warmup pass (JMH-style, excluded from timing): one full untimed
    # execution of every headline query.  This absorbs the one-time
    # driver costs a long-lived cluster never pays per query — Janino
    # whole-stage-codegen compilation, JIT, parquet footer parse, page
    # cache — so the timed pass measures steady-state execution, which
    # is what scales to the 100 TB target.  Nothing is cached between
    # runs (noop sink, no .cache()): the timed pass re-executes every
    # plan end to end.
    for name in HEADLINE:
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()

    # Timed iterations (n=5 default), INTERLEAVED per sweep: every
    # sweep runs the canary then each query once, so machine drift
    # within the run spreads across all queries instead of biasing
    # whichever query ran last.  min stays the headline estimator
    # (cross-round continuity); MEDIANS + spread go to BENCH_DETAIL so
    # a round-over-round delta is classified noise-vs-real from the
    # artifact alone (r7 verdict item 5: a +12% driver-run drift on
    # untouched plans needed the builder's word to dismiss).
    #
    # The CANARY is a fixed constant-plan query (range→sum, no I/O, no
    # shuffle): its median is a machine-speed gauge.  Comparing two
    # rounds' canaries gives the machine factor; a query delta beyond
    # that factor is code, not weather.
    #
    # Build vs exec: construction time (the Python/driver work inside
    # the query callable — for lifecycle entries like ice54 this is
    # create+DML+consolidation) is timed separately from plan
    # execution, so the composite ice54 number can't mask a future
    # regression in its 100 TB-relevant SCAN leg (r7 verdict item 7).
    import statistics

    reps = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    build_s: dict[str, list[float]] = {name: [] for name in HEADLINE}
    exec_s: dict[str, list[float]] = {name: [] for name in HEADLINE}
    canary: list[float] = []

    # r10 verdict: a 0.25 s canary swings ±30% run-to-run and flips the
    # sign of the adjustment it exists to stabilize.  The gauge is now
    # ~2 s of saturating arithmetic split into 512 tasks (16 waves on 32
    # cores, so one straggler can't set the time), its estimator is MIN
    # (same as the query headline — load noise only adds), and its
    # spread is recorded so the artifact itself proves whether the
    # gauge was usable.  Measured on this box: min-of-5 is ~8%
    # session-to-session where the old 0.25 s median swung ±30%.
    # r12 verdict item 5: two rounds running (26%, 42% spread) the
    # single-shot samples failed to arbitrate drift — each OBSERVATION
    # is now the MEDIAN of 3 back-to-back runs, so a one-off straggler
    # (GC pause, competing process) cannot inflate the spread that
    # decides whether the gauge is served at all.  The gauge id changes
    # with the estimator so artifacts never mix estimators.
    CANARY_ID = "range20e9-p512-mod97-med3"
    CANARY_ROWS = 20_000_000_000

    def _canary_once() -> float:
        t0 = time.time()
        spark.range(0, CANARY_ROWS, 1, 512).selectExpr(
            "sum(id % 97) AS s"  # modulo: sum(id*2+1) overflows int64 at 20B rows
        ).write.mode("overwrite").format("noop").save()
        return round(time.time() - t0, 3)

    def _canary() -> float:
        return statistics.median(_canary_once() for _ in range(3))

    _canary_once()  # warm the canary's own codegen once
    for _ in range(reps):
        canary.append(_canary())
        for name in HEADLINE:
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
            samples[name].append(round(t2 - t0, 3))
            build_s[name].append(round(t1 - t0, 3))
            exec_s[name].append(round(t2 - t1, 3))
    timings = {name: min(ts) for name, ts in samples.items()}
    spread = {}
    for name, ts in samples.items():
        mean = sum(ts) / len(ts)
        sd = (sum((t - mean) ** 2 for t in ts) / (len(ts) - 1)) ** 0.5
        spread[name] = {
            "median": round(statistics.median(ts), 3),
            "mean": round(mean, 3),
            "sd": round(sd, 3),
            "min": min(ts),
            "max": max(ts),
            "build_median": round(statistics.median(build_s[name]), 3),
            "exec_median": round(statistics.median(exec_s[name]), 3),
        }
    canary_min = min(canary)
    canary_median = round(statistics.median(canary), 3)
    canary_spread_pct = (
        round(100.0 * (max(canary) - canary_min) / canary_median, 2)
        if canary_median
        else None
    )

    # Streaming-ingest leg (docs/12:211-236 bronze pattern): events as a
    # bounded multi-batch file stream through the foreachBatch snapshot
    # sink, timed end-to-end, with committed file sizes reported so the
    # docs/02:84-88 small-file behavior is MEASURED per round, not just
    # asserted in pytest.  r9: repeated like the batch queries (the r8
    # verdict's one un-spread entry was also its largest unexplained
    # regression) — min is the headline estimator for cross-round
    # continuity with the batch rows; median/sd/rows-per-sec spread go
    # to BENCH_DETAIL so a drift classifies as noise-vs-real from the
    # artifact alone.
    st_reps = max(1, int(os.environ.get("SPARK_GRAFT_STREAM_REPS", "3")))
    st_samples, st_rates = [], []
    st_files = None
    for _ in range(st_reps):
        st_time, st_files, rps = _bench_stream_ingest(spark, sf_dir)
        st_samples.append(st_time)
        if rps is not None:
            st_rates.append(rps)
    timings["st0_stream_ingest"] = min(st_samples)
    st_mean = sum(st_samples) / len(st_samples)
    st_sd = (
        (sum((t - st_mean) ** 2 for t in st_samples) / (len(st_samples) - 1)) ** 0.5
        if len(st_samples) > 1
        else 0.0
    )
    spread["st0_stream_ingest"] = {
        "median": round(statistics.median(st_samples), 3),
        "mean": round(st_mean, 3),
        "sd": round(st_sd, 3),
        "min": min(st_samples),
        "max": max(st_samples),
        "rows_per_sec_median": (
            int(statistics.median(st_rates)) if st_rates else None
        ),
        "rows_per_sec_samples": st_rates,
    }
    st_rows_per_sec = int(statistics.median(st_rates)) if st_rates else None

    # Partitioned DSv2 batch-write leg (r8 verdict item 6): the r8
    # task-side tuple materialization (datasource.py, numpy lanes in
    # transforms.batch_values) was parity-pinned but bench-measured
    # only at fixture scale — this leg writes the events table through
    # ``df.write.format("icepack")`` onto a day(ts)+bucket(8,user_id)
    # spec at whatever SF the bench runs (the sf1 ladder reruns it at
    # 10×), reporting rows/s and files-per-partition so the numpy-lane
    # throughput is a tracked number, not an assumption.
    w0_time, w0_stats = _bench_partitioned_write(spark, sf_dir)
    timings["w0_partitioned_write"] = w0_time

    total = round(sum(timings.values()), 3)

    # Cross-round attribution IN the artifact (r8 verdict item 8): the
    # newest BENCH_r{N}.json's compact record carries last round's
    # per-query minima; "machine vs code" is adjudicated by the
    # same-HEAD band in BENCH_DETAIL (see the retired-canary note
    # below).
    prev = _latest_prev_bench()
    vs_prev = None
    if prev is not None and prev[1].get("sf") != sf:
        prev = None  # cross-SF ratios mislead (the sf1 ladder reuses bench.py)
    if prev is not None:
        prev_n, prev_parsed = prev
        pq = prev_parsed.get("queries") or {}
        pc = prev_parsed.get("canary_sec")
        common = [q for q in timings if q in pq and pq[q] and timings[q]]
        ratio = (
            round(sum(timings[q] for q in common) / sum(pq[q] for q in common), 4)
            if common
            else None
        )
        # r13 (VERDICT r12 task 5): the cross-round canary RATIO is
        # RETIRED — three rounds running its spread (26%, 42%, 15.7%
        # even as median-of-3) exceeded the 10% usability bar and the
        # multi-run same-HEAD band (BENCH_DETAIL `same_head_runs_r*`)
        # did the drift arbitration instead.  The band is now the SOLE
        # round-over-round gauge: a common_subset_ratio inside the
        # newest band's spread_pct is machine drift, not code.  The
        # canary itself still runs and its raw samples are recorded in
        # BENCH_DETAIL as a load diagnostic, but no derived ratio is
        # published for anyone to misread as signal.
        vs_prev = {
            "prev_round": prev_n,
            "canary_prev": pc,
            "common_queries": len(common),
            "common_subset_ratio": ratio,
            "stream_rows_per_sec_prev": prev_parsed.get("stream_rows_per_sec"),
        }
    # sf1 ladder rows (10× rung, re-measured each
    # round): embedded so the sf1 trend is machine-tracked in BENCH_r*
    # rather than living only in SCALE.md prose
    sf1 = None
    ladder_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "SF1_BENCH.json")
    if os.path.exists(ladder_path):
        with open(ladder_path) as fh:
            rec = json.load(fh)
        sf1 = {"value": rec.get("value"), "queries": rec.get("queries")}
    # Full payload goes to a repo file (BENCH_DETAIL.json); stdout gets
    # the compact record as the FINAL line.  The driver tail-captures
    # ~2000 chars of stdout, so the last line must be small enough to
    # survive whole — r5's single fat line pushed "value" past the
    # capture window and the round lost its headline number.
    detail = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_spread": spread,
        "reps": reps,
        "canary": {
            "min": canary_min,
            "median": canary_median,
            "samples": canary,
            "id": CANARY_ID,
            "rows": CANARY_ROWS,
            "spread_pct": canary_spread_pct,
        },
        # the 100 TB-relevant DV legs, split so the composite can't
        # mask a scan regression: write = create+MOR deletes+bitmap
        # consolidation (driver+DML), scan = the DV-masked read plan
        "dv_legs": {
            "write": spread["ice54_deletion_vectors"]["build_median"],
            "scan": spread["ice54_deletion_vectors"]["exec_median"],
        },
        "sf": sf,
        "sf1_ladder": sf1,
        "stream_files": st_files,
        "stream_rows_per_sec": st_rows_per_sec,
        "dsv2_write": w0_stats,
        "vs_prev": vs_prev,
        # Per-query ESTIMATOR provenance (r13 verdict item 5): a
        # cross-round comparison can assert estimator equality the way
        # the canary id already pins the gauge.  The batch id covers
        # every interleaved HEADLINE query; the two composite legs
        # carry their own rep shapes.
        "estimators": {
            "batch": f"min-of-{reps}-interleaved-warmup1",
            "st0_stream_ingest": f"min-of-{st_reps}",
            "w0_partitioned_write": "min-of-3-warm-reps(4-runs-1st-discarded)",
        },
    }
    detail_path = os.environ.get("SPARK_GRAFT_DETAIL_PATH") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    # PRESERVE adjudication sections across rewrites: same_head_runs_*
    # records multi-run drift bands measured OUTSIDE this process (r11
    # verdict task 2) — a fresh bench run must not erase the evidence
    # that classifies its own round-over-round delta
    try:
        with open(detail_path) as fh:
            prev_detail = json.load(fh)
        for k, v in prev_detail.items():
            if k.startswith("same_head_runs") and k not in detail:
                detail[k] = v
    except (OSError, ValueError):
        pass
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    compact = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "canary_sec": canary_min,
        "canary_id": CANARY_ID,
        "canary_spread_pct": canary_spread_pct,
        "stream_rows_per_sec": st_rows_per_sec,
        "common_ratio_raw": (vs_prev or {}).get("common_subset_ratio"),
        # drift gauge: BENCH_DETAIL `same_head_runs_r{N}` (multi-run
        # same-HEAD band) — the retired canary ratio published null
        # three rounds running (r12 verdict item 5)
        "drift_gauge": "same_head_runs",
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # still too fat for the tail capture: drop per-query
        compact.pop("queries")
        line = json.dumps(compact)
    print(line)
    spark.stop()


def _latest_prev_bench() -> tuple[int, dict] | None:
    """(round N, parsed compact record) from the newest BENCH_r*.json
    the driver left in the repo — the cross-round comparison base.
    None when no prior round carries a parsed record."""
    here = os.path.dirname(os.path.abspath(__file__))
    best = None
    for fn in os.listdir(here):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", fn)
        if not m:
            continue
        n = int(m.group(1))
        try:
            with open(os.path.join(here, fn)) as fh:
                parsed = json.load(fh).get("parsed") or {}
        except (OSError, ValueError):
            continue
        if parsed.get("queries") and (best is None or n > best[0]):
            best = (n, parsed)
    return best


def _bench_partitioned_write(spark, sf_dir: str) -> tuple[float, dict]:
    """Time one partitioned DSv2 batch write of the events table onto a
    ``day(ts), bucket(8, user_id)`` spec (create-on-first-write via
    ``.option("partition-by", ...)``), returning (best of 3 WARM reps
    — 4 runs, first discarded as class-loading/codegen warmup; r12
    verdict item 2: w0 was the one query whose round-over-round ratio
    exceeded its own same-HEAD spread, so it gets one more warm rep
    than the interleaved batch queries,
    {rows, rows_per_sec, n_files, n_partitions, files-per-partition
    spread}).  The tuple materialization runs task-side in the numpy
    lanes (transforms.batch_values); this leg is the scale evidence
    that those lanes hold as rows grow 10× on the sf1 ladder."""
    import shutil
    import tempfile

    from icepack.datasource import register
    from icepack.io import load
    from icepack.table import IceTable

    register(spark)
    ev = load(spark, sf_dir, "events")
    rows = ev.count()
    samples = []
    stats = {}
    # 4 reps, first DISCARDED as warmup (r9 verdict item 7: the first
    # DSv2 write pays one-time class-loading/codegen — r9 measured
    # samples [15.9, 1.0], a 16× cold-start skewing a min-of-2's
    # spread; the kept samples must all be warm)
    for rep in range(4):
        base = tempfile.mkdtemp(prefix="bench-dsv2-")
        try:
            loc = os.path.join(base, "tbl")
            t0 = time.time()
            ev.write.format("icepack").option("location", loc).option(
                "partition-by", "day(ts), bucket(8, user_id)"
            ).mode("append").save()
            dt = round(time.time() - t0, 3)
            if rep > 0:
                samples.append(dt)
            t = IceTable.load(spark, loc)
            per_part: dict[tuple, int] = {}
            n_files = 0
            for f in t.live_files():
                n_files += 1
                key = tuple(sorted(f.partition.items()))
                per_part[key] = per_part.get(key, 0) + 1
            fpp = sorted(per_part.values())
            stats = {
                "rows": rows,
                "rows_per_sec": int(rows / dt) if dt else None,
                "n_files": n_files,
                "n_partitions": len(per_part),
                "files_per_partition_max": fpp[-1] if fpp else 0,
                "files_per_partition_mean": (
                    round(sum(fpp) / len(fpp), 2) if fpp else 0
                ),
            }
        finally:
            shutil.rmtree(base, ignore_errors=True)
    best = min(samples)
    stats["rows_per_sec"] = int(rows / best) if best else None
    stats["samples"] = samples
    return best, stats


def _bench_stream_ingest(spark, sf_dir: str) -> tuple[float, dict, int | None]:
    """Bronze streaming ingest at bench scale: land events as 8 parquet
    files, replay them as an AvailableNow stream (2 files/trigger = 4
    micro-batches = 4 snapshot commits), coalesce each batch to one
    file per commit (the docs' streaming file-sizing guidance).

    Returns (seconds, file-size stats).  Scale note: at sf0.1 each
    commit lands ~1/4 of events (~single-digit MB); the 64-128 MB
    production band (docs/02:84-88) is reached by the same sink when a
    trigger accumulates ~100× the rows — file size scales with batch
    size, and compaction (ice9/M1) restores health for any residue."""
    import shutil
    import tempfile

    from icepack.io import load
    from icepack.streaming import write_stream_to_table
    from icepack.table import IceTable

    base = tempfile.mkdtemp(prefix="bench-stream-")
    try:
        ev = load(spark, sf_dir, "events")
        src = os.path.join(base, "src")
        ev.repartition(8).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        table = IceTable.create(spark, os.path.join(base, "tbl"), schema)
        t0 = time.time()
        q = write_stream_to_table(
            stream, table, os.path.join(base, "ckpt"), coalesce_to="auto"
        )
        q.awaitTermination(600)
        dt = round(time.time() - t0, 3)
        table.refresh()
        sizes = sorted(f.file_size_bytes for f in table.live_files())
        # Steady-state throughput: rows/s over the batches AFTER the
        # first, measured from snapshot commit timestamps.  The first
        # batch absorbs the stream's fixed startup (source listing,
        # codegen, sink init); later batches are the per-batch cost a
        # long-lived stream actually pays, so a regression there can't
        # hide behind the startup constant.
        snaps = sorted(table.meta.snapshots, key=lambda s: s.timestamp_ms)
        rows_per_sec = None
        if len(snaps) >= 2 and snaps[-1].timestamp_ms > snaps[0].timestamp_ms:
            steady_rows = sum(
                int(s.summary.get("added-records", 0)) for s in snaps[1:]
            )
            steady_sec = (snaps[-1].timestamp_ms - snaps[0].timestamp_ms) / 1000
            rows_per_sec = int(steady_rows / steady_sec)
        stats = {
            "n_files": len(sizes),
            "n_commits": len(table.meta.snapshots),
            "min_bytes": sizes[0],
            "mean_bytes": int(sum(sizes) / len(sizes)),
            "max_bytes": sizes[-1],
        }
        return dt, stats, rows_per_sec
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
