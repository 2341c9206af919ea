"""Duplicate-cluster assignment: connected components over a candidate
-pair graph (the step after MinHash/LSH blocking in a dedup pipeline —
pairs alone don't dedup; clusters pick one survivor per group).

``connected_components`` is iterative min-label propagation WITH
pointer jumping, expressed as DataFrame joins: each round every vertex
takes the minimum label among itself and its neighbors, then
compresses through its label's own label (path halving) — convergence
in O(log component diameter) rounds, the same bound family as the
Kiveris et al. large-star/small-star formulation but with a simpler
per-round shape (join + agg + self-join).  Fully distributed, no
driver-side graph; every round's labels are lineage-truncated
(localCheckpoint) so plans stay O(1) per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _free_ckpt(df: DataFrame) -> None:
    """Release a DEAD localCheckpoint's stored blocks immediately.
    Each CC round checkpoints two DataFrames; waiting for GC keeps
    O(rounds · n) blocks alive in the block manager — measured as the
    heap-pressure margin of the r11 300× rung (two OOM brushes in CC
    lineage caching).  Only ever called on frames no later round
    touches: a localCheckpoint cannot recompute after unpersist."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — best-effort; GC remains the fallback
        pass


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 30
) -> DataFrame:
    """(id, cluster) for every vertex in ``edges``; cluster = minimum
    vertex id reachable in the undirected graph.

    Deterministic: labels are ids, propagation is min().  Raises if the
    graph hasn't converged after ``max_iter`` rounds (diameter bound
    exceeded) rather than returning wrong clusters.
    """
    both = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).unionByName(
        edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
    )
    # LINEAGE TRUNCATION, not just caching: labels_{i+1}'s logical plan
    # embeds labels_i TWICE (the union and the convergence join), so
    # un-truncated iteration grows the plan EXPONENTIALLY and the
    # driver dies in plan canonicalization long before any data is big
    # (observed: 8 GB heap OOM by ~iteration 10 over an IceTable-read
    # lineage, preceded by "plan too large" truncation warnings).
    # localCheckpoint materializes the rows and REPLACES the plan with
    # the stored blocks — O(1) plan per iteration, and each round's
    # join/agg re-analyzes a two-node plan instead of the whole
    # upstream pipeline re-nested 2^i times.
    both = both.distinct().localCheckpoint()
    labels = (
        both.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        msgs = both.join(labels, both.s == labels.id).select(
            F.col("d").alias("id"), F.col("label")
        )
        # checkpointed BEFORE the jump self-join: besides the plan-size
        # argument above, a self-join whose both sides share the whole
        # iteration lineage trips Spark's attribute dedup at runtime
        # ("key not found: id#N") on some upstream plan shapes — a
        # LogicalRDD base makes the two sides cleanly re-aliasable
        propagated = (
            labels.select("id", "label")
            .unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        # POINTER JUMPING (path compression): follow the label's own
        # label — label(id) is always a vertex id (the min REACHABLE id
        # seen so far), so label(label(id)) is reachable transitively
        # and still an upper bound on the component min.  Neighbor
        # propagation alone moves labels ONE hop per round (O(diameter)
        # rounds — a natural near-dup corpus chains far past 15: the
        # unique-corpus table ladder hit exactly that on simhash);
        # compressing through the label's label doubles the effective
        # horizon per round, giving O(log diameter) convergence.
        jump = propagated.select(
            F.col("id").alias("_jid"), F.col("label").alias("_jlabel")
        )
        new_labels = (
            propagated.join(
                jump, propagated["label"] == jump["_jid"], "left"
            )
            .select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("_jlabel"), F.col("label")),
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        # this round's intermediates are dead: free their checkpoint
        # blocks NOW so peak block storage stays O(n), not O(rounds·n)
        _free_ckpt(propagated)
        _free_ckpt(labels)
        labels = new_labels
        if changed == 0:
            _free_ckpt(both)
            return labels.select(F.col("id"), F.col("label").alias("cluster"))
    _free_ckpt(both)
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


#: affine-permutation constants for one-base-hash MinHash (primes /
#: large odd offsets); shared by the oracle-portable md5 battery
#: (queries/llm.py) and the fast path below.
MH_A = [
    769, 1031, 1543, 2053, 3079, 6151, 12289, 24593,
    49157, 98317, 196613, 393241, 786433, 1572869, 3145739, 6291469,
]
MH_B = [
    12582917, 25165843, 50331653, 100663319,
    201326611, 402653189, 805306457, 1610612741,
    3221225473, 4294967311, 8589934609, 17179869209,
    34359738421, 68719476767, 137438953481, 274877906951,
]
MH_M = 2147483647


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_len: int = 3,
) -> DataFrame:
    """PRODUCTION MinHash signatures on ``xxhash64`` — the JVM-native
    hash, measured ~25% faster than the md5 path at fixture scale and
    increasingly so on longer documents (md5 pays a bytes→hex→conv
    detour; xxhash64 is one codegen'd call).  The oracle-checked
    battery (x3/x36) keeps md5 because DuckDB can reproduce it;
    THIS is what a 100 TB dedup run should call.  Same one-base-hash
    construction: shingle → 28-bit base → ``num_hashes`` affine
    permutations, all per-row (zero shuffles).

    Returns (id_col, h0..h{k-1})."""
    if num_hashes > len(MH_A):
        raise ValueError(f"num_hashes must be <= {len(MH_A)}")
    w = F.split(F.col(text_col), " ")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(w) - (shingle_len - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j) for j in range(shingle_len)]
        ),
    )
    base = F.transform(
        shingles, lambda x: F.pmod(F.xxhash64(x), F.lit(1 << 28))
    )
    docs = df.filter(F.size(w) >= shingle_len).select(
        id_col, base.alias("_hv")
    )

    def _min(s: int):
        a, b = MH_A[s], MH_B[s]
        return F.array_min(
            F.transform("_hv", lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MH_M))
        ).alias(f"h{s}")

    return docs.select(id_col, *[_min(s) for s in range(num_hashes)])


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
    connectivity_only: bool = False,
) -> DataFrame:
    """LSH banding over :func:`minhash_signatures`: docs colliding on
    any band key become candidate pairs (id_a < id_b, distinct).
    ``num_hashes / bands`` rows per band tunes the similarity
    threshold (~(1/bands)^(bands/num_hashes·…) S-curve).

    Pair expansion is a distributed self-join on the band key — never
    a per-bucket ``collect_list`` array (one bucket of k exact
    duplicates would otherwise materialize a k-element array in a
    single task).  Still, all-pairs output is k²/2 per bucket BY
    CONTRACT; a duplicate-saturated 100 TB corpus makes hot buckets
    quadratic.  When the consumer is :func:`connected_components`
    (as in :func:`dedupe_table`), pass ``connectivity_only=True``:
    each bucket then emits a STAR — every member linked to the bucket
    minimum — which is O(k) pairs with provably IDENTICAL components
    (a star spans exactly the vertex set of the bucket clique), the
    same collapse discipline the r8/r9 query twins ladder-proved
    (queries/llm.py x2/x48)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    rpb = num_hashes // bands
    mh = minhash_signatures(df, id_col, text_col, num_hashes, shingle_len)
    stack_args = ", ".join(
        f"{b}, concat_ws('_', {', '.join(f'h{b * rpb + r}' for r in range(rpb))})"
        for b in range(bands)
    )
    bands_df = mh.select(
        id_col,
        F.expr(f"stack({bands}, {stack_args}) AS (band, bkey)"),
    )
    if connectivity_only:
        return _bucket_stars(bands_df, id_col, ["band", "bkey"])
    a = bands_df.select("band", "bkey", F.col(id_col).alias("id_a"))
    c = bands_df.select("band", "bkey", F.col(id_col).alias("id_b"))
    return (
        a.join(c, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _bucket_stars(keyed: DataFrame, id_col: str, keys: list) -> DataFrame:
    """Connectivity-preserving pair subset for bucket-equality blocking:
    (bucket min, member) for every non-minimum member — one window
    exchange on the bucket key, O(members) output, components under
    :func:`connected_components` identical to the full bucket clique's
    (each bucket's star spans the same vertex set)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        keyed.withColumn("_root", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("_root"))
        .select(F.col("_root").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


#: default stored-bytes-per-shuffle-partition by mining method — the
#: in-flight explosion differs by what each method exchanges
#: (300×-rung measured, SCALE.md r11): ``exact`` windows the FULL TEXT
#: over the content hash (32-way was 7.3× slower than 1 MiB/part);
#: ``minhash`` exchanges shingle/band keys (2.0×); ``simhash``
#: exchanges compact 64-bit signatures, so the same 1 MiB rule
#: OVER-widened it by 1.4× — it gets 8 MiB; ``semantic`` groups vector
#: buckets for gram-matrix scoring — 1 MiB (measured: halving the
#: width at the 300× rung pushed per-partition working sets past the
#: single-box heap during CC lineage caching).
_MINING_BYTES_PER_PARTITION = {
    "exact": 1 << 20,
    "minhash": 1 << 20,
    "simhash": 8 << 20,
    "semantic": 1 << 20,
}


def _mining_shuffle_partitions(table, default_bytes: int = 1 << 20) -> int | None:
    """Shuffle width for ``dedupe_table``'s mining jobs, derived from
    the table's OWN manifest-list byte totals (O(manifests) driver
    work the plan already pays — no file listing, no entry decode).

    Why (r10 verdict, the one measured scale-killer left in the LLM
    path): mining shuffles at a fixed session width hit the
    external-sort spill regime once the per-partition working set
    outgrows memory — a shuffle-width probe measured 1.5-3× recovery
    at the 300× unique rung from scaling ``spark.sql.shuffle.
    partitions`` with the corpus.  The plane count became data-aware in
    r10; this makes the shuffle width data-aware the same way.

    Rule: one shuffle partition per ``dedup.shuffle.bytes-per-
    partition`` of live table bytes (default 1 MiB — shingle/gram
    explosion inflates stored parquet ~30-60× in flight, so 1 MiB
    stored ≈ tens of MB of in-memory working set; the probe's sweet
    spot at 175 MB stored was 128-256 partitions), floored at the
    session's current width (never shrink what the user sized) and
    capped at ``dedup.shuffle.max-partitions`` (default 4096 — AQE
    coalesces the excess, the cap only bounds scheduler overhead).
    Returns None (leave the session conf untouched) when the table has
    no snapshot or its manifest summaries carry no byte totals
    (foreign summaries without the live-bytes stash)."""
    snap = table.meta.current_snapshot
    if snap is None:
        return None
    try:
        descs = table._read_mlist(snap.manifest_list)
    except (OSError, ValueError):
        return None
    total = 0
    for m in descs:
        b = m.get("live-bytes")
        if b is None:
            return None  # foreign summary: no byte totals, don't guess
        total += b
    if total <= 0:
        return None
    props = table.meta.properties

    def _n(key: str, default: int) -> int:
        try:
            return int(props.get(key, default))
        except (TypeError, ValueError):
            return default

    per_part = max(1, _n("dedup.shuffle.bytes-per-partition", default_bytes))
    cap = max(1, _n("dedup.shuffle.max-partitions", 4096))
    try:
        current = int(table.spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        current = 32
    want = -(-total // per_part)  # ceil
    if want <= current:
        return None  # session width already covers the corpus
    return min(want, cap) if cap > current else None


def dedupe_table(
    table,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "exact",
    num_hashes: int = 8,
    bands: int = 4,
    dry_run: bool = False,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int | None = None,
    keep: str = "min-id",
    quality_col: str | None = None,
) -> dict:
    """In-place deduplication of a WAREHOUSE table — the maintenance
    operation that turns the distributed dedup pipeline into a table
    commit (training corpora are deduped where they live, not by
    exporting to a side pipeline):

    - ``method='exact'``: duplicate groups keyed by a 128-bit content
      hash (two independent xxhash64 seeds — the 16-byte exchange-key
      discipline of queries/llm.py), survivor = MIN(id) per group;
    - ``method='minhash'``: banded-LSH candidate pairs →
      :func:`connected_components` clusters, survivor = MIN(id) per
      cluster (near-duplicates included, threshold set by the band
      geometry);
    - ``method='simhash'``: banded-Hamming SimHash pairs
      (:func:`simhash_candidate_pairs`, Hamming <= 3) → the same
      cluster/survivor policy — the Manku-style web-dedup rule;
    - ``method='semantic'``: embedding-cosine pairs at
      ``cos >= threshold`` over ``vec_col``
      (:func:`semantic_candidate_pairs`, sign-LSH blocked with a
      DATA-AWARE default plane count — the SemDeDup rule) → the same
      cluster/survivor policy.

    All three similarity methods mine with ``connectivity_only=True``:
    blocking buckets emit star links / representative pairs (O(k) per
    bucket) instead of k²/2 cliques — the clusters are provably
    identical for the connected-components consumer, and it is what
    keeps a duplicate-saturated 100 TB corpus from going quadratic in
    its hottest bucket (ladder-measured, SCALE.md round-10).

    Survivor policy: ``keep='min-id'`` (default) keeps MIN(id) per
    group; ``keep='best'`` keeps the row with the highest
    ``quality_col`` (NULLs last, ties broken by min id) — the
    keep-best curation rule (query twin: x23) as a maintenance
    commit: a training corpus keeps its highest-quality copy, not its
    oldest.  One window over the group key either way; the quality
    column joins into the cluster assignment only (never the mining
    shuffles).

    The losers delete through ONE ``MERGE ... WHEN MATCHED DELETE``
    commit: under merge-on-read only tombstones move (a narrow delete
    batch against a wide 100 TB table); copy-on-write rewrites only
    the hit files.  ``dry_run=True`` computes statistics and commits
    nothing.

    Returns {"groups": duplicate groups found, "dropped": rows
    deleted, "snapshot_id": commit id or None}.
    """
    from pyspark.sql import Window

    from .dml import merge

    if keep not in ("min-id", "best"):
        raise ValueError(f"keep must be 'min-id' or 'best', got {keep!r}")
    if keep == "best" and not quality_col:
        raise ValueError("keep='best' requires quality_col")

    def _survivor_window(*group_cols):
        """Window whose FIRST row per group is the survivor."""
        w = Window.partitionBy(*group_cols)
        if keep == "best":
            return w.orderBy(
                F.col(quality_col).desc_nulls_last(), F.col(id_col).asc()
            )
        return w.orderBy(F.col(id_col).asc())

    # data-aware shuffle width (r11, scoped r12): size the mining
    # shuffles from the table's own manifest byte totals so a large
    # corpus never runs the whole pipeline through a session-default
    # 32-way shuffle's spill regime.  The width lives in a CLONED
    # session (`newSession()` — same SparkContext/cache, isolated
    # SQLConf), never a set/restore on the shared session conf: a
    # concurrent query on the same SparkSession keeps its own width,
    # two concurrent dedupe_table calls can't clobber each other's
    # save/restore, and the MERGE delete commit itself (built from the
    # original table) runs at the user's session width — only the
    # mining DataFrames are widened.  AQE coalesces any excess.
    n_parts = _mining_shuffle_partitions(
        table, _MINING_BYTES_PER_PARTITION.get(method, 1 << 20)
    )
    mining_table = table
    if n_parts is not None:
        import copy

        from .session import ensure_confs

        clone = ensure_confs(table.spark.newSession())
        clone.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        mining_table = copy.copy(table)
        mining_table.spark = clone
    return _dedupe_table_body(
        table, mining_table, id_col, text_col, method, num_hashes, bands,
        dry_run, vec_col, threshold, dim, n_planes, keep, quality_col,
        _survivor_window,
    )


def _dedupe_table_body(
    table, mining_table, id_col, text_col, method, num_hashes, bands,
    dry_run, vec_col, threshold, dim, n_planes, keep, quality_col,
    _survivor_window,
):
    """*mining_table* is *table* rebound to the width-scoped cloned
    session (or the same object when no widening applies) — every
    mining read/shuffle hangs off it; the MERGE commit and its
    LEFT-SEMI source read hang off *table* so the delete runs at the
    user's session width."""
    from .dml import merge

    d = (
        mining_table.toDF().select(id_col, vec_col)
        if method == "semantic"
        else mining_table.toDF().select(id_col, text_col)
    )
    if method == "exact":
        # (loser id, group key) rows via a WINDOW over the 128-bit
        # content hash — one exchange, no per-group collect_list array
        # (a group of k identical documents would otherwise
        # materialize a k-element array in a single task; k is
        # unbounded on a duplicate-saturated corpus).  The group stat
        # and the delete both derive from this ONE loser set, so the
        # content-hash scan+shuffle runs once (persist below).
        cols = [id_col, text_col] + ([quality_col] if keep == "best" else [])
        losers = (
            mining_table.toDF()
            .select(
                *cols[:1],
                F.xxhash64(text_col).alias("_h1"),
                F.xxhash64(F.lit(1), text_col).alias("_h2"),
                *cols[2:],
            )
            .withColumn(
                "_keep", F.first(id_col).over(_survivor_window("_h1", "_h2"))
            )
            .filter(F.col(id_col) != F.col("_keep"))
            .select(id_col, "_keep")
        )
        group_key = "_keep"
    elif method in ("minhash", "simhash", "semantic"):
        # connectivity_only: the consumer is connected_components, so
        # each blocking bucket emits a STAR (O(k) pairs) instead of the
        # full clique (k²/2) — identical clusters by construction, and
        # the one thing that keeps a duplicate-saturated 100 TB corpus
        # from going quadratic in its hottest bucket
        if method == "minhash":
            pairs = lsh_candidate_pairs(
                d, id_col=id_col, text_col=text_col,
                num_hashes=num_hashes, bands=bands,
                connectivity_only=True,
            )
        elif method == "simhash":
            pairs = simhash_candidate_pairs(
                d, id_col=id_col, text_col=text_col, connectivity_only=True
            ).select("id_a", "id_b")
        else:
            pairs = semantic_candidate_pairs(
                d, id_col=id_col, vec_col=vec_col, threshold=threshold,
                dim=dim, n_planes=n_planes, connectivity_only=True,
            ).select("id_a", "id_b")
        cc = connected_components(pairs)
        if keep == "best":
            # quality joins into the CLUSTER ASSIGNMENT only (vertex-
            # sized), never the mining shuffles; singletons have no CC
            # vertex and survive untouched either way
            labeled = cc.select(
                F.col("id").alias(id_col), F.col("cluster")
            ).join(
                mining_table.toDF().select(id_col, quality_col), id_col
            )
            losers = (
                labeled.withColumn(
                    "_keep", F.first(id_col).over(_survivor_window("cluster"))
                )
                .filter(F.col(id_col) != F.col("_keep"))
                .select(id_col, "cluster")
            )
        else:
            losers = (
                cc.filter(F.col("id") != F.col("cluster"))
                .select(F.col("id").alias(id_col), F.col("cluster"))
            )
        group_key = "cluster"
    else:
        raise ValueError(f"unknown dedup method {method!r}")
    # the loser set is output-sized; persist it so the dominant dedup
    # pipeline executes ONCE across the stats action and the MERGE
    losers = losers.persist()
    try:
        row = losers.agg(
            F.count("*").alias("n"),
            F.countDistinct(group_key).alias("g"),
        ).first()
        n_groups, n_drop = int(row["g"]), int(row["n"])
        if dry_run or n_drop == 0:
            return {"groups": n_groups, "dropped": n_drop, "snapshot_id": None}
        # MERGE resolves every branch over the full schema, so the
        # source carries the losers' whole rows (a LEFT SEMI against
        # the persisted loser id set — at 100 TB this ships only the
        # rows being deleted, which a delete must touch anyway)
        loser_rows = table.toDF().join(
            losers.select(id_col).distinct(), id_col, "left_semi"
        )
        snap = merge(
            table,
            loser_rows,
            on=[id_col],
            when_matched_delete=True,
            when_not_matched_insert=False,
        )
        return {
            "groups": n_groups,
            "dropped": n_drop,
            "snapshot_id": snap.snapshot_id,
        }
    finally:
        losers.unpersist()


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 48,
) -> DataFrame:
    """PRODUCTION SimHash on ``xxhash64`` word hashes (the JVM-native
    hash; the oracle-checked battery keeps md5 because DuckDB can
    reproduce it — queries/llm.py x4/x54).  One explode + one
    conditional-sum aggregation per bit + recombine; fully distributed.
    Returns (id_col, simhash)."""
    if not 1 <= bits <= 62:
        # 62, not 63: the sign-bit recombine term 1 << 62 is the
        # largest that fits a Spark LongType literal
        raise ValueError("bits must be in [1, 62]")
    words = df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("w"))
    # bitmask, not pmod: a mask never needs the out-of-long 2^63
    # literal and is sign-safe on the raw xxhash64
    words = words.withColumn(
        "h", F.xxhash64("w").bitwiseAND(F.lit((1 << bits) - 1))
    )
    sums = words.groupBy(id_col).agg(
        *[
            F.sum(F.shiftright("h", j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return sums.select(id_col, sim.cast("long").alias("simhash"))


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hamming: int = 3,
    bits: int = 48,
    connectivity_only: bool = False,
) -> DataFrame:
    """Near-duplicate pairs at Hamming distance <= ``hamming`` over
    SimHash fingerprints — the Manku et al. (WWW'07) banded pigeonhole:
    ``hamming + 1`` bands guarantee any qualifying pair collides
    exactly on at least one band; candidates come from an
    equality-keyed distributed self-join on the band value (never a
    per-bucket ``collect_list`` array — one hot bucket would
    single-task its whole member list) with the ``bit_count(xor)``
    verify inside the join condition.  Returns (id_a, id_b, hamming)
    with id_a < id_b, distinct.

    ``connectivity_only=True`` (the :func:`dedupe_table` consumer):
    identical fingerprints first collapse to one representative per
    distinct simhash — a group of k exact near-dup copies emits k-1
    star links (hamming 0) instead of k²/2 pairs — and only the
    REPRESENTATIVES enter the banded join.  Components under
    :func:`connected_components` are provably identical: a qualifying
    pair's two fingerprints are either equal (same group → star) or
    collide on a band their representatives also collide on (equal
    sims → equal band values), so the verified rep pair plus the two
    stars connects them."""
    bands = hamming + 1
    width = bits // bands
    mask = (1 << width) - 1
    sims = simhash_signatures(df, id_col=id_col, text_col=text_col, bits=bits)
    stars = None
    if connectivity_only:
        from pyspark.sql import Window

        w = Window.partitionBy("simhash")
        withrep = sims.withColumn("_rep", F.min(id_col).over(w))
        stars = (
            withrep.filter(F.col(id_col) != F.col("_rep"))
            .select(
                F.col("_rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0).alias("hamming"),
            )
            .distinct()
        )
        sims = withrep.filter(F.col(id_col) == F.col("_rep")).select(
            id_col, "simhash"
        )

    def _banded(side: str):
        return sims.select(
            F.col(id_col).alias(f"id_{side}"),
            F.col("simhash").alias(f"s{side}"),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright("simhash", width * b)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for b in range(bands)
                ])
            ).alias("band"),
        ).select(f"id_{side}", f"s{side}", "band.b", "band.bv")

    pairs = (
        _banded("a")
        .join(_banded("c"), ["b", "bv"])
        .filter(
            (F.col("id_a") < F.col("id_c"))
            & (
                F.bit_count(F.col("sa").bitwiseXOR(F.col("sc")))
                <= F.lit(int(hamming))
            )
        )
        .select(
            "id_a",
            F.col("id_c").alias("id_b"),
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sc"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs if stars is None else pairs.unionByName(stars).distinct()


def _sign_lsh_planes(dim: int, n_planes: int = 4) -> list:
    """Deterministic md5-derived hyperplanes (same construction as the
    oracle battery's frozen planes — data-oblivious, reproducible
    everywhere without RNG state)."""
    import hashlib

    return [
        [
            round(
                int(hashlib.md5(f"lshplane|{p}|{j}".encode()).hexdigest()[:8], 16)
                / 0xFFFFFFFF
                * 2
                - 1,
                6,
            )
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


#: at and below this many DISTINCT vectors the default plane count
#: stays the frozen 4 (16 buckets); past it one plane is added per
#: corpus doubling, keeping expected bucket depth ≈ this constant —
#: the same sizing rule the r9 ladder forced on the query twin
#: (queries/llm.py _x48_planes) after the fixed 16-bucket blocking
#: went quadratic (~1.25B within-bucket pairs at 200k unique vectors)
SEMANTIC_FROZEN_MAX = 4096

#: per-bucket row cap for the gram-matrix scoring path — one
#: applyInPandas group holds the bucket's full (rows × dim) float64
#: matrix plus a BLOCK×rows gram slice in a single Python worker, so a
#: bucket past this bound (16384 rows × 1024 dims ≈ 128 MB for M alone)
#: scores through the join fallback instead: more shuffle, bounded
#: worker memory.  The plane rule keeps expected depth ~constant, so
#: only a genuinely skewed bucket (near-constant embeddings) ever
#: crosses it.
SEMANTIC_GRAM_MAX_ROWS = 16384


def _semantic_planes_for(n_distinct: int) -> int:
    import math

    extra = (
        math.ceil(math.log2(n_distinct / SEMANTIC_FROZEN_MAX))
        if n_distinct > SEMANTIC_FROZEN_MAX
        else 0
    )
    return 4 + extra


def semantic_candidate_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int | None = None,
    connectivity_only: bool = False,
) -> DataFrame:
    """Embedding near-duplicate pairs at cosine >= ``threshold`` — the
    SemDeDup blocking: sign-LSH buckets confine the pairwise cosine to
    a bucket, per-vector norms computed ONCE before pairing, scoring
    in JVM higher-order functions.
    Recall note: sign-LSH requires bucket agreement, so cross-bucket
    near-duplicates are missed — exact duplicates always agree (same
    signs) and that is the dedup contract this serves.

    ``n_planes=None`` (the default) sizes the bucket count FROM THE
    DATA: one plane per corpus doubling past ``SEMANTIC_FROZEN_MAX``
    distinct vectors (estimated by the same probe pass that checks
    widths — approx_count_distinct is map-side combinable).  SemDeDup's
    scale story is that cluster count grows with the corpus so
    per-cluster depth stays bounded (Abbas et al. 2023); a FIXED 2^4
    buckets makes the within-bucket join O(n²/16) — the exact asymptote
    the r9 unique-corpus ladder measured and killed in the query twin.
    Pass an explicit ``n_planes`` to override.

    ``connectivity_only=True`` (the :func:`dedupe_table` consumer):
    exact-duplicate vectors (equal 128-bit content hash) collapse to
    one representative; each group emits star links (cos exactly 1 for
    identical non-zero vectors) and only representatives enter the
    bucket join.  Components under :func:`connected_components` are
    identical: a qualifying pair is either hash-equal (same group →
    star) or its representatives carry the same two vectors — same
    buckets, same cosine — so the rep pair plus the stars connects it.

    ``dim=None`` derives the width from the data (one aggregate pass)
    and REFUSES mixed widths — zip_with null-pads a shorter side,
    which would silently zero projection bits and drop rows from
    consideration.  Zero/NaN vectors never emit pairs: their cosine
    is NaN, which Spark's comparisons rank ABOVE every number — left
    unguarded, one corrupt all-zeros embedding would "match" its
    whole bucket and a dedup would mass-delete it.  Zero-vector star
    links are equally refused (identical zero vectors have no cosine).
    Returns (id_a, id_b, cos) with id_a < id_b."""
    probe = df.agg(
        F.min(F.size(F.col(vec_col))).alias("lo"),
        F.max(F.size(F.col(vec_col))).alias("hi"),
        F.approx_count_distinct(vec_col).alias("nd"),
    ).first()
    if probe is not None and probe["lo"] is not None:
        if probe["lo"] != probe["hi"]:
            raise ValueError(
                f"{vec_col} has mixed widths [{probe['lo']}, {probe['hi']}]"
                " — semantic blocking needs one embedding space; split or"
                " re-embed first"
            )
        if dim is None:
            dim = int(probe["lo"])
        elif probe["lo"] != dim:
            raise ValueError(
                f"{vec_col} has {probe['lo']} dims; pass dim={probe['lo']} "
                f"(got dim={dim} — the hyperplanes must match the width)"
            )
    if dim is None:
        dim = 64  # empty input: any plane width works, nothing to pair
    if n_planes is None:
        n_planes = _semantic_planes_for(
            int(probe["nd"]) if probe is not None and probe["nd"] else 1
        )

    def dot(a, b):
        # unrolled over the validated width (``dim`` is proven uniform
        # above) — codegen instead of interpreted higher-order lambdas;
        # identical left-to-right fold from 0.0
        out = F.lit(0.0)
        for i in range(dim):
            out = out + a[i].cast("double") * b[i].cast("double")
        return out

    stars = None
    if connectivity_only:
        from pyspark.sql import Window

        w = Window.partitionBy("_g1", "_g2")
        withrep = df.select(
            F.col(id_col),
            F.col(vec_col),
            F.xxhash64(vec_col).alias("_g1"),
            F.xxhash64(F.lit(1), vec_col).alias("_g2"),
        ).withColumn("_rep", F.min(id_col).over(w))
        stars = (
            withrep.filter(
                (F.col(id_col) != F.col("_rep"))
                & (dot(F.col(vec_col), F.col(vec_col)) > 0)
                & (F.lit(float(threshold)) <= 1.0)
            )
            .select(
                F.col("_rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(1.0).alias("cos"),
            )
            .distinct()
        )
        df = withrep.filter(F.col(id_col) == F.col("_rep")).select(
            id_col, vec_col
        )

    # sign-LSH projection, Arrow-batched (r11): ONE numpy matmul per
    # batch replaces n_planes zip_with/aggregate traversals per row —
    # at the 300× rung the plane count is 12, so the JVM form walked
    # every embedding 12× in interpreted higher-order lambdas.  BLAS
    # summation order differs from the sequential JVM fold by ~1 ulp;
    # a projection flipping sign on that epsilon is measure-zero and
    # only ever moves a vector between buckets (recall, never
    # correctness — pairs are exact-verified by the cosine below).
    import numpy as np
    import pandas as pd  # noqa: F401

    planes_t = np.array(_sign_lsh_planes(dim, n_planes), dtype=np.float64).T
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("long")
    def _bkt(s):
        import numpy as _np
        import pandas as _pd

        if len(s) == 0:
            return _pd.Series([], dtype="Int64")
        mask = s.isna().to_numpy()
        rows = [
            _np.zeros(planes_t.shape[0]) if m else _np.asarray(v, dtype=_np.float64)
            for m, v in zip(mask, s)
        ]
        bits = (_np.stack(rows) @ planes_t) > 0
        vals = (bits * weights).sum(axis=1)
        return _pd.Series(vals).astype("Int64").mask(mask)

    # pair scoring per BUCKET (r11): the old shape self-joined on the
    # bucket and evaluated one interpreted zip_with dot PER CANDIDATE
    # PAIR — ~n·depth/2 pairs (43M at the 300× rung), each shipping two
    # full vectors through the exchange.  Scoring a bucket's GRAM
    # MATRIX in one BLAS op inside applyInPandas exchanges each vector
    # ONCE (n rows, not n·depth) and turns the hot loop into numpy.
    # Semantics preserved exactly: id_a < id_b (BY VALUE — duplicate
    # ids in one bucket never emit self-pairs), cos ≥ threshold,
    # zero-norm vectors pair with nothing (their row is masked before
    # the division), NaN cosines are dropped.  Oversized buckets score
    # in row blocks so the gram slice stays bounded — and a bucket past
    # ``SEMANTIC_GRAM_MAX_ROWS`` falls back to the equality-keyed
    # self-join entirely (r12): one applyInPandas group materializes
    # the whole bucket's vector matrix in a single Python worker, so a
    # skewed bucket (small plane count, near-constant embeddings
    # surviving the star-collapse) must shuffle more rather than OOM a
    # worker.  The split is a window count over the same hash
    # partitioning the groupBy needs — no extra exchange of the
    # vectors.
    b = df.select(
        F.col(id_col), F.col(vec_col), _bkt(F.col(vec_col)).alias("_bkt")
    ).filter(F.col("_bkt").isNotNull())
    id_type = dict(df.dtypes)[id_col]
    thr = float(threshold)
    BLOCK = 4096

    def _score(pdf):
        import numpy as _np
        import pandas as _pd

        empty = _pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        n = len(pdf)
        if n < 2:
            return empty
        order = _np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        M = _np.stack(
            [
                _np.asarray(v, dtype=_np.float64)
                for v in pdf[vec_col].to_numpy()[order]
            ]
        )
        nrm = _np.sqrt(_np.einsum("ij,ij->i", M, M))
        ok = nrm > 0
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n, BLOCK):
            hi = min(lo + BLOCK, n)
            G = M[lo:hi] @ M[lo:].T  # rows lo..hi vs every LATER row
            with _np.errstate(invalid="ignore", divide="ignore"):
                C = G / _np.outer(nrm[lo:hi], nrm[lo:])
            ii, jj = _np.nonzero(
                _np.triu(
                    ok[lo:hi, None]
                    & ok[None, lo:]
                    & ~_np.isnan(C)
                    & (C >= thr),
                    k=1,
                )
            )
            # triu(k=1) enforces strict ordering by POSITION only; a
            # duplicate id appearing twice in a bucket would emit a
            # (id, id, 1.0) self-pair the documented id_a < id_b
            # contract excludes — keep the inequality on VALUES
            keep = ids[ii + lo] != ids[jj + lo]
            ii, jj = ii[keep], jj[keep]
            out_a.append(ids[ii + lo])
            out_b.append(ids[jj + lo])
            out_c.append(C[ii, jj])
        if not out_a:
            return empty
        return _pd.DataFrame(
            {
                "id_a": _np.concatenate(out_a),
                "id_b": _np.concatenate(out_b),
                "cos": _np.concatenate(out_c),
            }
        )

    from pyspark.sql import Window as _W

    b = b.withColumn(
        "_bn", F.count(F.lit(1)).over(_W.partitionBy("_bkt"))
    )
    pairs = (
        b.filter(F.col("_bn") <= SEMANTIC_GRAM_MAX_ROWS)
        .drop("_bn")
        .groupBy("_bkt")
        .applyInPandas(_score, f"id_a {id_type}, id_b {id_type}, cos double")
    )
    big = b.filter(F.col("_bn") > SEMANTIC_GRAM_MAX_ROWS).drop("_bn")
    # join fallback for oversized buckets: per-vector norm computed
    # once, zero-norm rows dropped before the join (they pair with
    # nothing), cosine evaluated inside the equality-keyed self-join —
    # O(pairs) compute but O(rows) peak memory per task
    bign = big.withColumn(
        "_nrm", F.sqrt(dot(F.col(vec_col), F.col(vec_col)))
    ).filter(F.col("_nrm") > 0)
    lhs = bign.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
        "_bkt",
    )
    rhs = bign.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
        "_bkt",
    )
    big_pairs = (
        lhs.join(rhs, "_bkt")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        )
        .filter(~F.isnan(F.col("cos")) & (F.col("cos") >= F.lit(thr)))
        .select("id_a", "id_b", "cos")
    )
    pairs = pairs.unionByName(big_pairs)
    return pairs if stars is None else pairs.unionByName(stars)
