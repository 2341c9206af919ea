"""IVF ANN quality invariants (icepack/ann.py): cluster-pruned search
must actually find the true neighbors — recall@10 against exact
brute-force cosine, and more probes can only help.  Everything is
deterministic (fixed seeds, fixed data), so thresholds are exact
floors measured on the fixture, not statistical hopes."""

import numpy as np
import pytest

from icepack.ann import ivf_topk, train_ivf
from icepack.io import load

from tests.conftest import SF_DIR


def _exact_top10(E_norm, qi):
    sims = E_norm @ E_norm[qi]
    return set(int(j) for j in np.argsort(-sims)[1:11])


def test_ivf_recall_and_probe_monotonicity(spark):
    e = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    cents = train_ivf(e, k=4, iters=3)
    rows = e.orderBy("vec_id").collect()
    E = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)

    recalls = {1: [], 2: []}
    for qi in range(5):
        truth = _exact_top10(En, qi)
        for nprobe in (1, 2):
            got = {
                r["vec_id"]
                for r in ivf_topk(
                    e, E[qi], cents, nprobe=nprobe, k=10, exclude_vec_id=qi
                ).collect()
            }
            recalls[nprobe].append(len(truth & got) / 10)
    m1 = float(np.mean(recalls[1]))
    m2 = float(np.mean(recalls[2]))
    # measured on the fixture: 0.78 / 0.82 — floors leave headroom only
    # for genuine implementation changes, not quality regressions
    assert m1 >= 0.6, recalls
    assert m2 >= 0.7, recalls
    assert m2 >= m1  # probing more clusters can only add candidates


def test_ivf_probe_all_equals_bruteforce(spark):
    """nprobe=K searches everything → must EXACTLY equal brute force."""
    e = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    cents = train_ivf(e, k=4, iters=3)
    rows = e.orderBy("vec_id").collect()
    E = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    got = [
        r["vec_id"]
        for r in ivf_topk(e, E[0], cents, nprobe=4, k=10, exclude_vec_id=0).collect()
    ]
    sims = En @ En[0]
    order = [int(j) for j in np.argsort(-np.round(sims, 12)) if j != 0][:10]
    assert set(got) == set(order)


def _ragged(spark):
    """Three embeddings; the second is one dim wider than the rest."""
    e = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0, 0.5]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    return e, np.asarray([[1.0, 0.0], [0.0, 1.0]])


def test_ivf_topk_width_check_runs_no_job(spark):
    """Building the search plan checks the query width on the driver
    and launches no Spark job."""
    e, cents = _ragged(spark)
    e = e.filter("vec_id != 1")
    sc = spark.sparkContext
    sc.setJobGroup("ivf-build", "ivf-build")
    try:
        df = ivf_topk(e, [1.0, 0.0], cents, k=2)
        with pytest.raises(ValueError, match="3 dims but the centroids have 2"):
            ivf_topk(e, [1.0, 0.0, 0.0], cents, k=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("ivf-build")) == []
    assert [r.vec_id for r in df.collect()] == [0, 2]


def test_ivf_topk_rejects_a_ragged_row_past_the_first(spark):
    """A stored embedding of another width anywhere in the column fails
    the search instead of being truncated."""
    e, cents = _ragged(spark)
    with pytest.raises(Exception, match="embedding of vec_id 1 does not have 2 dims"):
        ivf_topk(e, [1.0, 0.0], cents, nprobe=2, k=3).collect()


def test_lsh_probe_all_equals_bruteforce_and_floor(spark):
    """Probing ALL 16 LSH cells (radius=4) must EXACTLY reproduce the
    brute-force cosine top-10 — the correctness invariant that holds on
    any data.  The Hamming-1 probe's recall is geometry-dependent: the
    fixture's true neighbors sit at cos≈0.3 where sign bits agree only
    ~55%, so the floor is the ~5/16 random-scan baseline, not an IVF-
    class number (that contrast is the point of keeping both paths)."""
    from icepack.queries.llm import _lsh_topk

    e = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    rows = e.orderBy("vec_id").collect()
    E = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    truth = _exact_top10(En, 0)

    got_all = {r["vec_id"] for r in _lsh_topk(spark, SF_DIR, radius=4).collect()}
    assert got_all == truth

    got_h1 = {r["vec_id"] for r in _lsh_topk(spark, SF_DIR, radius=1).collect()}
    assert len(truth & got_h1) / 10 >= 0.2, sorted(got_h1)


def test_matryoshka_probe_all_equals_brute_force(spark):
    """x50's two-stage machinery loses nothing by construction: with
    stage1_k = corpus size the re-rank reproduces the exact brute-force
    top-10 (the 50-candidate default trades recall for a corpus-size-
    independent stage 2 — geometry-dependent on non-MRL vectors)."""
    from icepack.queries import llm

    sf = "/root/testdata/sf0.001"
    # x5's top-10 includes the query vector itself (cos 1.0) -> 9
    # comparable neighbors after excluding it
    exact = [
        r.vec_id
        for r in llm.x5_cosine_topk(spark, sf).collect()
        if r.vec_id != 0
    ]
    # stage1_k far above the corpus size = probe everything (a huge
    # literal like 1e9 makes TakeOrdered pre-allocate its heap — avoid)
    all_k = llm._matryoshka_rerank(spark, sf, stage1_k=100_000).collect()
    assert [r.vec_id for r in all_k][: len(exact)] == exact
