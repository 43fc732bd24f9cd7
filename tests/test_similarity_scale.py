"""Scale-path tests for the near-duplicate kernels: the distributed
block-pair BLAS form is exact at any threshold; IVF multi-probe
recovers most exact top-k neighbours.
"""

from __future__ import annotations

import numpy as np
import pytest


@pytest.fixture(scope="module")
def planted_vectors(spark):
    """400 spread-out unit vectors + 40 perturbed copies (cos ≥ ~0.95)."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=(400, 16))
    base /= np.linalg.norm(base, axis=1)[:, None]
    dup_src = rng.choice(400, size=40, replace=False)
    dups = base[dup_src] + 0.08 * rng.normal(size=(40, 16))
    rows = [
        (int(i), [float(x) for x in v])
        for i, v in enumerate(np.vstack([base, dups]))
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_blockpair_blas_exact_at_low_threshold(spark, planted_vectors):
    """Block-pair kernel == expression-only O(n²) form, even at a low
    threshold where bucketing approaches would lose pairs."""
    from swingstream.operators.similarity import (
        neardup_pairs_blas,
        neardup_pairs_cosine,
    )

    a = neardup_pairs_blas(planted_vectors, threshold=0.6, n_blocks=5).toPandas()
    b = neardup_pairs_cosine(planted_vectors, threshold=0.6).toPandas()
    assert len(a) == len(b) and len(a) >= 40
    assert (a["id_a"].to_numpy() == b["id_a"].to_numpy()).all()
    assert (a["id_b"].to_numpy() == b["id_b"].to_numpy()).all()
    np.testing.assert_allclose(a["cos"], b["cos"], atol=2e-9)


def test_neardup_blas_has_no_driver_collect():
    """The round-1 kernel collected the corpus to the driver; the
    block-pair form must never — guard the source itself."""
    import inspect

    from swingstream.operators import similarity

    src = inspect.getsource(similarity.neardup_pairs_blas)
    assert ".collect(" not in src and "broadcast(" not in src


def test_ivf_ann_recall(spark, planted_vectors):
    """IVF multi-probe must recover most exact top-5 neighbors while
    touching only n_probe/n_centroids of the corpus per query."""
    from swingstream.operators.similarity import (
        brute_force_topk,
        ivf_ann_topk_from_assignments,
        ivf_assignments,
    )

    qids = [0, 1, 2, 3, 4, 5, 6, 7]
    exact = brute_force_topk(planted_vectors, qids, k=5).toPandas()
    assigned, centroids = ivf_assignments(planted_vectors, n_centroids=8,
                                          n_iters=4)
    ivf = ivf_ann_topk_from_assignments(assigned, centroids, qids, k=5,
                                        n_probe=3).toPandas()
    exact_sets = exact.groupby("query_id")["cand_id"].apply(set)
    ivf_sets = ivf.groupby("query_id")["cand_id"].apply(set)
    hits = sum(len(exact_sets[q] & ivf_sets.get(q, set())) for q in qids)
    recall = hits / (5 * len(qids))
    assert recall >= 0.7, f"IVF recall {recall:.2f}"
