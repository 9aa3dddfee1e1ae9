"""Distributed dense linear algebra over embedding columns.

The 100 TB pattern here is SUFFICIENT STATISTICS: a d-dimensional
embedding corpus reduces to (n, sum, sum-of-outer-products) — d² + d + 1
numbers — via ONE Arrow-batched pass with per-partition partial
aggregation. Each partition emits a single row, the driver combines
n_partitions rows (k-means-centroid-sized state, never corpus-sized), and
everything downstream of the eigendecomposition (a d x d problem, d ≤ a
few hundred for embedding columns) is a broadcast-matrix projection that
scales embarrassingly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def embedding_sufficient_stats(df: DataFrame, vec_col: str, d: int):
    """Collect (n, sum_vec, sum_outer) for a d-dim embedding column.

    Returns the driver-side numpy triple. One mapInPandas pass emits ONE
    row per partition (d² + d + 1 doubles); the driver sums ≤ n_partitions
    rows. No shuffle at all — partials go straight to the driver, exactly
    like MLlib's treeAggregate degenerate case.
    """
    import numpy as np
    import pandas as pd

    def partials(batches):
        n = 0
        s = np.zeros(d, dtype=np.float64)
        S = np.zeros((d, d), dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(list(pdf[vec_col].to_numpy()), dtype=np.float64)
            n += X.shape[0]
            s += X.sum(axis=0)
            S += X.T @ X
        if n == 0:
            return
        yield pd.DataFrame({"n": [n], "s": [s.tolist()], "S": [S.ravel().tolist()]})

    rows = (
        df.select(vec_col)
        .mapInPandas(partials, schema="n long, s array<double>, S array<double>")
        .collect()
    )
    if not rows:  # empty relation: typed zero stats, not a 0-d np scalar
        return 0, np.zeros(d), np.zeros((d, d))
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    S = np.sum([np.asarray(r["S"]).reshape(d, d) for r in rows], axis=0)
    return n, s, S


def covariance_from_stats(n: int, s, S):
    """Sample covariance matrix from sufficient statistics."""
    import numpy as np

    mu = s / n
    return (S - np.outer(s, mu)) / (n - 1), mu


def pca_components(cov, k: int):
    """Top-k principal axes of a covariance matrix, deterministically.

    eigh returns ascending eigenvalues; take the top k and fix each
    eigenvector's sign so its largest-|coefficient| entry is positive
    (the standard sign convention — eigenvectors are only defined up to
    sign, and determinism requires pinning it).
    """
    import numpy as np

    vals, vecs = np.linalg.eigh(cov)
    idx = np.argsort(vals)[::-1][:k]
    comp = vecs[:, idx]  # (d, k)
    for j in range(comp.shape[1]):
        pivot = np.argmax(np.abs(comp[:, j]))
        if comp[pivot, j] < 0:
            comp[:, j] = -comp[:, j]
    return vals[idx], comp


def project_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    mean,
    components,
    round_to: int = 6,
) -> DataFrame:
    """Center by ``mean`` and project onto ``components`` (d x k), one
    BLAS matmul per Arrow batch; the (d x k) matrix broadcasts by closure.
    """
    import numpy as np
    import pandas as pd

    mu = np.asarray(mean, dtype=np.float64)
    W_mat = np.asarray(components, dtype=np.float64)

    def proj(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(list(pdf[vec_col].to_numpy()), dtype=np.float64)
            P = np.round((X - mu) @ W_mat, round_to)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "projection": list(P)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        proj, schema=f"{id_col} long, projection array<double>"
    )
