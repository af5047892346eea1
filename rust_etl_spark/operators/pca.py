"""PCA projection over the embeddings table (dimensionality reduction).

The preprocessing step an embedding-heavy pipeline runs before
indexing/clustering: find the principal axis of the corpus and attach
each vector's score along it (whitening, drift monitoring, 1-D
binning for IVF-style coarse partitions all start here).

Decomposition strategy, sized for 100 TB:

- The only corpus-sized passes are (a) one aggregate for the mean
  vector and (b) one ``mapInPandas`` sweep that reduces each Arrow
  batch to a DIM x DIM partial Gram matrix with a single numpy matmul
  — per-batch output is 4096 floats regardless of batch rows, so the
  shuffle carries #batches * DIM^2 values, never the data. This is
  the canonical "vectorized kernel inside, tiny state out" Arrow UDF
  shape (the multimodal feature extractor uses the same flow).
- The eigensolve runs driver-side on the assembled DIM x DIM
  covariance (64 x 64 = 4 KiB — bounded like upsert.py's bucket ids)
  as a direct symmetric eigendecomposition — at this size the solve
  is microseconds, and unlike power iteration it does not degrade on
  near-isotropic spectra (this corpus's eigengap is small); the
  resulting axis broadcasts back as a literal.
- The projection pass is pure built-ins (``zip_with``/``aggregate``
  fold), JVM-side.

Determinism: eigh on an identical matrix is deterministic and the
eigenvector's sign is normalized (first nonzero component positive),
but the covariance cells are distributed double sums (groupBy +
``F.sum`` of Gram partials) whose accumulation order depends on
partitioning — so across runs/configs the pc1 scores are reproducible
only up to float-summation jitter, which the corpus's small eigengap
can amplify into the low decimal digits. rows-only in the catalog (a
driver-side eigensolve has no ANSI-SQL mirror); tests/test_pca.py
pins the result against an independent numpy eigendecomposition with
a 2e-4 tolerance sized to absorb exactly that residual.

Reference parity: the reference (/root/reference) has no numeric
compute at all (SURVEY.md §2b); this is part of the mandated
similarity/embedding extension surface.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_etl_spark.plans.catalog import register
from rust_etl_spark.sources import load_table

N_DIMS = 64
SCORE_DIGITS = 4

_GRAM_SCHEMA = "i int, j int, s double"


def _batch_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """DIM x DIM partial X^T X per Arrow batch (one numpy matmul)."""
    import numpy as np

    for pdf in batches:
        if not len(pdf):
            continue
        x = np.stack(pdf["embedding"].map(lambda a: np.asarray(a, dtype=np.float64)))
        g = x.T @ x
        idx = np.indices(g.shape).reshape(2, -1)
        yield pd.DataFrame({"i": idx[0], "j": idx[1], "s": g.ravel()})


def corpus_covariance(emb: DataFrame) -> tuple[list[float], list[list[float]], int]:
    """(mean, covariance, n) of the embedding column.

    Driver transfer is DIM + DIM^2 doubles (~33 KiB at 64 dims) — the
    bounded sketch of the corpus, independent of row count.
    """
    n = emb.count()
    dim_means = (
        emb.select(F.posexplode("embedding").alias("d", "x"))
        .groupBy("d")
        .agg(F.sum(F.col("x").cast("double")).alias("s"))
        .collect()
    )
    mu = [0.0] * N_DIMS
    for r in dim_means:
        mu[r["d"]] = r["s"] / n
    gram_rows = (
        emb.select("embedding")
        .mapInPandas(_batch_gram, schema=_GRAM_SCHEMA)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    cov = [[0.0] * N_DIMS for _ in range(N_DIMS)]
    for r in gram_rows:
        cov[r["i"]][r["j"]] = r["s"] / n - mu[r["i"]] * mu[r["j"]]
    return mu, cov, n


def top_eigenvector(cov: list[list[float]]) -> list[float]:
    """Leading eigenvector of the driver-side matrix, sign-normalized.

    Direct ``eigh`` (not power iteration): the matrix is DIM x DIM no
    matter the corpus size, and a direct solve is robust to the small
    eigengaps near-isotropic embedding corpora actually have."""
    import numpy as np

    _, evecs = np.linalg.eigh(np.asarray(cov))
    v = evecs[:, -1]
    for x in v:
        if x != 0.0:
            if x < 0.0:
                v = -v
            break
    return [float(x) for x in v]


@register(
    "embedding_pca_project",
    oracle=None,  # driver-side eigensolve: no SQL mirror; value-pinned
    # against an independent numpy eigendecomposition in tests/test_pca.py
    doc="First-principal-component projection of every embedding: "
    "corpus covariance via per-batch numpy Gram partials (mapInPandas, "
    "4 KiB out per batch), a 64x64 driver-side eigensolve, then a "
    "JVM-side centered dot product per vector. The whitening/"
    "drift-monitoring primitive of an embedding pipeline.",
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every vector onto the corpus's first principal axis.

    Building the DataFrame runs Spark jobs: the mean and covariance
    are collected to the driver and the eigensolve runs there, so the
    returned plan holds the mean and the axis as literals."""
    emb = load_table(spark, sf_dir, "embeddings")
    mu, cov, _ = corpus_covariance(emb)
    w = top_eigenvector(cov)
    w_lit = F.array(*[F.lit(x) for x in w])
    mu_lit = F.array(*[F.lit(x) for x in mu])
    centered_dot = F.aggregate(
        F.zip_with(
            F.zip_with(
                F.col("embedding").cast("array<double>"), mu_lit, lambda x, m: x - m
            ),
            w_lit,
            lambda c, ww: c * ww,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id", "label", F.round(centered_dot, SCORE_DIGITS).alias("pc1")
    )
