"""Embedding dimensionality reduction: exact PCA via a single-pass
distributed Gramian.

The training-data use case: 100 TB of 1k-dim embeddings are too wide
for downstream clustering/ANN index builds; PCA to 8-64 dims keeps
the geometry (and the IVF/LSH recall) at a fraction of the shuffle
width. The classic scalable construction (public: Halko et al. 2011
review the Gramian route; every MLlib/Sklearn PCA does the same):

1. ONE distributed pass accumulates the d-vector of sums and the
   d x d second-moment matrix as integer-position partial aggregates
   (map-side combinable, d^2 rows cross the shuffle — KB-sized,
   independent of corpus size).
2. The driver forms the covariance (O(d^2) memory) and runs a dense
   symmetric eigendecomposition (O(d^3) — microseconds for any d that
   fits a Spark row anyway).
3. Projection is a stateless map: each output coordinate is one
   fused zip_with/aggregate dot product against a literal component
   — no shuffle, no Python, streams at scan speed.

Driver check is rows-only by design: eigenvectors are not
SQL-expressible. The pytest suite asserts the linear-algebra
contract instead (orthonormal components, descending explained
variance, reconstruction error shrinking as k grows, parity with
numpy's exact PCA on the same rows).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _as_double(col="embedding"):
    return F.transform(col, lambda x: x.cast("double"))


def pca_fit(embeddings: DataFrame, k: int = 8) -> dict:
    """Fit exact PCA; returns plain Python state (the "model"):
    ``{"mean": [d], "components": [k][d], "explained": [k], "dim": d}``.

    Components are sign-canonicalized (largest-|coefficient| entry
    positive) so refits are reproducible run-to-run.
    """
    dims = (
        embeddings.select(F.size("embedding").alias("d"))
        .distinct()
        .limit(3)
        .collect()
    )
    if not dims:
        raise ValueError(
            "pca_fit: cannot fit on an empty embeddings frame (no "
            "dimensionality to infer) — fit on history, then project "
            "batches with pca_project(model=...)"
        )
    # each degenerate input gets ITS OWN named refusal — a NULL array
    # makes F.size yield NULL and an all-empty corpus yields zero
    # moment rows, and letting either fall through produced masking
    # TypeErrors/IndexErrors instead of the real cause
    sizes = [r["d"] for r in dims]
    if any(s is None for s in sizes):
        raise ValueError(
            "pca_fit: some rows have NULL embedding arrays — drop or "
            "repair upstream before fitting"
        )
    if len(sizes) > 1:
        # ragged inputs would silently corrupt the moment frame (per-
        # position counts stop being the row count) or IndexError on
        # positions past d+d² — refuse with the real cause
        raise ValueError(
            "pca_fit: embeddings are ragged — got dimensionalities "
            f"{sorted(sizes)}; fix upstream before fitting"
        )
    dim = sizes[0]
    if dim == 0:
        raise ValueError(
            "pca_fit: embeddings are zero-length arrays — nothing to fit"
        )
    if k > dim:
        raise ValueError(
            f"pca_fit: k={k} exceeds the embedding dimensionality "
            f"{dim} — at most dim components exist"
        )
    # One pass: positions [0, d) carry Σx_i, positions [d, d+d²) carry
    # Σ x_i·x_j (flattened outer product, row-major); count rides
    # along. Moment terms are quantized to a 1e-9 grid BEFORE summing
    # (the label_centroids device): a plain double sum depends on
    # partition/summation order, so the same data on a different
    # partitioning (or a task retry) would perturb the covariance in
    # the last ulps — and for near-degenerate eigenvalue pairs eigh
    # then returns a ROTATED basis, changing every projection. The
    # integer-grid sum is exact and associative (deterministic on any
    # layout) at a ≤1e-9 per-term quantization cost that PCA cannot
    # see above its own estimation noise.
    #
    # The partials are computed in ONE vectorized numpy pass per task
    # (mapInArrow, guide-§4.2 shape: Spark does distribution/shuffle,
    # the batch math runs in native code). The previous JVM form —
    # posexplode of a (d+d²)-element per-row array into a decimal
    # aggregate — materialized d²·N exploded rows through 128-bit
    # decimal sums (8.3M rows at sf0.1, dominating the whole query);
    # each task now emits exactly d+d²≤4160 partial rows (the same
    # bytes the old map-side partial agg shuffled) and the per-row
    # work is two BLAS-shaped array ops. floor(x·1e9) on IEEE doubles
    # is bit-identical in numpy and the JVM, and partials accumulate
    # in unbounded Python ints (the old decimal(38,0) headroom), so
    # the fitted model is bit-for-bit what the explode plan produced.
    staged = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_e")
    )

    def _gram_partials(batches):
        import pyarrow as pa

        acc_n = 0
        acc = [0] * (dim + dim * dim)
        for batch in batches:
            arr = batch.column(batch.schema.get_field_index("_e"))
            fl = arr.flatten()
            # every batch must be a dense rows×dim layout: the reshape
            # below and the flat-index // dim row attribution of a
            # NULL element both assume it. The dims probe before the fit
            # guarantees it (no NULL/ragged arrays), but assert it per
            # batch so a relaxed upstream guard degrades to an honest
            # error instead of a mis-shaped fit or the wrong vec_id
            if arr.null_count or len(fl) != len(arr) * dim:
                raise ValueError(
                    "pca_fit: embedding batch is not a dense "
                    f"rows×{dim} layout (NULL or ragged arrays "
                    "slipped past the dims probe) — fix upstream"
                )
            if fl.null_count:
                # a NULL ELEMENT would silently bias the fit (the sum
                # skips the null product but n still counts the row) —
                # raise loudly naming the offending vec_id, the same
                # contract the old fused raise_error column enforced
                valid = np.asarray(fl.is_valid())
                row = int(np.flatnonzero(~valid)[0]) // dim
                vid = batch.column(
                    batch.schema.get_field_index("vec_id")
                )[row].as_py()
                raise ValueError(
                    "pca_fit: embedding contains NULL elements "
                    f"(vec_id {vid})"
                )
            X = fl.to_numpy(zero_copy_only=False).reshape(-1, dim)
            if not np.isfinite(X).all():
                # the old plan failed loudly here too (ANSI cast of a
                # NaN/Inf grid term); name the row instead of letting
                # a NaN poison every covariance entry it touches
                row = int(np.flatnonzero(~np.isfinite(X).all(axis=1))[0])
                vid = batch.column(
                    batch.schema.get_field_index("vec_id")
                )[row].as_py()
                raise ValueError(
                    "pca_fit: embedding contains non-finite values "
                    f"(vec_id {vid})"
                )
            acc_n += X.shape[0]
            # chunk the outer products so the (rows × d × d) tensor
            # stays ~tens of MB regardless of Arrow batch sizing
            step = max(1, 4_194_304 // (dim * dim))
            for c0 in range(0, X.shape[0], step):
                P = X[c0 : c0 + step]
                g1 = np.floor(P * 1e9)
                g2 = np.floor(
                    (P[:, :, None] * P[:, None, :]).reshape(len(P), -1)
                    * 1e9
                )
                # int64 chunk sums are exact while |Σ| < 2^63; fall
                # back to exact Python-int sums past that headroom
                # (the decimal(38,0) regime of the old plan). The
                # floor values are integer-valued float64s (above
                # 2^53 a double IS an integer), and Python int(float)
                # converts them exactly — summing the FLOATS (or
                # object-dtype floats) would round and break the
                # associative-grid determinism contract.
                parts = []
                for g in (g1, g2):
                    if (
                        np.abs(g).max(initial=0.0) * (len(P) + 1)
                        < 2**62
                    ):
                        parts.append(g.astype(np.int64).sum(axis=0).tolist())
                    else:
                        parts.append(
                            [
                                sum(int(x) for x in g[:, c])
                                for c in range(g.shape[1])
                            ]
                        )
                flatg = parts[0] + parts[1]
                acc = [a + int(b) for a, b in zip(acc, flatg)]
        if acc_n:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(range(dim + dim * dim), type=pa.int32()),
                    pa.array(acc, type=pa.decimal128(38, 0)),
                    pa.array(
                        [acc_n] * (dim + dim * dim), type=pa.int64()
                    ),
                ],
                names=["pos", "s", "n"],
            )

    moments = (
        staged.mapInArrow(_gram_partials, "pos int, s decimal(38,0), n bigint")
        .groupBy("pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    n = moments[0]["n"]
    flat = np.zeros(dim + dim * dim)
    for row in moments:
        flat[row["pos"]] = float(row["s"]) / 1e9
    mean = flat[:dim] / n
    second = flat[dim:].reshape(dim, dim) / n
    cov = second - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:k]
    comps = eigvecs[:, order].T  # k x d
    eigvals = np.maximum(eigvals[order], 0.0)
    for i in range(comps.shape[0]):  # sign canon: dominant coeff > 0
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i][j] < 0:
            comps[i] = -comps[i]
    total_var = max(float(np.trace(cov)), 1e-300)
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained": (eigvals / total_var).tolist(),
        "dim": dim,
    }


def pca_project(
    embeddings: DataFrame, k: int = 8, model: dict | None = None
) -> DataFrame:
    """Project embeddings onto the top-``k`` principal axes.

    Output: ``vec_id, label, proj array<double>[k]``. ``model`` lets
    a stored fit score new batches without re-fitting (same
    train-offline/score-online split as ``dsir_score_with_model``).
    """
    model = pca_fit(embeddings, k) if model is None else model
    if k > len(model["components"]):
        # silently handing back fewer dimensions than asked would give
        # downstream consumers sized for k short vectors with no error
        raise ValueError(
            f"pca_project: k={k} exceeds the model's "
            f"{len(model['components'])} stored components — refit "
            "with a larger k or lower the request"
        )
    comps = model["components"][:k]
    e = _as_double()
    # a batch vector whose length differs from the model's dim — or
    # one holding a NULL element — would zip_with NULL into the dot
    # product and emit proj = [null, ...]: corrupt features with no
    # error anywhere. Fuse both checks into the staged column itself
    # (a separate pruned check column could be optimized away) so a
    # bad row fails the job loudly with the offending vec_id. A
    # whole-NULL embedding needs its own leading branch: size(NULL)
    # and exists(NULL, ...) both evaluate to NULL (not true), so the
    # dim/element checks fall through and .otherwise would hand back
    # a NULL array — the score-online path (model= from
    # read_pca_model) has no pca_fit pass to catch it.
    e_checked = (
        F.when(
            F.col("embedding").isNull(),
            F.raise_error(
                F.concat(
                    F.lit("pca_project: embedding is NULL (vec_id "),
                    F.col("vec_id").cast("string"),
                    F.lit(")"),
                )
            ),
        )
        .when(
            F.size("embedding") != F.lit(model["dim"]),
            F.raise_error(
                F.concat(
                    F.lit("pca_project: embedding dim "),
                    F.size("embedding").cast("string"),
                    F.lit(f" != model dim {model['dim']} (vec_id "),
                    F.col("vec_id").cast("string"),
                    F.lit(")"),
                )
            ),
        )
        .when(
            F.exists("embedding", lambda x: x.isNull()),
            F.raise_error(
                F.concat(
                    F.lit("pca_project: embedding contains NULL "),
                    F.lit("elements (vec_id "),
                    F.col("vec_id").cast("string"),
                    F.lit(")"),
                )
            ),
        )
        .otherwise(e)
    )
    staged = embeddings.select("vec_id", "label", e_checked.alias("_e"))
    offsets = [
        float(np.dot(model["mean"], c)) for c in comps
    ]  # Σ_j (x_j - μ_j)·w_j = x·w − μ·w, with μ·w folded on the driver
    coords = [
        (
            F.aggregate(
                F.zip_with(
                    "_e",
                    F.array(*[F.lit(float(w)) for w in c]),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            - F.lit(off)
        )
        for c, off in zip(comps, offsets)
    ]
    return staged.select(
        "vec_id", "label", F.array(*coords).alias("proj")
    )


def write_pca_model(spark, model: dict, path: str) -> None:
    """Persist a ``pca_fit`` model as a tiny parquet table — the
    train-offline/score-online split (companion to
    ``write_dsir_model``): row 0 is the mean, rows 1..k are the
    components (explained variance rides along on component rows).
    KB-sized at any corpus scale (k×d doubles)."""
    rows = [(0, -1.0, [float(x) for x in model["mean"]])]
    rows += [
        (i + 1, float(model["explained"][i]), [float(x) for x in c])
        for i, c in enumerate(model["components"])
    ]
    spark.createDataFrame(
        rows, "row_id int, explained double, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def read_pca_model(spark, path: str) -> dict:
    """Load a persisted PCA model back into the plain-dict form
    ``pca_project`` accepts; a stored fit scores new embedding
    batches (or a Structured Streaming frame — projection is a
    stateless map) without re-running the Gramian pass."""
    rows = sorted(
        spark.read.parquet(path).collect(), key=lambda r: r.row_id
    )
    mean = list(rows[0].vec)
    comps = [list(r.vec) for r in rows[1:]]
    return {
        "mean": mean,
        "components": comps,
        "explained": [r.explained for r in rows[1:]],
        "dim": len(mean),
    }
