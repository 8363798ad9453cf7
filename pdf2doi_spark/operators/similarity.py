"""Similarity search over the ``embeddings`` table (vec_id, embedding:
array<float>, label).

Two paths, per the driver mandate:

* **Brute-force cosine top-k** — the correctness baseline. Pure native
  expressions: ``zip_with`` for the elementwise product, ``aggregate`` for
  the sums, all in double precision with a fixed left-to-right order so
  Spark, DuckDB, and numpy agree bit-for-bit at comparable rounding. One
  narrow map + a global top-k (``orderBy … limit``, which Spark executes
  as per-partition top-k + driver merge — no full sort shuffle of the
  table at scale).
* **LSH-bucketed ANN** — the scale path: deterministic random-hyperplane
  signatures (hash-derived ±1 planes, no RNG) give each vector a signature
  bucket; search touches only the query's bucket (a pushed-down filter on
  the signature column, which a real deployment stores partitioned/
  bucketed so the scan prunes). Recall/latency trade is bands × bits.
"""
from __future__ import annotations

import hashlib
from typing import List, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from pdf2doi_spark.sources.io import write_sharded


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _cosine6(a: Column, b: Column) -> Column:
    """Cosine rounded to 6 dp, NULL when either side has zero norm — under
    Spark 4's default ANSI mode an unguarded 0-denominator division THROWS
    and aborts the job, so one padding/failed-embedding row must map to
    NULL (ranked last / filtered out), never to a task failure."""
    na, nb = _norm(a), _norm(b)
    return F.when(
        (na > 0) & (nb > 0), F.round(_dot(a, b) / (na * nb), 6)
    )


def cosine_topk(df: DataFrame, query: Sequence[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k against a constant query vector.

    The query vector is inlined as a literal array (it rides the task
    closure — no join, no shuffle); ranking is deterministic with vec_id as
    tiebreak.
    """
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(
        F.col(id_col), _cosine6(F.col(vec_col), q).alias("cosine")
    )
    # NULL cosines (zero-norm rows) sort last under DESC and never rank
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


# ------------------------------------------------------------------ LSH ANN

def embedding_lsh_params(n_vectors: int) -> tuple:
    """(n_bands, planes_per_band) for signature-bucketed near-dup search,
    scaled to corpus size — the round-2 review's scale fix: a FIXED 8-plane
    signature has only 256 buckets, so at 10^12 vectors each bucket holds
    ~4×10^9 rows and the within-bucket self-join is O(bucket²).

    The signature widens with log2(n) so expected bucket occupancy stays
    ~2^8 per band regardless of scale (8 planes at ≤2^16 vectors → 32
    planes / 2^32 buckets at 10^12). Wider signatures split true near-dup
    pairs more often (each extra plane flips with probability θ/π), so once
    the signature grows past 8 planes the scheme goes multi-band — 4
    independent bands, candidate on ANY band match — which restores pair
    recall to ~1-(1-r)^4 while keeping every per-band bucket small. Audit
    actual bucket sizes with ``lsh_bucket_profile`` before trusting a
    parameter choice on a new corpus."""
    import math

    planes = max(8, math.ceil(math.log2(max(n_vectors, 2))) - 8)
    bands = 1 if planes <= 8 else 4
    return bands, planes


def banded_lsh_signatures(df: DataFrame, n_bands: int, planes_per_band: int,
                          dim: int, vec_col: str = "v") -> DataFrame:
    """(id, v) → (id, v, band_idx, sig): one deterministic hyperplane
    signature per band (band b uses planes [b·p, (b+1)·p) of the shared
    plane sequence). The downstream candidate join shuffles on
    (band_idx, sig) only — never all-pairs."""
    all_planes = _plane_signs(n_bands * planes_per_band, dim)
    sigs = [
        lsh_signature_col(
            F.col(vec_col),
            all_planes[b * planes_per_band:(b + 1) * planes_per_band],
        )
        for b in range(n_bands)
    ]
    return df.select("*", F.posexplode(F.array(*sigs)).alias("band_idx", "sig"))


def lsh_bucket_profile(df: DataFrame, n_bands: int, planes_per_band: int,
                       dim: int, vec_col: str = "v") -> DataFrame:
    """Bucket-size histogram of the signature join key — the audit to run
    before an embedding near-dup pass (same contract as
    ``dedup.minhash_bucket_profile``)."""
    from pdf2doi_spark.operators.dedup import bucket_histogram

    b = banded_lsh_signatures(df, n_bands, planes_per_band, dim, vec_col)
    return bucket_histogram(b, ["band_idx", "sig"])


def _plane_signs(n_planes: int, dim: int) -> List[List[int]]:
    """Deterministic ±1 hyperplanes: sign = parity of md5(plane:dim).
    Hash-derived, so every run/executor/engine builds identical planes."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).digest()[0]
            row.append(1 if h & 1 else -1)
        planes.append(row)
    return planes


def lsh_signature_col(vec_col: Column, planes: List[List[int]]) -> Column:
    """Bit-string signature: one bit per hyperplane (sign of projection)."""
    bits = []
    for row in planes:
        signs = F.array(*[F.lit(float(s)) for s in row])
        proj = _dot(vec_col, signs)
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def ann_lsh_topk(df: DataFrame, query: Sequence[float], k: int = 10,
                 n_planes: int = 8, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: exact cosine, but only within the query's
    hyperplane-signature bucket. At 10^12 vectors the signature is a
    partition/bucket column, so this is a partition-pruned scan of
    ~1/2^n_planes of the data instead of a full sweep."""
    planes = _plane_signs(n_planes, len(query))
    qsig = "".join(
        "1" if sum(s * float(x) for s, x in zip(row, query)) >= 0 else "0"
        for row in planes
    )
    bucketed = df.withColumn("lsh_sig", lsh_signature_col(F.col(vec_col), planes))
    candidates = bucketed.filter(F.col("lsh_sig") == F.lit(qsig))
    return cosine_topk(candidates, query, k, id_col, vec_col)


def _codebook_rows(df: DataFrame, vec_col: str, label_col: str):
    cents = pairwise_label_centroids(df, vec_col, label_col)
    return [(r[label_col], [float(x) for x in r["centroid"]]) for r in cents.collect()]


def _cell_assignment_col(vec_col: str, rows) -> Column:
    codebook = F.array(*[
        F.struct(
            F.lit(int(lab)).alias("cell"),
            F.array(*[F.lit(v) for v in c]).alias("c"),
        )
        for lab, c in rows
    ])
    cell_scores = F.transform(
        codebook,
        lambda s: F.struct(
            # zero-norm vector or centroid -> sentinel below any real
            # cosine (assignment still deterministic, job never aborts)
            F.coalesce(
                _cosine6(F.col(vec_col), s["c"]), F.lit(-2.0)
            ).alias("ccos"),
            s["cell"].alias("cell"),
        ),
    )
    return F.array_max(cell_scores)["cell"]


def assign_ivf_cells(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     label_col: str = "label") -> tuple:
    """Materialization step of the IVF index: nearest-centroid cell per
    vector, as a plain projection (the FAST evaluation path — see
    dedup.has_min_words for the measured Filter-vs-Project gap).

    Returns ``(assigned_df, codebook_rows)`` — the cells a real deployment
    WRITES ONCE, partitioned/bucketed by ``cell``, plus the codebook that
    MUST be persisted next to them: searches over a stored index have to
    pick probe cells against the codebook the cells were built with, never
    a recomputed one (the vector table may have grown since, which would
    silently desync probes from the stored assignment).
    """
    rows = _codebook_rows(df, vec_col, label_col)
    assigned = df.select(
        F.col(id_col), F.col(vec_col),
        _cell_assignment_col(vec_col, rows).alias("cell"),
    )
    return assigned, rows


def build_ivf_index(df: DataFrame, path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    label_col: str = "label") -> None:
    """Write the complete IVF index: ``{path}/cells`` partitioned by cell
    (partition-pruned probes) and ``{path}/codebook`` (the centroids the
    cells were assigned against)."""
    assigned, rows = assign_ivf_cells(df, id_col, vec_col, label_col)
    write_sharded(assigned, f"{path}/cells", "cell", "overwrite")
    spark = df.sparkSession
    spark.createDataFrame(
        [(int(lab), c) for lab, c in rows], "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook")


def load_ivf_index(spark, path: str) -> tuple:
    """Read back ``(assigned_df, codebook_rows)`` written by
    ``build_ivf_index`` — pass both to ``ann_ivf_topk``."""
    assigned = spark.read.parquet(f"{path}/cells")
    rows = [
        (r["cell"], [float(x) for x in r["centroid"]])
        for r in spark.read.parquet(f"{path}/codebook").collect()
    ]
    return assigned, rows


def ann_ivf_topk(df: DataFrame, query: Sequence[float], k: int = 10,
                 nprobe: int = 3, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 label_col: str = "label",
                 assigned: DataFrame = None,
                 codebook=None) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest centroid
    cell, then exact-cosine search only the ``nprobe`` cells nearest the
    query.

    Scale shape (the part that matters at 10^9+ vectors):

    * the centroid codebook is tiny, so it is **collected once and inlined
      as a literal array of structs** — cell assignment is then a pure
      map-side ``transform``/``array_max`` over that in-task codebook: no
      join, no shuffle, whole-stage codegen end-to-end;
    * probe-cell selection is a driver-side decision over the same tiny
      codebook (like the query literal itself);
    * the final exact rerank touches only ~nprobe/n_cells of the data; in a
      real deployment the cell id is a partition/bucket column so the scan
      itself prunes to the probed cells.

    Centroids here are per-label means (``pairwise_label_centroids``) —
    a deterministic stand-in for a trained k-means codebook, which keeps
    every arithmetic step SQL-expressible for the DuckDB oracle. All
    cosines are rounded to 6 dp before any argmax/rank so tie-breaks
    (higher label wins assignment; lower label wins probe order) are
    engine-independent.

    ``assigned`` + ``codebook``: pass both from ``load_ivf_index`` to
    search a stored index — probe cells are then chosen against the SAME
    codebook the cells were written with (no O(N) recomputation per query,
    no desync if the vector table grew since the index build), and the
    probe filter on the plain stored ``cell`` column partition-prunes at
    the scan. The ad-hoc form (no ``assigned``) computes both inline —
    fine for one-off queries, wrong for a serving index.
    """
    if assigned is not None and codebook is None:
        raise ValueError(
            "searching a stored IVF index requires the codebook it was "
            "built with (load_ivf_index returns both); recomputing "
            "centroids from the live table would silently desync probe "
            "selection from the stored cell assignment"
        )
    rows = codebook if codebook is not None else _codebook_rows(df, vec_col, label_col)

    def _py_cos(c):
        num = 0.0
        for a, b in zip(c, query):
            num += a * float(b)
        na = 0.0
        for a in c:
            na += a * a
        nb = 0.0
        for b in query:
            nb += float(b) * float(b)
        if na == 0.0 or nb == 0.0:  # degenerate centroid/query: rank last
            return -2.0
        return round(num / ((na ** 0.5) * (nb ** 0.5)), 6)

    probe = [lab for lab, _c in sorted(
        rows, key=lambda lc: (-_py_cos(lc[1]), lc[0])
    )[:nprobe]]

    if assigned is None:
        assigned = df.select(
            F.col(id_col), F.col(vec_col),
            _cell_assignment_col(vec_col, rows).alias("cell"),
        )
    candidates = assigned.filter(F.col("cell").isin(*[int(p) for p in probe]))
    return cosine_topk(candidates, query, k, id_col, vec_col)


def pairwise_label_centroids(df: DataFrame, vec_col: str = "embedding",
                             label_col: str = "label") -> DataFrame:
    """Per-label centroid vectors — the aggregation building block for IVF
    coarse quantisation (map-side partial aggregation of element-wise sums;
    one shuffle on the small label key)."""
    # Element-wise mean: posexplode once (fixed small dim), aggregate per
    # (label, pos) with map-side combine, reassemble ordered arrays.
    exploded = df.select(label_col, F.posexplode(vec_col).alias("pos", "val"))
    return (
        exploded.groupBy(label_col, "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("mean_val"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("mean_val")))
                ),
                lambda s: F.round(s["mean_val"], 6),
            ).alias("centroid")
        )
        .orderBy(label_col)
    )
