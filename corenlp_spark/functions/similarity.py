"""Similarity search over embedding columns (``array<float>``).

  - brute-force cosine top-k (``brute_force_topk``, ``pairwise_topk``):
    exact baselines, pure ``F.aggregate``/``zip_with`` arithmetic
    (JVM-side, codegen'd — no Python in the hot path);
  - k-means (``train_centroids``, ``kmeans_cluster_summary``): distributed
    Lloyd iterations over the Arrow nearest-centroid kernel
    ``_assign_kernel``;
  - ANN near-duplicate pairs, each posting vectors to buckets and verifying
    pairs exactly inside them through ``bucket_pairs``, the one in-bucket
    verifier (shared with ``dedup.minhash_dup_pairs``'s Jaccard verify and
    ``dedup.simhash_pairs_from_sigs``' hamming verify): ``ivf_ann_pairs``
    buckets by nearest centroid (one cell per vector), ``lsh_ann_pairs`` by
    random-hyperplane signatures (deterministic seeded planes, one bucket
    per band). No O(n²) cross product and no candidate-pair join.

Every function reads the fixed embedding columns ``vec_id, embedding``;
the ANN pair searches emit (id_a, id_b, score), id_a < id_b.

Design for 100 TB: the query side is tiny (broadcast); the corpus side
streams. Scores are rounded to 1e-6 like ``F.round(x, 6)`` for
engine-portable comparison.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def _dot(a, b):
    # multiply in float64: float32 products drift past the 1e-6 rounding used
    # for engine-portable comparison (DuckDB accumulates in double)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    # square in float64 like _dot: float32 squares round before the sum and
    # can flip a 1e-6-rounded score vs the DuckDB DOUBLE[] oracle
    return F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    ))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(emb: DataFrame, query: list[float], k: int = 10) -> DataFrame:
    """Exact top-k by cosine to a single query vector (query broadcast as a
    literal array — no join at all)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = emb.select(
        "vec_id", F.round(cosine(F.col("embedding"), q), 6).alias("score"))
    return scored.orderBy(F.desc("score"), "vec_id").limit(k)


def pairwise_topk(emb: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k neighbors per vector (small-N baseline; the ANN path below
    is the scale version of this)."""
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"))
    scored = (
        a.crossJoin(b)
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine("v_a", "v_b"), 6).alias("score"))
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("score"), F.col("id_b"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


#: LCG seed of ``_planes``: the LSH planes and the default IVF / k-means
#: centroids, which the DuckDB oracles inline as literals
PLANE_SEED = 42


def _planes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — reproducible anywhere)."""
    out = []
    state = PLANE_SEED
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / float(1 << 31)) * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in row)) or 1.0
        out.append([x / n for x in row])
    return out


def _dots(embeddings, M):
    """(rows, D): the positions of the non-NULL vectors in ``embeddings``
    and their dot products with each column of ``M`` (dim × m), stacked in
    float64 and accumulated SEQUENTIALLY over the dimension axis — the op
    order of the ``_dot`` fold and DuckDB's list_dot_product, so every
    score keeps its bits. A NULL vector has no dot product, as SQL
    ``cosine`` gives it a NULL score."""
    import numpy as np

    rows = np.flatnonzero([v is not None for v in embeddings])
    D = np.zeros((len(rows), M.shape[1]))
    if len(rows):
        V = np.stack([np.asarray(embeddings[i], dtype=np.float64) for i in rows])
        for k in range(V.shape[1]):
            D = D + V[:, k, None] * M[None, k, :]
    return rows, D


def _assign_kernel(cents, carry: tuple[str, ...] = (),
                   with_score: bool = False):
    """Arrow-batched nearest-centroid (argmax-dot) assignment of each
    non-NULL ``embedding`` → ``cell``, then the ``carry`` columns as they
    came in, then the winning dot ``s`` when ``with_score``. Dot products
    are ``_dots`` and ties break toward the LARGER cell (an ``array_max``
    over (score, cell) structs), so the DuckDB oracles replay it
    bit-for-bit. A row with a NULL embedding gets no cell."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    C = np.array(cents, dtype=np.float64)  # (k, dim)

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows, S = _dots(pdf["embedding"].values, C.T)
            if not len(rows):
                continue
            # last argmax = larger cell wins exact ties
            cell = (C.shape[0] - 1) - np.argmax(S[:, ::-1], axis=1)
            out = {"cell": cell.astype(np.int32)}
            for c in carry:
                out[c] = pdf[c].values[rows]
            if with_score:
                out["s"] = S[np.arange(len(rows)), cell]
            yield pd.DataFrame(out)

    return kern


def train_centroids(
    emb: DataFrame, dim: int, k: int = 16, iters: int = 5,
) -> list[list[float]]:
    """Distributed Lloyd k-means for the IVF coarse quantizer: assignment
    and per-dimension means run as DataFrame aggregations (one shuffle per
    iteration, map-side partial means); only the k×dim centroid table ever
    reaches the driver — the standard k-means-on-Spark shape that holds at
    any corpus size. Deterministic: seeded-unit-vector init, fixed
    iteration count, no RNG. Assignment runs as the Arrow/numpy kernel
    ``_assign_kernel``."""
    from pyspark.sql import functions as F

    cents = _planes(dim, k)
    for _ in range(iters):
        celed = emb.select("embedding").mapInPandas(
            _assign_kernel(cents, carry=("embedding",)),
            schema="cell int, embedding array<float>")
        means = (
            celed.select("cell", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cell", "pos").agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("ms"))
            .collect()
        )
        new_cents = list(cents)
        for r in means:
            v = [float(s["m"]) for s in r["ms"]]
            norm = sum(x * x for x in v) ** 0.5
            if norm > 1e-9:
                new_cents[r["cell"]] = [x / norm for x in v]
        cents = new_cents
    return cents


def bucket_pairs(
    posted: DataFrame, keys: tuple[str, ...], verify, id_col: str,
    out: tuple[str, str, str] = ("id_a", "id_b", "score"),
    band_keys: str | None = None,
) -> DataFrame:
    """The one in-bucket pair verifier behind ``ivf_ann_pairs``,
    ``lsh_ann_pairs`` (cosine), ``dedup.minhash_dup_pairs`` (Jaccard) and
    ``dedup.simhash_pairs_from_sigs`` (hamming), which differ only in how
    rows are posted to buckets (named by ``keys``) and in ``verify``.

    A hash repartition on ``keys`` co-locates each bucket; one Arrow kernel
    per partition groups the partition by ``keys`` (one pandas groupby,
    not one dispatch per bucket), sorts each bucket by ``id_col`` and walks
    its upper triangle in row blocks of at most 2^20 cells, so each pair
    comes out once with id_a < id_b (two rows sharing an id never pair).
    With ``band_keys`` (multi-band LSH), ``keys[0]`` is the band and
    ``band_keys`` the array of the row's keys in every band: the
    first-collision rule drops a pair when any lower band's key agrees, so
    no dedup exchange exists.

    ``verify(part)`` prepares the partition once and returns
    ``score(pa, pb) -> (keep, score)`` over candidate pairs given as row
    positions, called on batches of ~2^20 pairs across buckets. Output
    columns are ``out``, with ``posted``'s id type and a double score.
    Peak task memory follows the partition, not the bucket (ROADMAP
    item 2)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    id_type = posted.schema[id_col].dataType.simpleString()
    cap = 1 << 20

    def candidates(pdf, ids):
        K = np.array([list(v) for v in pdf[band_keys]]) if band_keys else None
        pa, pb, n = [], [], 0
        for key, rows in pdf.groupby(list(keys), sort=False).indices.items():
            rows = rows[np.argsort(ids[rows], kind="stable")]
            step = max(1, cap // len(rows))
            for i0 in range(0, len(rows) - 1, step):
                # block row r is bucket row i0 + r, column c is i0 + 1 + c
                top, rest = rows[i0:i0 + step], rows[i0 + 1:]
                cand = np.arange(len(top))[:, None] <= np.arange(len(rest))
                for b in range(key[0] if band_keys else 0):
                    cand &= K[top, b][:, None] != K[rest, b]
                ii, jj = np.nonzero(cand)
                pa.append(top[ii])
                pb.append(rest[jj])
                n += len(ii)
                if n >= cap:
                    yield np.concatenate(pa), np.concatenate(pb)
                    pa, pb, n = [], [], 0
        if pa:
            yield np.concatenate(pa), np.concatenate(pb)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        # a single-row bucket holds no pair
        pdf = pdf[pdf.duplicated(list(keys), keep=False)].reset_index(drop=True)
        if not len(pdf):
            return
        ids = pdf[id_col].values
        # integer codes: comparing string ids pair by pair costs ~7× more
        id_code = pd.factorize(ids)[0]
        score = verify(pdf)
        for a, b in candidates(pdf, ids):
            keep, s = score(a, b)
            keep &= id_code[a] != id_code[b]
            yield pd.DataFrame({out[0]: ids[a[keep]], out[1]: ids[b[keep]],
                                out[2]: s[keep]})

    return posted.repartition(*keys).mapInPandas(
        run, schema=f"{out[0]} {id_type}, {out[1]} {id_type}, {out[2]} double")


def _cosine_verify(threshold: float):
    """``bucket_pairs`` verify: exact cosine, rounded like
    ``F.round(x, 6)``, kept when ≥ ``threshold``. Dot products and norms
    are vectorized over pairs but accumulated SEQUENTIALLY over the
    dimension axis in float64 — bit-identical to the left-to-right
    ``F.aggregate`` fold of ``cosine`` (and DuckDB's ``list_dot_product``),
    so the DuckDB oracles' scores hash-match."""
    import numpy as np

    from corenlp_spark.functions.textstats import _round6_like_spark_array

    def verify(part):
        # (dim, n): one contiguous row per dimension, gathered per pair
        VT = np.stack([np.asarray(v, dtype=np.float64)
                       for v in part["embedding"]], axis=1)
        nrm = np.zeros(VT.shape[1])
        for x in VT:
            nrm = nrm + x * x
        nrm = np.sqrt(nrm)

        def score(pa, pb):
            acc = np.zeros(len(pa))
            for x in VT:
                acc = acc + x[pa] * x[pb]
            s = _round6_like_spark_array(acc / (nrm[pa] * nrm[pb]))
            return s >= threshold, s

        return score

    return verify


def ivf_ann_pairs(
    emb: DataFrame, dim: int, n_cells: int = 16, threshold: float = 0.7,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: assign each vector to its nearest centroid (coarse
    quantizer), then verify every pair inside its cell exactly:
    (id_a, id_b, score), id_a < id_b. Default centroids are seeded unit
    vectors; pass ``centroids=train_centroids(…)`` for the Lloyd-trained
    quantizer.

    The assignment kernel posts each vector once, with its id, to its cell
    and ``bucket_pairs`` verifies the cell with ``_cosine_verify``: the
    only exchange carries each vector once, and there is no candidate-pair
    join. A cell is one bucket, so a task holds its whole partition of
    cells — memory is partition-bounded, as for the LSH, minhash and
    simhash verifies (ROADMAP item 2)."""
    cents = centroids if centroids is not None else _planes(dim, n_cells)
    id_type = emb.schema["vec_id"].dataType.simpleString()
    posted = emb.select("vec_id", "embedding").mapInPandas(
        _assign_kernel(cents, carry=("vec_id", "embedding")),
        schema=f"cell int, vec_id {id_type}, embedding array<float>")
    return bucket_pairs(posted, ("cell",), _cosine_verify(threshold), "vec_id")


def lsh_ann_pairs(
    emb: DataFrame, dim: int, n_bands: int = 4, band_bits: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """ANN near-neighbor pairs: random-hyperplane LSH bucketing + exact
    cosine verification. (id_a, id_b, score), id_a < id_b.

    An Arrow-batched kernel computes the signatures (plane dots by
    ``_dots``, folded like ``cosine``) and posts each non-NULL
    vector ONCE per band into its (band, sig) bucket, carrying its full
    per-band signature vector; ``bucket_pairs`` then verifies every pair
    inside the bucket with ``_cosine_verify``, dropping a pair in all
    but the LOWEST band whose signatures agree. The plan's only exchange
    is n_bands × corpus vectors (the minimum any bucket verify needs): no
    candidate-pair join, no dedup exchange, no per-pair vector re-attach.
    Per-bucket work is quadratic in bucket size."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    planes = _planes(dim, n_bands * band_bits)
    P = np.array(planes, dtype=np.float64).T  # dim × (bands·bits)
    pow2 = np.array([2 ** j for j in range(band_bits)], dtype=np.int64)

    def post(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows, D = _dots(pdf["embedding"].values, P)
            if not len(rows):
                continue
            bits = (D >= 0).astype(np.int64)
            sigs = np.stack([
                bits[:, b * band_bits:(b + 1) * band_bits] @ pow2
                for b in range(n_bands)
            ], axis=1)  # (n, n_bands)
            yield pd.concat([pd.DataFrame({
                "vec_id": pdf["vec_id"].values[rows], "band": band,
                "sig": sigs[:, band], "sigs": list(sigs),
                "embedding": pdf["embedding"].values[rows],
            }) for band in range(n_bands)], ignore_index=True)

    id_type = emb.schema["vec_id"].dataType.simpleString()
    posted = emb.select("vec_id", "embedding").mapInPandas(
        post, schema=(f"vec_id {id_type}, band int, sig long, "
                      "sigs array<long>, embedding array<float>"))
    return bucket_pairs(posted, ("band", "sig"), _cosine_verify(threshold),
                        "vec_id", band_keys="sigs")


def kmeans_cluster_summary(
    emb: DataFrame, dim: int, k: int = 8, iters: int = 2,
) -> DataFrame:
    """Embedding-space clustering summary — the topic/domain bucketing stage
    of a training-data pipeline (cluster-then-sample curation, per-cluster
    mixing weights): train the distributed Lloyd quantizer
    (``train_centroids`` — one shuffle per iteration, only k×dim floats at
    the driver), assign every vector to its argmax-dot centroid in one
    Arrow-kernel pass (``_assign_kernel``), and aggregate (cell, n_vecs,
    avg_score).

    Deterministic end-to-end (seeded-LCG init, fixed iterations, explicit
    tie-break toward the larger cell), so a DuckDB oracle replays the full
    training loop in SQL and must land on identical assignments."""
    from pyspark.sql import functions as F

    cents = train_centroids(emb, dim, k=k, iters=iters)
    assigned = emb.select("embedding").mapInPandas(
        _assign_kernel(cents, with_score=True),
        schema="cell int, s double")
    return (
        assigned.groupBy("cell")
        .agg(F.count("*").alias("n_vecs"),
             F.round(F.avg("s"), 6).alias("avg_score"))
    )
