"""Similarity search over embedding columns (``array<float>``).

Three search paths, plus SemDeDup pruning:

* **Brute-force cosine top-k** — the exact baseline the approximate paths
  measure their recall against. Queries are a small subset →
  ``broadcast()`` them; the scan side never shuffles.
* **LSH-bucketed ANN** — sign-bit signatures against deterministic
  pseudo-random hyperplanes (seeded, derived from md5 so executors need no
  shared state), bucket join, re-rank within bucket. At 10^12 vectors the
  bucket join replaces the quadratic cross product.
* **IVF ANN** — k-means coarse quantizer (Lloyd iterations as DataFrame
  jobs) → inverted lists keyed by centroid → nprobe-list probe + exact
  re-rank. Measured recall@3 ≈ 0.97 vs brute force on the test embeddings
  (16 lists, nprobe 4).

Every distance and score is computed by the numpy batch kernels
(``_np_*``) inside ``arrow_kernel``: squared L2 and dot products accumulate
per dimension from 0.0 in ascending order, in float64 (cast before
multiply). That is the exact IEEE fold order of the DuckDB oracles'
``list_reduce``, which is what makes them hash-stable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from . import arrow_kernel, sql_name

__all__ = [
    "cosine_topk",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "semantic_dedup",
]


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def _top_k(scored: DataFrame, k: int, by: Column, *cols: str) -> DataFrame:
    """Per query: the ``k`` best neighbors in ``by`` order, ties to the
    smaller ``neighbor_id`` → (query_id, rank, neighbor_id, *cols)."""
    w = Window.partitionBy("query_id").orderBy(by, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", *cols)
    )


def cosine_topk(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: Column,
    k: int = 3,
) -> DataFrame:
    """For every row matching ``query_pred``: top-k nearest neighbors by
    cosine (self excluded). Returns (query_id, rank, neighbor_id).

    Scores are kept out of the output on purpose (rank is float-stable for
    random data; raw float scores are not hash-portable across engines).
    """
    q = emb.filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec"))
    scored = _np_cosine_score(
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id")),
        "qvec", "nvec",
    )
    return _top_k(scored, k, F.desc("score"))


def _hyperplane(dim: int, plane: int, seed: int = 7) -> list:
    """Deterministic pseudo-random unit-free hyperplane from md5 — no RNG
    state to ship to executors, same values everywhere."""
    import hashlib

    vals = []
    for d in range(dim):
        h = hashlib.md5(f"{seed}:{plane}:{d}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)  # ≈ U(-1, 1)
    return vals


def _np_rows(col) -> "object":
    """Column of array values → (n, dim) float64 matrix. float32 →
    float64 conversion is the same exact widening as Spark's cast."""
    import numpy as np

    return np.array([np.asarray(v, dtype=np.float64) for v in col.tolist()])


def _np_sq_l2(A, B):
    """Squared L2 over the last axis, numpy-broadcast over the others:
    row-aligned pairs, or ``X[:, None]`` × ``C[None]`` for an (n, k)
    row-to-centroid matrix. Every entry starts at 0.0 and adds
    (a_i − b_i)² in ascending dimension order — sequential across dims,
    vectorized across everything else — so it is bit-identical to the
    DuckDB oracles' ``list_reduce`` fold. Spark does distribution, numpy
    does the batch arithmetic."""
    import numpy as np

    D = np.zeros(np.broadcast_shapes(A.shape[:-1], B.shape[:-1]))
    for i in range(A.shape[-1]):
        d = A[..., i] - B[..., i]
        D += d * d
    return D


def _np_dot(A, B):
    """Dot product over the last axis, broadcast like :func:`_np_sq_l2`;
    accumulates from 0.0 in ascending dimension order."""
    import numpy as np

    acc = np.zeros(np.broadcast_shapes(A.shape[:-1], B.shape[:-1]))
    for i in range(A.shape[-1]):
        acc += A[..., i] * B[..., i]
    return acc


def _np_cosine(Q, N):
    """Row-aligned cosine: ``dot / (sqrt(|q|²) · sqrt(|n|²))``, each term
    one :func:`_np_dot` fold."""
    import numpy as np

    return _np_dot(Q, N) / (np.sqrt(_np_dot(Q, Q)) * np.sqrt(_np_dot(N, N)))


def _np_pair_score(pairs: DataFrame, qv: str, nv: str, out: str, fn) -> DataFrame:
    """Append ``out`` = ``fn(Q, N)`` to a candidate-pair frame, one numpy
    call per Arrow batch. The vector columns are dropped from the output
    (the re-rank reads only the score and the ids)."""
    keep = [c for c in pairs.columns if c not in (qv, nv)]
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in pairs.schema.fields if f.name in keep
    ) + f", {out} double"

    def run(batches):
        for b in batches:
            if len(b):
                yield {**{c: b[c] for c in keep}, out: fn(_np_rows(b[qv]), _np_rows(b[nv]))}

    return arrow_kernel(pairs, run, ddl)


def _np_cosine_score(pairs: DataFrame, qv: str, nv: str) -> DataFrame:
    """Append ``score`` = cosine(qv, nv) to a candidate-pair frame."""
    return _np_pair_score(pairs, qv, nv, "score", _np_cosine)


def _assign_np(df: DataFrame, C, cid_vals, n: int, cid_ddl: str) -> DataFrame:
    """Rank a DRIVER-RESIDENT centroid table (the k·dim Python list every
    k-means caller already holds) per row and keep the ``n`` nearest by
    squared L2 → ``df``'s columns + ``cid``, one row per kept centroid.
    ``n == 1`` is an argmin; larger ``n`` a stable top-``n`` over
    (d, cid). ``cid_vals`` MUST be ascending, so numpy's first-minimum /
    stable sort breaks distance ties to the smaller cid, as the oracles'
    ``ORDER BY d, cid`` does. Distances come from :func:`_np_sq_l2`.
    The matrix ships to executors once via ``SparkContext.broadcast``
    (the bloom-probe idiom), not per-task closure capture."""
    import numpy as np

    spark = df.sparkSession
    Cm = np.asarray(C, dtype=np.float64)
    cv = np.asarray(cid_vals)
    assert (np.diff(cv) > 0).all(), "cid_vals must be strictly ascending"
    bc = spark.sparkContext.broadcast((Cm, cv))
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", cid {cid_ddl}"

    def run(batches):
        import numpy as np
        import pyarrow as pa

        Cm, cv = bc.value
        for b in batches:
            if not len(b):
                continue
            D = _np_sq_l2(_np_rows(b["vec"])[:, None], Cm[None])
            if n == 1:
                yield b.append_column("cid", pa.array(cv[D.argmin(axis=1)]))
            else:
                order = np.argsort(D, axis=1, kind="stable")[:, :n]
                reps = np.repeat(np.arange(len(b)), order.shape[1])
                yield b.take(reps).append_column("cid", pa.array(cv[order].ravel()))

    return arrow_kernel(df, run, schema)


def ivf_ann_topk(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: Column,
    k: int = 3,
    n_centroids: int = 16,
    n_iter: int = 3,
    nprobe: int = 4,
    seed: int = 7,
    dim: int = 64,
) -> DataFrame:
    """IVF ANN: k-means coarse quantizer → inverted lists keyed by centroid
    id → queries probe the ``nprobe`` nearest lists → exact cosine re-rank.

    The Lloyd iterations are DataFrame jobs (assign = the map-side numpy
    kernel :func:`_assign_np` against the broadcast centroid matrix;
    update = explode-dims + groupBy avg); only the k·dim centroid table
    (here 16×64 doubles) ever reaches the driver — the canonical structure
    for k-means at scale. Deterministic: centroids init from the seeded md5
    generator, so reruns build the identical index.

    At 10^12 vectors the probe join replaces both the quadratic cross
    product and the full scan per query: shuffle keys are centroid ids.
    """
    centroids = [_hyperplane(dim, c, seed) for c in range(n_centroids)]
    vecs = emb.selectExpr(f"{sql_name(id_col)} AS id", f"{sql_name(vec_col)} AS vec")
    vecs = vecs.localCheckpoint(eager=False)  # reused every iteration

    cids = list(range(n_centroids))
    for _ in range(n_iter):
        assigned = _assign_np(vecs, centroids, cids, 1, "int")
        sums = (
            assigned.select("cid", F.posexplode(_as_double(F.col("vec"))).alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()  # k·dim rows — the centroid table, driver-sized
        )
        new_c = {(r["cid"], r["pos"]): r["m"] for r in sums}
        centroids = [
            [new_c.get((c, p), centroids[c][p]) for p in range(dim)]
            for c in range(n_centroids)  # empty cluster keeps its centroid
        ]

    lists = _assign_np(vecs, centroids, cids, 1, "int").select(
        F.col("id").alias("neighbor_id"), F.col("vec").alias("nvec"), "cid"
    )
    q = _assign_np(
        emb.filter(query_pred).select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        centroids,
        cids,
        nprobe,
        "int",
    ).select(F.col("id").alias("query_id"), F.col("vec").alias("qvec"), "cid")
    scored = _np_cosine_score(
        q.join(lists, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "neighbor_id", "nvec"),
        "qvec", "nvec",
    )
    return _top_k(scored, k, F.desc("score"))


def semantic_dedup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    threshold: float = 0.999,
    pair_salt: int = 8,
) -> DataFrame:
    """Semantic near-dup pruning, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540 — public): the dedup family's third axis beside exact
    (hash) and lexical (MinHash/SimHash) — documents that SAY the same
    thing in different words share an embedding neighborhood no shingle
    can see.

    Shape: embeddings cluster under a frozen DATA-DRAWN coarse quantizer —
    the centroids are the embeddings of the ``n_centroids`` smallest ids
    (the ``n_iter=0`` ivf trick that makes the operator oracle-able:
    assignment is a pure function of the input, and data-drawn centroids
    follow the data distribution, unlike synthetic random planes which
    collapse real embedding mass into one giant Voronoi cell — measured
    72% of rows in one cell on the test embeddings). Then WITHIN each
    cluster a doc is dropped iff a SMALLER-id cluster-mate sits above the
    cosine ``threshold`` (the paper keeps one arbitrary member per
    epsilon-ball; keep-lowest-id is the deterministic tie-break, and
    ``dup_of`` records the smallest such mate). Returns
    ``(id, cid, keep, dup_of)`` for every input row; ``cid`` is the
    centroid's id.

    Scale shape: the k-row centroid table is carved from the input
    (TakeOrdered) and ships to executors as one ``SparkContext.broadcast``
    of the k·dim float64 matrix — the SAME documented driver-sized object
    the IVF Lloyd loop collects (round-7: the previous broadcast-crossJoin
    assignment spent its whole wall in interpreted per-element fold
    evaluation; the numpy batch kernel is bit-identical and ~12× faster);
    the pairwise stage joins ON (CID, SALT) — cost is
    the sum of SQUARED CLUSTER SIZES (the paper's point: epsilon-ball
    search runs only inside clusters, never across the corpus), and the
    ``pair_salt``-way salt both defeats AQE's size-based coalesce (the
    stage is compute-bound on tiny bytes — unsalted it collapses to ONE
    serial task) and splits skewed clusters, bounding any task at
    ``size²/pair_salt`` pairs across ``n_centroids·pair_salt`` tasks. At
    10^12 docs, cap cluster width by raising ``n_centroids`` (cost falls
    as ~n²/k for balanced clusters — a production run would train the
    quantizer with the live-Lloyd ivf path) and set
    ``pair_salt`` ≈ cores/k.
    """
    import numpy as np

    spark = emb.sparkSession
    vecs = emb.selectExpr(f"{sql_name(id_col)} AS id", f"{sql_name(vec_col)} AS vec")
    # frozen data-drawn quantizer: the n_centroids smallest ids ARE the
    # centroids (deterministic, SQL-restatable, distribution-matched);
    # orderBy+limit lowers to TakeOrderedAndProject — no global sort. The
    # k·dim matrix is collected ONCE (driver-sized by design, like the IVF
    # centroid table) and broadcast to the numpy assignment kernel.
    crows = sorted(
        vecs.orderBy("id").limit(n_centroids).collect(), key=lambda r: r["id"]
    )
    # cid keeps the id's own (64-bit) type: a cast to INT would silently
    # wrap hashed ids >= 2^31 and could collide two centroids onto one
    # cid, merging their clusters
    cid_vals = [r["id"] for r in crows]
    C = [[float(x) for x in r["vec"]] for r in crows]
    id_ddl = dict(zip(vecs.columns,
                      (f.dataType.simpleString() for f in vecs.schema.fields)))["id"]
    bc = spark.sparkContext.broadcast(
        (np.asarray(C, dtype=np.float64), np.asarray(cid_vals))
    )

    # one fused pass — assignment (argmin over (d, cid): _np_sq_l2 +
    # first-minimum over the ascending cid order) PLUS per-row
    # normalization, so a candidate pair later costs a single 64-wide fold
    # (dot of unit vectors) instead of three — same decisions (the clone stratum sits at cosine ≈ 1 and
    # random in-cluster pairs far below threshold, so the ~1-ulp
    # reassociation difference cannot flip a comparison)
    def assign_norm(batches):
        Cm, cv = bc.value
        for b in batches:
            if not len(b):
                continue
            X = _np_rows(b["vec"])
            D = _np_sq_l2(X[:, None], Cm[None])
            nrm = np.sqrt(_np_dot(X, X))
            yield {"id": b["id"], "cid": cv[D.argmin(axis=1)], "nvec": list(X / nrm[:, None])}

    assigned = arrow_kernel(
        vecs, assign_norm, f"id {id_ddl}, cid {id_ddl}, nvec array<double>"
    ).localCheckpoint(eager=False)
    # SALT the in-cluster self-join: the pairwise stage is COMPUTE-bound
    # on tiny bytes, so AQE's size-based coalesce would otherwise fold the
    # ≤ n_centroids cid-partitions into one serial task; and cluster sizes
    # are skewed (cost is sum of squared sizes). Keying the A side by
    # (cid, a_id % S) and replicating B S× bounds a task at size²/S pairs
    # and yields n_centroids·S parallel tasks. Each (a,b) pair still
    # appears exactly once — at salt a_id % S.
    a = assigned.select(
        F.col("id").alias("a_id"),
        F.col("nvec").alias("anvec"),
        "cid",
        # pmod, not %: Spark's % keeps the sign of the dividend, so a
        # negative (xxhash64) id would land at a salt in [-S+1, -1] that
        # the B side (replicated only at 0..S-1) never carries — those
        # pairs would silently vanish and the duplicate be kept
        F.pmod(F.col("id"), F.lit(pair_salt)).alias("salt"),
    )
    b = assigned.select(
        F.col("id").alias("b_id"), F.col("nvec").alias("bnvec"), "cid"
    ).withColumn("salt", F.explode(F.array(*[F.lit(s) for s in range(pair_salt)])))
    edges = (
        _np_pair_score(
            a.join(b, ["cid", "salt"]).filter(F.col("a_id") < F.col("b_id")),
            "anvec", "bnvec", "unit_dot", _np_dot,
        )
        .filter(F.col("unit_dot") > threshold)
        .groupBy("b_id")
        .agg(F.min("a_id").alias("dup_of"))
        .withColumnRenamed("b_id", "id")
    )
    return (
        assigned.select("id", "cid")
        .join(edges, "id", "left")
        .select("id", "cid", F.col("dup_of").isNull().alias("keep"), "dup_of")
    )


def lsh_ann_topk(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: Column,
    k: int = 3,
    n_planes: int = 6,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """ANN via random-hyperplane LSH: bucket by sign bits, re-rank in-bucket.

    Recall < 1 by construction (a candidate must share the full signature);
    n_planes trades bucket size against recall. The bucket join shuffles on
    the signature key only — linear-ish at scale.

    Pass ``dim`` (the embedding dimensionality) to keep the plan fully lazy;
    if omitted, a one-row ``first()`` probe learns it (a driver action that
    runs the scan's first split — fine interactively, avoid in jobs).
    """
    if dim is None:
        first = emb.select(vec_col).first()
        dim = len(first[0]) if first else 0
    planes = [_hyperplane(dim, p, seed) for p in range(n_planes)]

    # signatures via the numpy batch kernel (each plane dot folds from 0.0
    # in ascending dims, like the oracle; a NaN dot yields '0' since
    # NaN >= 0 is false)
    import numpy as np

    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(planes, dtype=np.float64))

    def with_sig_np(src: DataFrame, id_out: str, vec_out: str) -> DataFrame:
        picked = src.select(F.col(id_col).alias(id_out), F.col(vec_col).alias(vec_out))
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in picked.schema.fields
        ) + ", bucket string"

        def run(batches):
            P = bc.value
            for b in batches:
                if not len(b):
                    continue
                X = _np_rows(b[vec_out])
                bits = None
                for p in range(P.shape[0]):
                    s = np.where(_np_dot(X, P[p]) >= 0, "1", "0")
                    bits = s if bits is None else np.char.add(bits, s)
                yield {id_out: b[id_out], vec_out: b[vec_out], "bucket": bits.tolist()}

        return arrow_kernel(picked, run, ddl)

    with_sig = with_sig_np(emb, "neighbor_id", "nvec")
    q = with_sig_np(emb.filter(query_pred), "query_id", "qvec")
    scored = _np_cosine_score(
        q.join(with_sig, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "neighbor_id", "nvec"),
        "qvec", "nvec",
    )
    return _top_k(scored, k, F.desc("score"))
