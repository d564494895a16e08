"""Similarity search over an embedding column (array<float>).

Four paths, mirroring what a 100 TB training-data pipeline needs:

- **brute-force cosine top-k** — the exact baseline: broadcast the
  (small) query set against the corpus, dot products via ``zip_with`` +
  ``aggregate`` (JVM-side, codegen'd — no Python), rank per query.
- **sign-LSH bucketed ANN** — a scale path: bucket = seeded
  random-hyperplane sign bits (deterministic, SQL-portable).
  Candidates only compare within their bucket (+ Hamming multiprobe),
  turning the n×m cross product into an equi-join on bucket id.
- **IVF (inverted-file) ANN** — the other scale path: corpus vectors
  are inverted-listed under their nearest coarse centroid (one
  JVM-side projection pass); queries probe only their ``nprobe``
  nearest lists. Seeded unit-vector centroids keep the oracle twin
  exact; ``train_ivf_centroids`` refines them with sample-based
  spherical k-means when index quality matters (the FAISS recipe).
- **product quantization (PQ/ADC, and IVF+PQ composed)** — the memory
  scale path: corpus vectors collapse to ``m`` codebook ids (32× less
  than float32 at the defaults); queries score candidates from a
  per-query lookup table without ever touching raw corpus vectors
  again. See the PQ section at the bottom of this module.

Recall < 1 by construction for the ANN paths; the oracle runs the
identical bucketed algorithm so correctness-of-implementation is still
exactly checkable.

All cosine math is done in double precision (embeddings cast up from
float32) and rounded to 4 decimals before ranking, with doc-id
tie-breaks, so Spark and the DuckDB oracle produce identical rankings.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stablemath import stable_round


def _cos(a, b):
    """Cosine similarity of two array<double> columns, JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return dot / (na * nb)


def _dbl(col):
    return F.col(col).cast("array<double>")


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id.

    The query side is a handful of rows → broadcast join; the corpus
    side streams map-side with zero shuffle until the final per-query
    top-k (a groupBy on query_id over ≤ |queries|·|corpus| narrow rows
    — at scale, replace the rank with a per-partition partial top-k and
    a tree-reduce merge; semantics identical).
    """
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), _dbl(vec_col).alias("qv")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), _dbl(vec_col).alias("cv"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(_cos(F.col("qv"), F.col("cv")), 4).alias("cosine"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_arrow(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors — the Arrow/numpy scale path.

    Same semantics as :func:`cosine_topk` (gated by a parity test), a
    different physical shape for wide embeddings and huge corpora: the
    query matrix broadcasts to every task, each Arrow batch computes
    ALL similarities as one numpy matmul and emits only its PARTIAL
    top-k per query, and a tiny global rank merges |batches|·|Q|·k
    candidate rows. Versus the Catalyst expression path this replaces
    O(|C|·|Q|) shuffled narrow rows with O(batches·|Q|·k), and the
    per-element expression tree with BLAS — the win grows with
    embedding width. Partial top-k per batch is exact because every
    batch contributes its k best under the SAME (-cosine, neighbor_id)
    order the global rank uses.
    """
    import numpy as np
    import pandas as pd

    q_rows = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )
    q_ids = [r[0] for r in q_rows]
    qm = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-300)
    spark = emb.sparkSession
    b_q = spark.sparkContext.broadcast((q_ids, qn))

    id_dtype = dict(emb.dtypes)[id_col]
    out_schema = (
        f"query_id {id_dtype}, neighbor_id {id_dtype}, cosine double"
    )

    def part(batches):
        ids, qnm = b_q.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            Cn = C / np.maximum(
                np.linalg.norm(C, axis=1, keepdims=True), 1e-300
            )
            sims = Cn @ qnm.T  # (n, |Q|)
            nids = pdf[id_col].to_numpy()
            out = {"query_id": [], "neighbor_id": [], "cosine": []}
            kk = min(k + 1, len(nids))  # +1 absorbs a self-match
            for qi, qid in enumerate(ids):
                # round BEFORE selecting and break ties on neighbor_id —
                # the exact order the global rank uses, so a batch's
                # partial top-k can never drop a row the global top-k
                # would have kept
                col = np.round(sims[:, qi], 4)
                order = np.lexsort((nids, -col))[:kk]
                for j in order:
                    if nids[j] == qid:
                        continue
                    out["query_id"].append(qid)
                    out["neighbor_id"].append(nids[j])
                    out["cosine"].append(float(col[j]))
            yield pd.DataFrame(out)

    partial = emb.select(id_col, vec_col).mapInPandas(part, out_schema)
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_oracle_sql(
    query_ids: list[int], k: int = 5, table: str = "embeddings"
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM {table} WHERE vec_id IN ({ids})),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM {table}),
    scored AS (
        SELECT query_id, neighbor_id,
               CAST(floor((list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))) * 10000.0 + 0.5) / 10000.0 AS DOUBLE) AS cosine
        FROM q, c WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


LSH_SEED = 42
LSH_DIM = 64  # embeddings table dimension (TESTDATA.md)


def lsh_hyperplanes(
    dim: int = LSH_DIM, n_bits: int = 16, seed: int = LSH_SEED
) -> list[list[float]]:
    """Deterministic random-hyperplane matrix for sign-LSH.

    Gaussian rows (the standard SimHash/random-projection family),
    rounded to 6 decimals so the same matrix embeds EXACTLY into both
    the Spark plan and the DuckDB oracle as double literals — both
    engines then evaluate the identical left-to-right double dot
    product, so bucket ids agree bit-for-bit. Round 1 used the sign
    bits of the first 4 raw dims (16 buckets — a real scale ceiling,
    VERDICT.md next-round #6); proper seeded hyperplanes decorrelate
    the bits from any one axis and scale to arbitrary n_bits.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    h = rng.standard_normal((n_bits, dim))
    return [[float(round(v, 6)) for v in row] for row in h]


def _proj(vec, row: list[float]):
    """JVM-side dot(vec, row) — left-to-right fold, matching the
    oracle's literal a1*v[1] + a2*v[2] + ... evaluation order."""
    arr = F.array(*[F.lit(v) for v in row])
    return F.aggregate(
        F.zip_with(vec, arr, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _bucket(vec, hp: list[list[float]]):
    """Sign-LSH bucket id: bit i set iff dot(vec, hp[i]) >= 0."""
    out = F.lit(0).cast("long")
    for i, row in enumerate(hp):
        out = out + (_proj(vec, row) >= 0).cast("long") * F.lit(1 << i)
    return out


def _bucket_sql(hp: list[list[float]], vec_sql: str = "embedding") -> str:
    """The same bucket id as a SQL expression (DuckDB oracle twin)."""
    bits = []
    for i, row in enumerate(hp):
        dot = " + ".join(
            f"({v!r} * {vec_sql}[{j + 1}])" for j, v in enumerate(row)
        )
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(bits)


def _probe_masks(n_bits: int, multiprobe: int) -> list[int]:
    """Bucket-id XOR masks to probe: Hamming distance ≤ multiprobe.

    multiprobe=1 (the default) probes the query's own bucket plus every
    1-bit-flip neighbor — n_bits+1 buckets. Fan-out rides only on the
    tiny broadcast query side; corpus rows are never duplicated.
    """
    masks = [0]
    if multiprobe >= 1:
        masks += [1 << i for i in range(n_bits)]
    if multiprobe >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_bits)
            for j in range(i + 1, n_bits)
        ]
    return masks


def ann_lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_bits: int = 16,
    multiprobe: int = 1,
    dim: int = LSH_DIM,
    seed: int = LSH_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket plus its Hamming-≤``multiprobe`` neighbor buckets.

    10^12-row shape: corpus rows are bucketed once (one JVM-side
    projection pass, no shuffle), the query side (|queries| ×
    |probe masks| rows) is broadcast, and the candidate search is one
    equi-join on bucket id. With n_bits=16 there are 65,536 buckets —
    each candidate set is ~corpus/2^16 per probe — and multiprobe
    recovers the recall a single bucket loses. Buckets are disjoint, so
    probing needs no dedup.
    """
    hp = lsh_hyperplanes(dim, n_bits, seed)
    with_b = emb.select(
        F.col(id_col).alias("neighbor_id"),
        _dbl(vec_col).alias("cv"),
        _bucket(_dbl(vec_col), hp).alias("bucket"),
    )
    masks = _probe_masks(n_bits, multiprobe)
    q = (
        with_b.filter(F.col("neighbor_id").isin(query_ids))
        .select(
            F.col("neighbor_id").alias("query_id"),
            F.col("cv").alias("qv"),
            F.col("bucket").alias("qbucket"),
        )
        .withColumn(
            "mask", F.explode(F.array(*[F.lit(m) for m in masks]))
        )
        .withColumn("bucket", F.col("mask").bitwiseXOR(F.col("qbucket")))
        .drop("mask", "qbucket")
    )
    scored = (
        F.broadcast(q)
        .join(with_b, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(_cos(F.col("qv"), F.col("cv")), 4).alias("cosine"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ann_lsh_oracle_sql(
    query_ids: list[int],
    k: int = 5,
    n_bits: int = 16,
    multiprobe: int = 1,
    dim: int = LSH_DIM,
    seed: int = LSH_SEED,
    table: str = "embeddings",
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    bucket = _bucket_sql(lsh_hyperplanes(dim, n_bits, seed))
    masks = ", ".join(
        f"({m})" for m in _probe_masks(n_bits, multiprobe)
    )
    return f"""
    WITH wb AS (
        SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
               ({bucket}) AS bucket
        FROM {table}
    ),
    q AS (SELECT neighbor_id AS query_id, cv AS qv,
                 xor(bucket, probes.mask) AS bucket
          FROM wb CROSS JOIN (VALUES {masks}) probes(mask)
          WHERE neighbor_id IN ({ids})),
    scored AS (
        SELECT query_id, wb.neighbor_id,
               CAST(floor((list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))) * 10000.0 + 0.5) / 10000.0 AS DOUBLE) AS cosine
        FROM q JOIN wb USING (bucket)
        WHERE query_id <> wb.neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


# --- IVF (inverted-file) ANN --------------------------------------------------

IVF_SEED = 77


def ivf_centroids(
    dim: int = LSH_DIM, n_centroids: int = 16, seed: int = IVF_SEED
) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids: seeded Gaussian unit
    vectors rounded to 6 decimals, embedding EXACTLY into both the
    Spark plan and the DuckDB oracle as double literals (the
    lsh_hyperplanes discipline). Random directions are spherical
    k-means at iteration 0 — ``train_ivf_centroids`` refines them on a
    driver-bounded sample when index quality matters more than a
    SQL-checkable twin (FAISS trains IVF quantizers on samples the same
    way)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_centroids, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return [[float(round(v, 6)) for v in row] for row in c]


def train_ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    seed: int = IVF_SEED,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Spherical k-means (Lloyd) on a bounded driver sample — the
    standard IVF training recipe: assignment over the full corpus is
    the only full-data pass; training never needs one. Deterministic:
    seeded init, fixed iteration count, and the sample is the ``sample``
    LOWEST ids (a bare ``limit`` takes whichever partitions answer
    first and would break run-to-run reproducibility)."""
    import numpy as np

    rows = (
        emb.select(F.col(id_col).alias("i"), _dbl(vec_col).alias("v"))
        .orderBy("i")
        .limit(int(sample))
        .collect()
    )
    x = np.array([r.v for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    c = np.array(ivf_centroids(x.shape[1], n_centroids, seed))
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(n_centroids):
            members = x[assign == j]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    c[j] = m / n
    return [[float(round(v, 6)) for v in row] for row in c]


def _dot_fold(a, b):
    """Left-fold dot of two array<double> columns: ((0+t1)+t2)+... —
    the exact evaluation order of the oracle's literal +-chain (IEEE:
    0.0 + t1 == t1), so values match the SQL twins bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _ivf_dots(vec, cents: list[list[float]]):
    """One exact literal-fold dot product per centroid (JVM-side)."""
    return [_proj(vec, row) for row in cents]


def _ivf_qdots(vec, cents: list[list[float]]):
    """Query-side (cid, dot) struct array via ONE nested-array literal
    + higher-order functions — the centroid matrix rides as data, not
    as thousands of expression nodes (plan build + task-binary size
    stay O(1) in n_centroids; values identical to the literal folds)."""
    cent = F.lit([list(r) for r in cents])
    return F.transform(
        cent,
        lambda row, i: F.struct(
            i.cast("int").alias("cid"), _dot_fold(vec, row).alias("dot")
        ),
    )


def _ivf_assign(vec, cents: list[list[float]]):
    """argmax-by-dot centroid id, ties to the LOWEST cid (first max).

    Nested-literal + HOF form: the dot values are the same doubles the
    oracle's greatest+CASE evaluates (same products, same left-assoc
    sum order), and first-occurrence array_position implements the
    identical tie rule — assignments agree bit-for-bit while the plan
    stays O(1) nodes in n_centroids (the greatest+CASE form put ~2k
    literal terms in the corpus projection and dominated wall time via
    plan build + codegen fallback)."""
    cent = F.lit([list(r) for r in cents])
    dots = F.transform(cent, lambda row: _dot_fold(vec, row))
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def _ivf_dot_sql(row: list[float], vec_sql: str = "embedding") -> str:
    return " + ".join(
        f"({v!r} * {vec_sql}[{j + 1}])" for j, v in enumerate(row)
    )


def _ivf_assign_sql(cents: list[list[float]], vec_sql: str = "embedding") -> str:
    dots = [_ivf_dot_sql(row, vec_sql) for row in cents]
    g = "greatest(" + ", ".join(f"({d})" for d in dots) + ")"
    whens = " ".join(
        f"WHEN ({d}) = {g} THEN {cid}" for cid, d in enumerate(dots)
    )
    return f"(CASE {whens} END)"


def ann_ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = LSH_DIM,
    seed: int = IVF_SEED,
    centroids: Optional[list[list[float]]] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are inverted-listed under
    their nearest coarse centroid; each query probes only its
    ``nprobe`` nearest lists.

    10^12-row shape: assignment is ONE projection pass over the corpus
    (n_centroids literal dot products, JVM codegen, no shuffle, no
    Python); the probe side is |queries|·nprobe broadcast rows; the
    candidate search is an equi-join on centroid id, so each query
    scores ~corpus·nprobe/n_centroids rows instead of the full corpus.
    Complements sign-LSH (ann_lsh_topk): IVF lists adapt to the data
    distribution when trained (train_ivf_centroids), where hyperplane
    buckets are data-oblivious.
    """
    cents = centroids if centroids is not None else ivf_centroids(
        dim, n_centroids, seed
    )
    corpus = emb.select(
        F.col(id_col).alias("neighbor_id"),
        _dbl(vec_col).alias("cv"),
        _ivf_assign(_dbl(vec_col), cents).alias("cid"),
    )
    # query side: rank ALL centroid dots, probe the top-nprobe lists
    qdots = _ivf_qdots(_dbl(vec_col), cents)
    from pyspark.sql.window import Window

    probes = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            _dbl(vec_col).alias("qv"),
            F.explode(qdots).alias("p"),
        )
        .select("query_id", "qv", F.col("p.cid").alias("cid"),
                F.col("p.dot").alias("dot"))
        .withColumn(
            "prank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("dot"), F.asc("cid")
                )
            ),
        )
        .filter(F.col("prank") <= nprobe)
        .drop("dot", "prank")
    )
    scored = (
        F.broadcast(probes)
        .join(corpus, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(_cos(F.col("qv"), F.col("cv")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ann_ivf_oracle_sql(
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = LSH_DIM,
    seed: int = IVF_SEED,
    table: str = "embeddings",
) -> str:
    cents = ivf_centroids(dim, n_centroids, seed)
    ids = ", ".join(str(i) for i in query_ids)
    # index the RAW float column for dot products (float→double element
    # promotion is exact, the lsh _bucket_sql discipline); the DOUBLE[]
    # cast is only for the cosine math downstream
    assign = _ivf_assign_sql(cents, "embedding")
    cid_rows = ", ".join(f"({i})" for i in range(n_centroids))
    qdot_case = " ".join(
        f"WHEN {i} THEN ({_ivf_dot_sql(row, 'e')})"
        for i, row in enumerate(cents)
    )
    return f"""
    WITH corpus AS (
        SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
               {assign} AS cid
        FROM {table}
    ),
    qraw AS (SELECT vec_id AS query_id, embedding AS e,
                    embedding::DOUBLE[] AS qv
             FROM {table} WHERE vec_id IN ({ids})),
    qdots AS (
        SELECT query_id, qv, c.cid AS cid,
               (CASE c.cid {qdot_case} END) AS dot
        FROM qraw CROSS JOIN (VALUES {cid_rows}) c(cid)
    ),
    probes AS (
        SELECT query_id, qv, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dot DESC, cid) AS prank
            FROM qdots
        ) WHERE prank <= {nprobe}
    ),
    scored AS (
        SELECT query_id, corpus.neighbor_id,
               CAST(floor((list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))) * 10000.0 + 0.5) / 10000.0 AS DOUBLE) AS cosine
        FROM probes JOIN corpus USING (cid)
        WHERE query_id <> corpus.neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 16,
    n_bands: int = 4,
    dim: int = LSH_DIM,
    seed: int = LSH_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Banded sign-LSH (the MinHash-LSH band trick applied to hyperplane
    bits): the ``n_bits`` bucket id is split into ``n_bands`` bands and
    a pair becomes a candidate when ANY band agrees — per-band
    equi-joins only, unioned then de-duplicated. For near-dups at
    cos ≥ 0.95, a single 16-bit bucket match has ~0.2 recall (each bit
    flips with p ≈ angle/π); 4 bands of 4 bits push detection to ~0.99
    while keeping every join an equi-join.
    """
    hp = lsh_hyperplanes(dim, n_bits, seed)
    if n_bits % n_bands:
        raise ValueError("n_bits must divide evenly into n_bands")
    rbits = n_bits // n_bands
    with_b = emb.select(
        F.col(id_col).alias("vid"),
        _dbl(vec_col).alias("v"),
        _bucket(_dbl(vec_col), hp).alias("bucket"),
    )
    banded = (
        with_b.select(
            "vid",
            "v",
            "bucket",
            F.explode(
                F.array(*[F.lit(band) for band in range(n_bands)])
            ).alias("band"),
        )
        .withColumn(
            "bb",
            F.expr(f"shiftright(bucket, band * {rbits}) & {(1 << rbits) - 1}"),
        )
        .drop("bucket")
    )
    a = banded.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), "band", "bb"
    )
    b = banded.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), "band", "bb"
    )
    return (
        a.join(b, ["band", "bb"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            stable_round(_cos(F.col("va"), F.col("vb")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()  # a pair may agree on several bands
    )


def embedding_near_dup_oracle_sql(
    threshold: float = 0.95,
    n_bits: int = 16,
    n_bands: int = 4,
    dim: int = LSH_DIM,
    seed: int = LSH_SEED,
    table: str = "embeddings",
) -> str:
    bucket = _bucket_sql(lsh_hyperplanes(dim, n_bits, seed))
    if n_bits % n_bands:
        raise ValueError("n_bits must divide evenly into n_bands")
    rbits = n_bits // n_bands
    bands = ", ".join(f"({band})" for band in range(n_bands))
    return f"""
    WITH wb AS (
        SELECT vec_id AS vid, embedding::DOUBLE[] AS v, ({bucket}) AS bucket
        FROM {table}
    ),
    banded AS (
        SELECT vid, v, bands.band AS band,
               (bucket >> (bands.band * {rbits})) & {(1 << rbits) - 1} AS bb
        FROM wb CROSS JOIN (VALUES {bands}) bands(band)
    )
    SELECT DISTINCT a.vid AS id_a, b.vid AS id_b,
           CAST(floor((list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 10000.0 + 0.5) / 10000.0 AS DOUBLE) AS cosine
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.bb = b.bb AND a.vid < b.vid
    WHERE CAST(floor((list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 10000.0 + 0.5) / 10000.0 AS DOUBLE) >= {threshold}
    """


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication (cluster-then-prune)


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    dim: int = LSH_DIM,
    seed: int = IVF_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[list[list[float]]] = None,
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the corpus
    with a coarse quantizer, then inside each cluster drop every vector
    that has a higher-priority (lower-id) neighbor at cosine ≥
    ``threshold``.  Returns the KEPT rows as (vec_id, cid) — a near-dup
    group's minimum id always survives, mirroring the keep-min-id rule
    of :func:`lakehouse.dedup.curate_documents`.

    Scale shape (the paper's own recipe): ``n_centroids`` grows with
    the corpus so each inverted list stays ~|corpus|/n_centroids —
    assignment is ONE JVM projection pass over literal centroids
    (exactly :func:`ann_ivf_topk`'s quantizer, so the DuckDB twin is
    bit-for-bit), and the only join is a within-cluster equi-join on
    cid.  At 10^12 rows run it with n_centroids in the 10^5 range and
    (optionally) ``train_ivf_centroids``-refined centroids; nothing in
    the plan changes.
    """
    cents = centroids if centroids is not None else ivf_centroids(
        dim, n_centroids, seed
    )
    assigned = emb.select(
        F.col(id_col).alias("vid"),
        _dbl(vec_col).alias("v"),
        _ivf_assign(_dbl(vec_col), cents).alias("cid"),
    )
    a = assigned.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), "cid"
    )
    b = assigned.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), "cid"
    )
    victims = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(stable_round(_cos(F.col("va"), F.col("vb")), 4) >= threshold)
        .select(F.col("id_b").alias("vid"))
        .distinct()
    )
    return (
        assigned.join(victims, "vid", "left_anti")
        .select(F.col("vid").alias(id_col), "cid")
    )


def semantic_dedup_oracle_sql(
    threshold: float = 0.95,
    n_centroids: int = 16,
    dim: int = LSH_DIM,
    seed: int = IVF_SEED,
    table: str = "embeddings",
    centroids: Optional[list[list[float]]] = None,
) -> str:
    """DuckDB twin of :func:`semantic_dedup` (same literal centroids,
    same round-then-compare cosine, same keep-min-id rule)."""
    cents = centroids if centroids is not None else ivf_centroids(
        dim, n_centroids, seed
    )
    assign = _ivf_assign_sql(cents, "v")
    return f"""
    WITH src AS (
        SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM {table}
    ),
    assigned AS (
        SELECT vid, v, {assign} AS cid FROM src
    ),
    victims AS (
        SELECT DISTINCT b.vid
        FROM assigned a
        JOIN assigned b ON a.cid = b.cid AND a.vid < b.vid
        WHERE CAST(floor((list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 10000.0 + 0.5) / 10000.0 AS DOUBLE)
              >= {threshold}
    )
    SELECT s.vid AS vec_id, s.cid
    FROM assigned s
    WHERE s.vid NOT IN (SELECT vid FROM victims)
    """


# --- int8 quantization (the 4x memory lever for 100 TB ANN) -------------------


def quantize_embeddings(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q[i] = floor(x[i]/s +
    0.5)`` with ``s = max|x|/127`` — array<double> (8 B/dim) becomes
    array<tinyint> (1 B/dim) + one scale, an 8x storage / shuffle cut
    for the similarity working set. Cosine between quantized vectors
    needs NO dequantization: the per-vector scales cancel, so scoring
    is pure integer dot / sqrt(int norms) — which also makes the DuckDB
    twin bit-exact (identical IEEE divisions, identical floor).
    All JVM higher-order functions (transform/aggregate) — no Python,
    no shuffle. All-zero vectors quantize to zeros with scale 0.

    Output: ``(id, q8 array<tinyint>, scale, qnorm2 bigint)`` —
    ``qnorm2`` precomputed so pair scoring never re-reduces the self
    norm per candidate pair.
    """
    v = F.col(vec_col).cast("array<double>")
    maxabs = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    s = maxabs / F.lit(127.0)
    q = F.when(
        s > 0,
        F.transform(v, lambda x: F.floor(x / s + F.lit(0.5)).cast("long")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))
    base = emb.select(
        F.col(id_col), q.alias("_q"), stable_round(s, 6).alias("scale")
    )
    return base.select(
        id_col,
        F.col("_q").cast("array<tinyint>").alias("q8"),
        "scale",
        F.aggregate(
            "_q", F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("qnorm2"),
    )


def quantize_embeddings_oracle_sql(table: str = "embeddings") -> str:
    """DuckDB twin of the quantization arithmetic (scale + integer
    self-norm; the q8 array itself is checked through the top-k twin)."""
    return f"""
    WITH s AS (
        SELECT vec_id,
               embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                   / 127.0 AS sc
        FROM {table}
    ),
    q AS (
        SELECT vec_id, sc,
               CASE WHEN sc > 0
                    THEN list_transform(v, x -> CAST(floor(x / sc + 0.5) AS BIGINT))
                    ELSE list_transform(v, x -> CAST(0 AS BIGINT))
               END AS qv
        FROM s
    )
    SELECT vec_id, CAST(floor((sc) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS scale,
           CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum')
                AS BIGINT) AS qnorm2
    FROM q
    """


def cosine_topk_int8(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine over int8-quantized vectors — same join shape
    as :func:`cosine_topk` (broadcast bounded query set, map-side
    scoring, per-query top-k window) but the corpus side carries 1-byte
    components and a precomputed integer self-norm: the score is
    ``int_dot / sqrt(qnorm2_a * qnorm2_b)`` (scales cancel — no
    dequantization, no float arrays in the exchange).
    """
    qt = quantize_embeddings(emb, id_col=id_col, vec_col=vec_col)
    q = qt.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("q8").cast("array<long>").alias("qa"),
        F.col("qnorm2").alias("na"),
    )
    c = qt.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("q8").cast("array<long>").alias("qb"),
        F.col("qnorm2").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(
                dot / F.sqrt((F.col("na") * F.col("nb")).cast("double")), 4
            ).alias("cosine"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_int8_oracle_sql(
    query_ids: list[int], k: int = 5, table: str = "embeddings"
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
    WITH s AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                   / 127.0 AS sc
        FROM {table}
    ),
    q AS (
        SELECT vec_id,
               CASE WHEN sc > 0
                    THEN list_transform(v, x -> CAST(floor(x / sc + 0.5) AS BIGINT))
                    ELSE list_transform(v, x -> CAST(0 AS BIGINT))
               END AS qv
        FROM s
    ),
    n AS (
        SELECT vec_id, qv,
               list_aggregate(list_transform(qv, x -> x * x), 'sum') AS n2
        FROM q
    ),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(floor((list_dot_product(a.qv, b.qv) / sqrt(CAST(a.n2 * b.n2 AS DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS DOUBLE) AS cosine
        FROM n a, n b
        WHERE a.vec_id IN ({ids}) AND a.vec_id <> b.vec_id
          AND a.n2 > 0 AND b.n2 > 0
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jégou, Douze & Schmid, "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011; the FAISS
# IVFPQ index architecture.
#
# The corpus vector is split into ``m`` contiguous sub-vectors; each
# sub-vector is replaced by the id of its nearest codeword in a
# per-subspace codebook of ``n_cent`` entries. A 64-dim float32 vector
# (256 B) becomes ``m`` tinyints (8 B at the defaults) — a 32× cut in
# what the similarity working set stores, shuffles, and scans. Queries
# stay full-precision: the asymmetric-distance (ADC) score is
# ``sum_s <q_s, codeword(code_s)>``, a table lookup per subspace —
# scoring never touches raw corpus vectors again.
#
# 10^12-row shape: encoding is ONE codegen'd projection pass (m·n_cent
# literal-folded dot products, no shuffle, no Python); ADC top-k is a
# broadcast of the bounded query set against the codes-only corpus +
# one per-query window. Codebook training (the only driver-side step)
# reads a bounded sample, exactly like ``train_ivf_centroids``.
#
# Oracle discipline (same as IVF/LSH): the default codebooks are a
# pure function of the seed, embedded as double literals into BOTH the
# Spark plan and the DuckDB twin, with argmin ties broken to the
# lowest codeword id via a first-match CASE over identical
# left-to-right literal arithmetic — assignments agree bit-for-bit.
# ``train_pq_codebooks`` refines them on a sample when quantization
# error matters more than a SQL-checkable twin (the recall pytest).

PQ_SEED = 1105
PQ_M = 8
PQ_NCENT = 16


def pq_codebooks(
    dim: int = LSH_DIM, m: int = PQ_M, n_cent: int = PQ_NCENT,
    seed: int = PQ_SEED, scale: float = 0.12,
) -> list[list[list[float]]]:
    """Deterministic seeded codebooks: ``m`` subspaces × ``n_cent``
    codewords × ``dim/m`` dims, Gaussian draws scaled to the synthetic
    embeddings' component spread and rounded to 6 decimals (literal
    embedding discipline). Data-oblivious — training replaces these
    when recall matters; parity queries keep them so the DuckDB twin
    can regenerate the identical literals from the seed."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((m, n_cent, dim // m)) * scale
    return [
        [[float(round(v, 6)) for v in row] for row in sub] for sub in c
    ]


def train_pq_codebooks(
    emb: DataFrame,
    m: int = PQ_M,
    n_cent: int = PQ_NCENT,
    iters: int = 8,
    seed: int = PQ_SEED,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace Lloyd k-means (squared L2) on a bounded driver
    sample — the standard PQ training recipe (FAISS trains PQ exactly
    this way). Deterministic: the sample is the ``sample`` LOWEST ids,
    init is Forgy over evenly-strided sample rows, fixed iteration
    count, empty clusters keep their previous codeword."""
    import numpy as np

    rows = (
        emb.select(F.col(id_col).alias("i"), _dbl(vec_col).alias("v"))
        .orderBy("i")
        .limit(int(sample))
        .collect()
    )
    x = np.array([r.v for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    out = []
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        init_idx = np.linspace(0, len(xs) - 1, n_cent).astype(int)
        c = xs[init_idx].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(n_cent):
                members = xs[assign == j]
                if len(members):
                    c[j] = members.mean(axis=0)
        out.append([[float(round(v, 6)) for v in row] for row in c])
    return out


def _sub_dot_sql(row: list[float], offset: int, vec_sql: str) -> str:
    """Oracle-side sub-vector dot as a literal +-chain — the evaluation
    order :func:`_dot_fold` reproduces JVM-side."""
    return " + ".join(
        f"({v!r} * {vec_sql}[{offset + j + 1}])" for j, v in enumerate(row)
    )


def _pq_scores_sql(sub: list[list[float]], offset: int, vec_sql: str):
    return [
        f"({_sub_dot_sql(row, offset, vec_sql)}) - "
        f"{round(sum(v * v for v in row) / 2.0, 12)!r}"
        for row in sub
    ]


def _argmax_pos_sql(scores: list[str]) -> str:
    """Argmax as ``list_position(arr, list_max(arr)) - 1``: each score
    evaluated once, ties → lowest codeword id (first occurrence). The
    greatest+CASE form re-evaluates every score inside each WHEN."""
    arr = "[" + ", ".join(f"({s})" for s in scores) + "]"
    return f"(list_position({arr}, list_max({arr})) - 1)"


def _pq_code_expr(v, cb: list[list[list[float]]]):
    """PQ codes via ONE nested-array literal + higher-order functions.

    The codebook (and the precomputed ``|c_j|^2/2`` halves) ride as
    array DATA, not as expression nodes — the plan stays O(1) size in
    m·n_cent. The earlier expanded-literal form put ~2.5k expression
    nodes in the projection; plan build + the ~24 MiB task binary +
    codegen fallback dominated wall time (pq_topk 14.8 s → ~2 s at
    bench scale). Values are identical: ``_dot_fold`` reproduces the
    oracle's left-assoc literal chain, and first-occurrence
    ``array_position`` is the same ties→lowest rule as the SQL twin's
    ``list_position``."""
    dsub = len(cb[0][0])
    halves = [
        [round(sum(x * x for x in row) / 2.0, 12) for row in sub]
        for sub in cb
    ]
    cbl = F.lit([[list(r) for r in sub] for sub in cb])
    half = F.lit(halves)

    def per_sub(sub, s):
        xs = F.slice(v, s.cast("int") * dsub + 1, dsub)
        scores = F.zip_with(
            F.transform(sub, lambda row: _dot_fold(xs, row)),
            F.element_at(half, s.cast("int") + 1),
            lambda d, h: d - h,
        )
        return (
            F.array_position(scores, F.array_max(scores)) - 1
        ).cast("tinyint")

    return F.transform(cbl, per_sub)


def pq_encode(
    emb: DataFrame,
    codebooks: Optional[list[list[list[float]]]] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One codegen'd projection pass: ``(id, pq_code array<tinyint>)``.
    The code column is what a real deployment materializes (a
    MaterializedTransform over this projection); everything downstream
    reads codes only."""
    cb = codebooks if codebooks is not None else pq_codebooks()
    return emb.select(
        F.col(id_col),
        _pq_code_expr(_dbl(vec_col), cb).alias("pq_code"),
    )


def _adc_lut(qvec, cb: list[list[list[float]]]):
    """The ADC lookup table, the actual Jégou trick: an m × n_cent
    array-of-arrays of ``<q_s, c_j>`` partial dots, computed ONCE per
    query row (nested-literal + HOF, like :func:`_pq_code_expr`).
    Per-candidate scoring then costs m array lookups."""
    dsub = len(cb[0][0])
    cbl = F.lit([[list(r) for r in sub] for sub in cb])
    return F.transform(
        cbl,
        lambda sub, s: F.transform(
            sub,
            lambda row: _dot_fold(
                F.slice(qvec, s.cast("int") * dsub + 1, dsub), row
            ),
        ),
    )


def _adc_score(lut_col, codes_col, m: int):
    """ADC inner-product score: sum of per-subspace LUT lookups
    (left-assoc +, matching the SQL twin)."""
    total = None
    for s in range(m):
        term = F.element_at(
            F.element_at(lut_col, s + 1),
            F.element_at(codes_col, s + 1).cast("int") + 1,
        )
        total = term if total is None else total + term
    return total


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    codebooks: Optional[list[list[list[float]]]] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate inner-product top-k via PQ/ADC: encode the corpus
    (one projection), broadcast the bounded full-precision query set,
    score = per-subspace codeword lookup, rank per query. The corpus
    side of the join carries ONLY ``(id, m tinyints)``."""
    cb = codebooks if codebooks is not None else pq_codebooks()
    codes = pq_encode(emb, cb, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), "pq_code"
    )
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        _adc_lut(_dbl(vec_col), cb).alias("lut"),
    )
    scored = (
        F.broadcast(q)
        .join(codes, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(
                _adc_score(F.col("lut"), F.col("pq_code"), len(cb)), 4
            ).alias("adc"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )


def _pq_encode_sql(cb: list[list[list[float]]], vec_sql: str) -> str:
    dsub = len(cb[0][0])
    return (
        "["
        + ", ".join(
            _argmax_pos_sql(_pq_scores_sql(sub, s * dsub, vec_sql))
            for s, sub in enumerate(cb)
        )
        + "]"
    )


def _adc_lut_sql(cb: list[list[list[float]]], qvec_sql: str) -> str:
    """SQL twin of :func:`_adc_lut` — the m × n_cent list-of-lists of
    partial dots, built once per query row."""
    dsub = len(cb[0][0])
    return (
        "["
        + ", ".join(
            "["
            + ", ".join(
                f"({_sub_dot_sql(row, s * dsub, qvec_sql)})" for row in sub
            )
            + "]"
            for s, sub in enumerate(cb)
        )
        + "]"
    )


def _adc_score_sql(m: int, lut_sql: str, code_sql: str) -> str:
    """SQL twin of :func:`_adc_score` — m 1-based LUT lookups."""
    return " + ".join(
        f"{lut_sql}[{s + 1}][{code_sql}[{s + 1}] + 1]" for s in range(m)
    )


def pq_topk_oracle_sql(
    query_ids: list[int],
    k: int = 5,
    dim: int = LSH_DIM,
    m: int = PQ_M,
    n_cent: int = PQ_NCENT,
    seed: int = PQ_SEED,
    table: str = "embeddings",
) -> str:
    """DuckDB twin: regenerates the seeded codebooks and runs the
    identical encode + ADC arithmetic over DOUBLE[] casts (float→double
    promotion is exact, so every multiply/add matches the engine's
    double evaluation bit-for-bit — raw REAL indexing would evaluate
    the ADC sum in float and drift in the 4th decimal)."""
    cb = pq_codebooks(dim, m, n_cent, seed)
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
    WITH codes AS (
        SELECT vec_id AS neighbor_id,
               {_pq_encode_sql(cb, "cv")} AS pq_code
        FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM {table})
    ),
    q AS (
        SELECT query_id, {_adc_lut_sql(cb, "qv")} AS lut
        FROM (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM {table} WHERE vec_id IN ({ids}))
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               CAST(floor(({_adc_score_sql(m, "lut", "pq_code")}) * 10000.0 + 0.5) / 10000.0 AS DOUBLE) AS adc
        FROM q, codes
        WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, adc, rank FROM ranked WHERE rank <= {k}
    """


def ann_ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_coarse: int = 16,
    nprobe: int = 4,
    codebooks: Optional[list[list[list[float]]]] = None,
    centroids: Optional[list[list[float]]] = None,
    dim: int = LSH_DIM,
    seed: int = IVF_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + PQ composed — the FAISS IVFPQ architecture: the coarse
    quantizer prunes the corpus to ``nprobe`` inverted lists per query,
    PQ/ADC scores the survivors from codes alone. The corpus pass
    computes BOTH the coarse assignment and the PQ code in ONE codegen
    projection; nothing else ever reads the raw corpus vectors.

    At 10^12 rows each query scores ~corpus·nprobe/n_coarse candidate
    CODES (8 B each at the defaults) — the scan, the shuffle, and the
    scoring working set are all ~32× smaller than raw float32."""
    cents = centroids if centroids is not None else ivf_centroids(
        dim, n_coarse, seed
    )
    cb = codebooks if codebooks is not None else pq_codebooks(dim)
    v = _dbl(vec_col)
    corpus = emb.select(
        F.col(id_col).alias("neighbor_id"),
        _ivf_assign(v, cents).alias("cid"),
        _pq_code_expr(v, cb).alias("pq_code"),
    )
    qdots = _ivf_qdots(_dbl(vec_col), cents)
    from pyspark.sql.window import Window

    probes = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            _adc_lut(_dbl(vec_col), cb).alias("lut"),
            F.explode(qdots).alias("p"),
        )
        .select("query_id", "lut", F.col("p.cid").alias("cid"),
                F.col("p.dot").alias("dot"))
        .withColumn(
            "prank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("dot"), F.asc("cid")
                )
            ),
        )
        .filter(F.col("prank") <= nprobe)
        .drop("dot", "prank")
    )
    scored = (
        F.broadcast(probes)
        .join(corpus, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(
                _adc_score(F.col("lut"), F.col("pq_code"), len(cb)), 4
            ).alias("adc"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )


def ann_ivfpq_oracle_sql(
    query_ids: list[int],
    k: int = 5,
    n_coarse: int = 16,
    nprobe: int = 4,
    dim: int = LSH_DIM,
    m: int = PQ_M,
    n_cent: int = PQ_NCENT,
    ivf_seed: int = IVF_SEED,
    pq_seed: int = PQ_SEED,
    table: str = "embeddings",
) -> str:
    cents = ivf_centroids(dim, n_coarse, ivf_seed)
    cb = pq_codebooks(dim, m, n_cent, pq_seed)
    ids = ", ".join(str(i) for i in query_ids)
    assign = _ivf_assign_sql(cents, "embedding")
    cid_rows = ", ".join(f"({i})" for i in range(n_coarse))
    qdot_case = " ".join(
        f"WHEN {i} THEN ({_ivf_dot_sql(row, 'e')})"
        for i, row in enumerate(cents)
    )
    return f"""
    WITH corpus AS (
        SELECT vec_id AS neighbor_id, {assign} AS cid,
               {_pq_encode_sql(cb, "cv")} AS pq_code
        FROM (SELECT vec_id, embedding,
                     embedding::DOUBLE[] AS cv FROM {table})
    ),
    qraw AS (SELECT vec_id AS query_id, embedding AS e,
                    {_adc_lut_sql(cb, "(embedding::DOUBLE[])")} AS lut
             FROM {table} WHERE vec_id IN ({ids})),
    qdots AS (
        SELECT query_id, lut, c.cid AS cid,
               (CASE c.cid {qdot_case} END) AS dot
        FROM qraw CROSS JOIN (VALUES {cid_rows}) c(cid)
    ),
    probes AS (
        SELECT query_id, lut, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dot DESC, cid) AS prank
            FROM qdots
        ) WHERE prank <= {nprobe}
    ),
    scored AS (
        SELECT query_id, corpus.neighbor_id,
               CAST(floor(({_adc_score_sql(m, "lut", "pq_code")}) * 10000.0 + 0.5) / 10000.0 AS DOUBLE) AS adc
        FROM probes JOIN corpus USING (cid)
        WHERE query_id <> corpus.neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, adc, rank FROM ranked WHERE rank <= {k}
    """


def pq_encode_arrow(
    emb: DataFrame,
    codebooks: Optional[list[list[list[float]]]] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encode — the Arrow/numpy scale twin of :func:`pq_encode`
    (same semantics, gated by a rank-parity pytest; the
    cosine_topk_arrow pattern). The Catalyst encode inlines m·n_cent
    literal-folded dots into the plan, which is ideal at the defaults
    but outgrows expression trees as codebooks scale (256-codeword
    books put ~16k terms in one projection). Here each Arrow batch
    computes ALL subspace scores as one BLAS matmul per subspace and
    takes the argmin with the identical tie-to-lowest rule — per-batch
    work is O(rows · dim · n_cent) flops with no expression-tree or
    codegen ceiling, and the broadcast codebook is a few KB.

    Ties: numpy ``argmax`` picks the first (lowest codeword id) maximum
    of the same ``<v_s,c_j> - |c_j|^2/2`` scores the Catalyst form
    evaluates. The only divergence channel is summation order (BLAS
    blocked vs Catalyst's left-assoc fold), which matters only on
    ~1-ulp knife-edge ties between codewords; the parity pytest pins
    exact code equality on the test corpus for seeded AND trained
    codebooks.
    """
    import numpy as np
    import pandas as pd

    cb = codebooks if codebooks is not None else pq_codebooks()
    m, n_cent, dsub = len(cb), len(cb[0]), len(cb[0][0])
    spark = emb.sparkSession
    b_cb = spark.sparkContext.broadcast(
        [np.array(sub, dtype=np.float64) for sub in cb]
    )
    id_dtype = dict(emb.dtypes)[id_col]
    out_schema = f"{id_col} {id_dtype}, pq_code array<tinyint>"

    def part(batches):
        subs = b_cb.value
        # score = <v_s, c_j> - |c_j|^2/2, argmax ties to lowest j —
        # the exact Catalyst/_argmax_pos rule
        halves = [0.5 * (sub * sub).sum(axis=1) for sub in subs]
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            codes = np.empty((len(X), m), dtype=np.int8)
            for s in range(m):
                scores = X[:, s * dsub : (s + 1) * dsub] @ subs[s].T
                scores -= halves[s]
                codes[:, s] = scores.argmax(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "pq_code": list(codes)}
            )

    return emb.select(id_col, vec_col).mapInPandas(part, out_schema)


def cluster_balanced_sample(
    emb: DataFrame,
    per_cluster: int,
    *,
    n_centroids: int = 16,
    dim: int = LSH_DIM,
    seed: int = IVF_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[list[list[float]]] = None,
    salt_partitions: int = 64,
) -> DataFrame:
    """Cluster-balanced corpus curation: keep ``per_cluster`` vectors
    from each embedding-space cluster — the diversity-sampling
    complement of SemDeDup (cluster-then-PRUNE): a raw hash sample
    reproduces the corpus's density skew, so dominant modes (one
    language, one template) stay dominant; capping per cluster flattens
    the mix (the SSL-Prototypes / DoReMi-style curation step).

    Mechanics reuse the IVF quantizer: assignment is the one full pass
    (nested-literal centroids, O(1) plan nodes), then WITHIN each
    cluster rows rank by a deterministic seeded md5 draw (selection is
    partitioning/retry invariant AND stable as the corpus grows —
    a kept id can only be displaced by new ids hashing ahead of it).
    Per-cluster top-k is TWO-LEVEL like bm25_topk: a salted local
    row_number prunes to salt×k rows per cluster before the global
    rank, so a dominant cluster never funnels the corpus into one task.
    Returns (cluster, rank, id) — join back on id for payloads.
    """
    from pyspark.sql.window import Window

    from .sampling import _hash_hex

    if per_cluster <= 0:
        raise ValueError("per_cluster must be positive")
    cents = centroids or ivf_centroids(dim, n_centroids, seed)
    assigned = emb.select(
        F.col(id_col).alias("_id"),
        _ivf_assign(_dbl(vec_col), cents).alias("cluster"),
        _hash_hex(seed, F.col(id_col)).alias("_h"),
    )
    local_w = Window.partitionBy(
        "cluster", F.crc32(F.col("_id").cast("string")) % salt_partitions
    ).orderBy("_h", "_id")
    pruned = (
        assigned.withColumn("_lr", F.row_number().over(local_w))
        .filter(F.col("_lr") <= per_cluster)
        .drop("_lr")
    )
    global_w = Window.partitionBy("cluster").orderBy("_h", "_id")
    return (
        pruned.withColumn("rank", F.row_number().over(global_w))
        .filter(F.col("rank") <= per_cluster)
        .select("cluster", "rank", F.col("_id").alias(id_col))
    )


def cluster_balanced_sample_oracle_sql(
    per_cluster: int,
    *,
    n_centroids: int = 16,
    dim: int = LSH_DIM,
    seed: int = IVF_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """DuckDB twin: identical centroid literals + left-assoc dot
    arithmetic (assignments agree bit-for-bit), identical md5 draw,
    plain single-level row_number (the salted prune is plan shape
    only)."""
    from .sampling import _hash_sql

    cents = ivf_centroids(dim, n_centroids, seed)
    assign = _ivf_assign_sql(cents, vec_col)
    h = _hash_sql(seed, id_col)
    return f"""
        WITH a AS (
            SELECT {id_col}, {assign} AS cluster, {h} AS h
            FROM {table}
        ),
        r AS (
            SELECT cluster, {id_col}, row_number() OVER (
                       PARTITION BY cluster ORDER BY h, {id_col}
                   ) AS rank
            FROM a
        )
        SELECT cluster, rank, {id_col} FROM r
        WHERE rank <= {per_cluster}
    """
