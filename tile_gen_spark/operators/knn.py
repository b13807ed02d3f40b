"""J2 + similarity search (SURVEY.md §2.3 J2, §2 "similarity search").

Geo kNN (``BASELINE.json:6,14`` "kNN via indexed broadcast of cell
neighbors"): candidates are indexed by H3-lite hex cell; each query point
explodes its kRing-``k`` neighbor cells, the (small) cell→candidate index is
broadcast, exact haversine refines, and a window takes top-k. Exactness is by
construction: a query's indexed result is accepted only when its k-th distance
fits inside the radius the kRing provably covers; queries that fail the bound
(or found < k candidates) fall back to a brute-force pass (left-anti to find
them — at scale this is the rare sparse-ocean tail).

Embedding kNN: brute-force cosine top-k as the exact baseline (the DuckDB
oracle), plus an LSH-bucketed approximate variant (random-hyperplane SimHash
bands) as the 100 TB scale path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import LongType, ArrayType, IntegerType
from pyspark.sql.functions import pandas_udf

from ..functions import cells as C
from ..functions import kernels as K


@pandas_udf(LongType())
def _hex_cell_udf(lon: pd.Series, lat: pd.Series, res: pd.Series) -> pd.Series:
    r = int(res.iloc[0])
    return pd.Series(C.hex_cell(lon.to_numpy(np.float64), lat.to_numpy(np.float64), r))


@pandas_udf(LongType())
def s2_cell_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """G6: S2-lite level-30 Hilbert cell id."""
    return pd.Series(C.s2_cell(lon.to_numpy(np.float64), lat.to_numpy(np.float64), 30))


@pandas_udf(LongType())
def s2_quad_cell_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """G6: packed pre-Hilbert level-30 quadtree cell (ix·2^30 + iy) — parent
    navigation is pure bit shifts, and the whole path has a SQL oracle twin
    (plans/sqlgen.s2_quad_*)."""
    ix, iy = C.s2_quad_ixiy(lon.to_numpy(np.float64), lat.to_numpy(np.float64), 30)
    return pd.Series(C.s2_quad_pack(ix, iy, 30))


def _kring_udf(k: int):
    @pandas_udf(ArrayType(LongType()))
    def fn(cell: pd.Series) -> pd.Series:
        arr = C.hex_kring(cell.to_numpy(np.int64), k)
        return pd.Series(list(arr))
    return fn


def _haversine_col(lon1, lat1, lon2, lat2):
    return (2.0 * 6371008.8 * F.asin(F.sqrt(
        F.pow(F.sin((F.radians(lat2) - F.radians(lat1)) / 2), 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
        * F.pow(F.sin((F.radians(lon2) - F.radians(lon1)) / 2), 2))))


def knn_geo(queries: DataFrame, candidates: DataFrame, k: int = 5,
            res: int = 5, kring: int = 1,
            broadcast_index: bool = True, max_expand: int = 3) -> DataFrame:
    """queries(query_id, lon, lat) × candidates(cand_id, lon, lat) → top-k.

    Returns (query_id, neighbor_id, dist_m, rank). Deterministic tie-break:
    (distance, neighbor_id). Exact — queries the cell index under-serves are
    retried at wider kRings and finally brute-forced, so output equals the
    brute-force oracle.

    ``broadcast_index=True`` is the spec's "indexed broadcast of cell
    neighbors" (``BASELINE.json:6,14``) — right when the candidate/landmark
    index fits an executor (typical: POI sets ≪ corpus). For candidate sets
    too big to broadcast, pass False: every join becomes a shuffled hash join
    on the cell key (AQE splits hot cells), under-served queries are retried
    with ``max_expand`` successively doubled kRings (the rare sparse-ocean
    tail), and the final residual uses a DISTRIBUTED cartesian join — no
    whole-candidate broadcast anywhere on this path (VERDICT r2 #4: the old
    fallback silently reintroduced the broadcast assumption).
    """
    cand = candidates.withColumn(
        "cell", _hex_cell_udf("lon", "lat", F.lit(res))).select(
        F.col("cand_id"), F.col("lon").alias("clon"), F.col("lat").alias("clat"), "cell")

    def indexed_pass(qdf: DataFrame, kr: int) -> tuple[DataFrame, DataFrame]:
        """One index probe at kRing ``kr`` → (accepted top-k, missing queries).

        Exactness gate: the kRing(kr) of the query's home cell provably
        covers a Mercator-plane disk of radius (1.5*kr - 0.5)*R around the
        query (R = hex circumradius; nearest out-of-ring cell center is
        1.5*(kr+1)*R away, minus R for the query's and the candidate's
        offsets from their cell centers). Accept the indexed top-k only when
        the k-th haversine distance, converted to Mercator meters at the
        worst latitude the disk can reach (sec(|lat|+d/Re), times the
        sphere-radius ratio), fits inside that covered radius — then every
        true neighbor closer than the k-th is guaranteed indexed, so indexed
        top-k == brute-force top-k. Queries with < k candidates never
        satisfy n >= k and fall back too."""
        qx = (qdf.withColumn("cell0", _hex_cell_udf("lon", "lat", F.lit(res)))
              .withColumn("cell", F.explode(_kring_udf(kr)("cell0")))
              .select("query_id", "lon", "lat", "cell"))
        idx = F.broadcast(cand) if broadcast_index else cand
        pairs = qx.join(idx, "cell").select(
            "query_id", "lon", "lat", "cand_id", "clon", "clat")
        ranked = _rank_topk(pairs, k)
        covered_m = (1.5 * kr - 0.5) * float(C.HEX_RES_M[res]) * 0.999
        ratio = float(K.MERCATOR_R) / 6371008.8
        stats = (ranked.groupBy("query_id")
                 .agg(F.count("*").alias("n"), F.max("dist_m").alias("dk")))
        qstats = qdf.select("query_id", "lat").join(stats, "query_id", "left")
        phi = F.radians(F.abs(F.col("lat"))) + F.col("dk") / F.lit(6371008.8)
        ok = (F.col("n").isNotNull() & (F.col("n") >= k)
              & (phi < F.lit(np.pi / 2))
              & (F.col("dk") * F.lit(ratio) / F.cos(phi) <= F.lit(covered_m)))
        enough = qstats.filter(ok).select("query_id")
        return (ranked.join(enough, "query_id", "left_semi"),
                qdf.join(enough, "query_id", "left_anti"))

    parts: list[DataFrame] = []
    remaining = queries
    kr = kring
    # broadcast path: one probe (the index fits an executor, so the brute
    # residual is a cheap broadcast NL join). Non-broadcast: iterative kRing
    # expansion — each retry re-probes only the still-missing queries.
    for _ in range(1 if broadcast_index else max(1, max_expand)):
        got, remaining = indexed_pass(remaining, kr)
        parts.append(got)
        kr = 2 * kr + 1
    residual = cand.select("cand_id", "clon", "clat")
    brute = _rank_topk(
        remaining.crossJoin(F.broadcast(residual) if broadcast_index
                            else residual), k)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.unionByName(brute)


def _rank_topk(pairs: DataFrame, k: int) -> DataFrame:
    d = pairs.withColumn("dist_m", _haversine_col(
        F.col("lon"), F.col("lat"), F.col("clon"), F.col("clat")))
    w = Window.partitionBy("query_id").orderBy("dist_m", "cand_id")
    return (d.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("cand_id").alias("neighbor_id"), "dist_m", "rank"))


def knn_geo_bruteforce(queries: DataFrame, candidates: DataFrame, k: int = 5) -> DataFrame:
    """J8 oracle: exact brute-force kNN (test scale only)."""
    cand = candidates.select(F.col("cand_id"), F.col("lon").alias("clon"),
                             F.col("lat").alias("clat"))
    return _rank_topk(queries.crossJoin(F.broadcast(cand)), k)


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

def _cosine_cols():
    """dot / (|a| |b|) over two array<float> cols, JVM-side higher-order fns."""
    dot = F.aggregate(F.zip_with("emb_q", "emb_c", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate("emb_q", F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate("emb_c", F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def _emb_partial_topk(q_pd: pd.DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """One query block (collected pandas: query_id, e) × the corpus: per-batch
    BLAS matmul, emit only each batch's per-query partial top-k."""
    qids = q_pd["query_id"].to_numpy(np.int64)
    Q = np.asarray(q_pd["e"].tolist(), dtype=np.float64)          # (Nq, D)
    qn = np.sqrt((Q * Q).sum(axis=1))

    def fn(batches):
        for b in batches:
            if len(b) == 0:
                continue
            cids = b["vec_id"].to_numpy(np.int64)
            C = np.asarray(b["embedding"].tolist(), dtype=np.float64)  # (Nc, D)
            cn = np.sqrt((C * C).sum(axis=1))
            sims = (C @ Q.T) / (cn[:, None] * qn[None, :])         # (Nc, Nq)
            sims[cids[:, None] == qids[None, :]] = -np.inf         # self-match
            kk = min(k, sims.shape[0])
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]      # (kk, Nq)
            qi = np.repeat(np.arange(len(qids)), kk)
            ci = top.T.ravel()
            sim_v = sims[ci, qi]
            keep = np.isfinite(sim_v)
            yield pd.DataFrame({
                "query_id": pd.Series(qids[qi][keep], dtype="int64"),
                "neighbor_id": pd.Series(cids[ci][keep], dtype="int64"),
                "cos_sim": pd.Series(sim_v[keep], dtype="float64"),
            })

    return corpus.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")) \
        .mapInPandas(fn, "query_id bigint, neighbor_id bigint, cos_sim double")


def knn_embeddings(queries: DataFrame, corpus: DataFrame, k: int = 5,
                   query_block: int = 65536) -> DataFrame:
    """Exact cosine top-k: queries(vec_id, embedding) × corpus(vec_id, embedding).

    Block nested loop, BLAS-vectorized: a query block is collected and
    shipped in the task closure (the same broadcast the spec mandates for
    the kNN cell index); each corpus Arrow batch computes ALL pairwise sims
    in one matmul and emits only its per-query partial top-k, so the shuffle
    into the global top-k window carries ≤ k·n_batches rows per query
    instead of the full cross product.

    Driver memory is bounded by ``query_block`` (default 65536 rows ≈ 64 MB
    at D=128 float64): a bigger query set is split into EXACT
    row_number-derived blocks over a persisted snapshot
    (ADVICE r5: hash blocks only bound size in expectation, and re-running
    the query lineage per block scanned it n_blocks times) — each block
    streams the corpus once, so this path suits queries ≪ corpus; for
    query sets at corpus scale use knn_embeddings_ivf_dist, where NEITHER
    side is collected or looped. Returns (query_id, neighbor_id, cos_sim,
    rank); self-match excluded. Block-partitioning is exact: blocks
    partition the query set, and each query's global top-k is computed
    within its block.
    """
    q_sel = queries.select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").cast("array<double>").alias("e"))
    # r7: probe with limit(query_block + 1).toPandas() instead of a separate
    # count() job — in the common queries ≪ corpus case this is the ONE
    # driver action (the probe result IS the complete query set when it fits
    # a block), halving the fixed job overhead of the section (guide §1.2:
    # don't compute things you throw away).
    probe = q_sel.limit(query_block + 1).toPandas()
    if len(probe) <= query_block:
        partial = _emb_partial_topk(probe, corpus, k)
    else:
        # exact equal-size blocks (± 1 on the last) WITHOUT a global
        # no-partition row_number (VERDICT r6: that window funnels the whole
        # query set through one task): per-partition row_number + cumulative
        # partition offsets collected from a KB-scale count-per-partition
        # aggregate give an identical dense global numbering under the
        # (pid, query_id) total order, with the sort parallel per partition.
        # The pid is materialized as a COLUMN of the persisted snapshot (the
        # first action caches it), so the counting job and the block
        # assignment see the same value even across the window's exchange.
        snap = q_sel.withColumn("_pid", F.spark_partition_id()).persist()
        pid_counts = snap.groupBy("_pid").count().orderBy("_pid").collect()
        acc = 0
        off_items: list = []
        for r in pid_counts:
            off_items += [F.lit(r["_pid"]), F.lit(acc)]
            acc += r["count"]
        n_blocks = -(-acc // query_block)
        off_map = F.create_map(*off_items)
        w = Window.partitionBy("_pid").orderBy("query_id")
        blocked = (snap.withColumn(
            "_b", (((off_map[F.col("_pid")]
                     + F.row_number().over(w)) - 1)
                   / query_block).cast("int"))
            .drop("_pid").persist())
        try:
            parts = []
            for i in range(n_blocks):
                q_pd = blocked.filter(F.col("_b") == i).drop("_b").toPandas()
                if len(q_pd):
                    parts.append(_emb_partial_topk(q_pd, corpus, k))
            partial = parts[0]
            for p in parts[1:]:
                partial = partial.unionByName(p)
        finally:
            blocked.unpersist()
            snap.unpersist()
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))


def ivf_centroids(corpus: DataFrame, n_centroids: int = 64, sample: int = 2048,
                  iters: int = 5, seed: int = 42) -> np.ndarray:
    """Deterministic IVF coarse quantizer: Lloyd's k-means on a hash-ordered
    corpus sample, run driver-side in numpy [PUBLIC: IVF/Faiss concept —
    train the coarse quantizer on a bounded sample, broadcast the centroid
    table]. Deterministic: sample = first `sample` vec_ids by splitmix64
    hash, init = seeded hash-pick of sample rows, fixed iteration count."""
    samp = (corpus.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
            .withColumn("_h", F.xxhash64(F.col("vec_id"), F.lit(seed)))
            .orderBy("_h").limit(sample).toPandas())
    X = np.asarray(samp["e"].tolist(), dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    init_idx = np.unique(K.h64(np.arange(n_centroids * 4, dtype=np.uint64),
                               seed, 11) % np.uint64(len(X)))[:n_centroids]
    cents = X[init_idx.astype(np.int64)]
    for _ in range(iters):
        a = np.argmax(X @ cents.T, axis=1)                      # cosine on unit vecs
        for c in range(cents.shape[0]):
            m = a == c
            if m.any():
                v = X[m].mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    return cents


def _ivf_assign_udf(cents: np.ndarray):
    @pandas_udf("int")
    def fn(emb: pd.Series) -> pd.Series:
        X = np.asarray(emb.tolist(), dtype=np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(X @ cents.T, axis=1).astype(np.int32))
    return fn


def knn_embeddings_ivf(queries: DataFrame, corpus: DataFrame, k: int = 5,
                       n_centroids: int = 64, nprobe: int = 8,
                       seed: int = 42) -> DataFrame:
    """ANN scale path #2: IVF (inverted-file) search.

    Corpus vectors are assigned to their nearest coarse centroid (one Arrow
    pass, centroid table in the task closure); each query probes only its
    ``nprobe`` nearest cells, so the exact re-rank touches ~nprobe/n_centroids
    of the corpus instead of all of it. Recall < 1 by design; at 100 TB the
    corpus streams once through assignment (writable as a partitioned table
    and reused across query batches — the assignment is query-independent).
    Returns (query_id, neighbor_id, cos_sim, rank); self-match excluded.
    """
    cents = ivf_centroids(corpus, n_centroids=n_centroids, seed=seed)
    spark = corpus.sparkSession

    q_pd = (queries.select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").cast("array<double>").alias("e"))
            .toPandas())
    qids = q_pd["query_id"].to_numpy(np.int64)
    Q = np.asarray(q_pd["e"].tolist(), dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    qd = {int(i): Q[j] for j, i in enumerate(qids)}

    probe = np.argsort(-(Qn @ cents.T), axis=1)[:, :nprobe]     # (Nq, nprobe)
    pairs = [(int(qids[i]), int(c)) for i in range(len(qids)) for c in probe[i]]
    probe_df = spark.createDataFrame(pairs, "query_id bigint, cell int")

    cells = corpus.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).withColumn("cell", _ivf_assign_udf(cents)("embedding"))
    cand = cells.join(F.broadcast(probe_df), "cell")

    def rerank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            C_ = np.asarray(b["embedding"].tolist(), dtype=np.float64)
            cn = np.maximum(np.sqrt((C_ * C_).sum(axis=1)), 1e-12)
            qv = np.stack([qd[int(q)] for q in b["query_id"]])
            qn = np.maximum(np.sqrt((qv * qv).sum(axis=1)), 1e-12)
            sim = (C_ * qv).sum(axis=1) / (cn * qn)
            keep = b["vec_id"].to_numpy(np.int64) != b["query_id"].to_numpy(np.int64)
            yield pd.DataFrame({
                "query_id": b["query_id"].to_numpy(np.int64)[keep],
                "neighbor_id": b["vec_id"].to_numpy(np.int64)[keep],
                "cos_sim": sim[keep],
            })

    scored = cand.mapInPandas(rerank, "query_id bigint, neighbor_id bigint, cos_sim double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))


def _ivf_probe_udf(cents: np.ndarray, nprobe: int):
    @pandas_udf(ArrayType(IntegerType()))
    def fn(emb: pd.Series) -> pd.Series:
        X = np.asarray(emb.tolist(), dtype=np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(X @ cents.T), axis=1)[:, :nprobe]
        return pd.Series([row.astype(np.int32) for row in order])
    return fn


def knn_embeddings_ivf_dist(queries: DataFrame, corpus: DataFrame, k: int = 5,
                            n_centroids: int = 64, nprobe: int = 8,
                            seed: int = 42) -> DataFrame:
    """ANN, fully distributed (VERDICT r5 #2): neither side is ever collected.

    The only driver-side work is training the coarse quantizer on a BOUNDED
    hash-ordered sample (``ivf_centroids``, KB-scale); the centroid table
    rides in the task closures. Queries explode to their ``nprobe`` nearest
    cells and the corpus maps to its nearest cell — both single Arrow
    passes — then ONE equi-join on ``cell`` produces candidates and the
    exact-cosine refine is a Catalyst higher-order expression
    (whole-stage codegen, zero Python after assignment).

    100 TB shape: corpus assignment is query-independent (write it once as
    a cell-partitioned table and the probe join prunes cells); the join
    shuffles on ``cell``, so pick n_centroids ~ sqrt(corpus) to keep cells
    executor-sized, and AQE splits residual hot cells. Per-query candidate
    work is ~nprobe/n_centroids of the corpus, same recall/probe trade as
    knn_embeddings_ivf (identical centroids, probes and candidate set — the
    pytest pins pair-level agreement between the two).
    Returns (query_id, neighbor_id, cos_sim, rank); self-match excluded.
    """
    cents = ivf_centroids(corpus, n_centroids=n_centroids, seed=seed)
    q = (queries.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").cast("array<double>").alias("emb_q"))
         .withColumn("cell", F.explode(_ivf_probe_udf(cents, nprobe)("emb_q"))))
    c = (corpus.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").cast("array<double>").alias("emb_c"))
         .withColumn("cell", _ivf_assign_udf(cents)("emb_c")))
    # no pair dedup needed: a query's probe cells are distinct and each
    # corpus vector lands in exactly one cell ⇒ (query, neighbor) unique
    scored = (q.join(c, "cell")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("cos_sim", _cosine_cols())
              .select("query_id", "neighbor_id", "cos_sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))


def _hyperplanes(dim: int, bits: int, seed: int) -> np.ndarray:
    """Deterministic random hyperplanes from splitmix64 (no RNG state)."""
    idx = np.arange(dim * bits, dtype=np.uint64)
    u = (K.h64(idx, seed, 7).astype(np.float64) / float(2 ** 64)) * 2.0 - 1.0
    return u.reshape(bits, dim)


def knn_embeddings_lsh(queries: DataFrame, corpus: DataFrame, k: int = 5,
                       bits: int = 16, bands: int = 4, seed: int = 42,
                       dim: int = 64) -> DataFrame:
    """ANN scale path: random-hyperplane LSH, banded.

    Sign-bits of ``bits`` hyperplane projections, split into ``bands`` bands;
    vectors sharing any band bucket become candidates; exact cosine re-ranks.
    Recall < 1 by design (approximate); the 100 TB win is that the join is
    equi on (band, bucket) instead of a cross join.
    """
    planes = _hyperplanes(dim, bits, seed)
    per_band = bits // bands
    planes_b = F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in planes])

    def with_buckets(df: DataFrame, idc: str, embc: str) -> DataFrame:
        emb = F.col(embc).cast("array<double>")
        sig = F.transform(planes_b, lambda row: (F.aggregate(
            F.zip_with(row, emb, lambda a, b: a * b), F.lit(0.0),
            lambda acc, v: acc + v) > 0).cast("int"))
        bucket_exprs = []
        for b in range(bands):
            bit_slice = F.slice(sig, b * per_band + 1, per_band)
            bucket = F.aggregate(bit_slice, F.lit(0), lambda acc, v: acc * 2 + v)
            bucket_exprs.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
        return df.select(F.col(idc), emb.alias("emb"),
                         F.explode(F.array(*bucket_exprs)).alias("bb"))

    qb = with_buckets(queries, "vec_id", "embedding").select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("emb_q"), "bb")
    cb = with_buckets(corpus, "vec_id", "embedding").select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("emb_c"), "bb")
    cand = (qb.join(cb, "bb").filter(F.col("query_id") != F.col("neighbor_id"))
            .dropDuplicates(["query_id", "neighbor_id"]))
    scored = cand.withColumn("cos_sim", _cosine_cols())
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))


def pm1_hyperplanes(dim: int, planes: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix for exact-arithmetic LSH.

    sign(p, d) = +1 iff the low bit of md5("hp:p:d") is 0 — no RNG state, no
    floats. The matrix is tiny (planes × dim small ints) and is embedded as
    literals in BOTH the Spark plan and the DuckDB oracle SQL, so the two
    engines share the exact same planes by construction.
    """
    import hashlib
    return [[1 if int(hashlib.md5(f"hp:{p}:{d}".encode()).hexdigest(), 16) & 1 == 0
             else -1 for d in range(dim)] for p in range(planes)]


def _int_dot(a, b):
    """Exact integer dot product of two array<bigint> columns — a Catalyst
    higher-order expression (whole-stage codegen, no Python)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def embedding_near_dup_pairs(emb: DataFrame, tau_num: int = 2, tau_den: int = 5,
                             planes: int = 32, band_bits: int = 4,
                             quant: int = 1_000_000, dim: int = 64) -> DataFrame:
    """Embedding-cosine near-dup pairs — the dedup-family member the driver
    mandate names alongside exact / MinHash-LSH / SimHash / n-gram Jaccard:
    emit (id_a < id_b) pairs whose embeddings share at least one LSH band
    bucket AND have exact cosine ≥ tau_num/tau_den.

    Exactness contract (what makes this fully oracle-able where the float
    ``knn_embeddings_lsh`` is not): embeddings quantize to int64
    (round(x·quant), SQL half-away-from-zero in both engines), hyperplanes
    are ±1 ints (``pm1_hyperplanes``), so every projection sign, dot and
    norm is exact integer arithmetic — no float sign/threshold boundary can
    differ between engines. The refine compares
        (tau_den·dot)² ≥ (tau_num²·|a|²)·|b|²   [and dot > 0]
    entirely in DECIMAL: at dim 64 / quant 1e6 each factor ≤ ~6.4e15 fits
    DECIMAL(19,0) and each product ≤ ~4.1e29 fits DECIMAL(38,0).

    100 TB shape: zero Python anywhere (quantization, projections, packing
    and refine are Catalyst higher-order expressions inside whole-stage
    codegen); the only shuffles are the (band, bucket) equi self-join — the
    LSH guarantee that this is never all-pairs — the pair distinct, and two
    hash joins back to the quantized-vector dim by id.
    """
    n_bands = planes // band_bits
    H = pm1_hyperplanes(dim, planes)
    h_lit = F.array(*[F.array(*[F.lit(v) for v in row]) for row in H])

    # exactness guard (ADVICE r5 #4): the refine computes dot·tau_den and
    # nrm·tau_num² in int64 BEFORE the decimal cast; a component with
    # |round(x·quant)| above this bound could silently overflow and break
    # the documented exactness contract, so out-of-range inputs raise
    # in-plan (executor-side, no extra scan) instead
    max_q = int(np.sqrt((2 ** 63 - 1)
                        / (dim * max(tau_den, tau_num * tau_num)))) - 1
    qv = emb.select(
        F.col("vec_id"),
        F.expr(f"transform(embedding, x -> CASE "
               f"WHEN abs(CAST(x AS DOUBLE)) * {quant} > {max_q} THEN "
               f"CAST(raise_error('embedding_near_dup_pairs: |component| > "
               f"{max_q / quant:.3f} overflows the exact int64 refine at "
               f"quant={quant}, dim={dim} — lower quant or rescale') "
               f"AS BIGINT) "
               f"ELSE CAST(round(CAST(x AS DOUBLE) * {quant}) AS BIGINT) END)")
        .alias("qe"))
    qv = qv.withColumn("nrm", _int_dot(F.col("qe"), F.col("qe")))

    # sign bits of the ±1 projections, packed into n_bands bucket ints
    sig = F.transform(h_lit, lambda row: (_int_dot(row.cast("array<bigint>"),
                                                   F.col("qe")) > 0).cast("int"))
    buckets = [F.struct(
        F.lit(b).alias("band"),
        F.aggregate(F.slice(sig, b * band_bits + 1, band_bits),
                    F.lit(0), lambda acc, v: acc * 2 + v).alias("bucket"))
        for b in range(n_bands)]
    banded = qv.select("vec_id", F.explode(F.array(*buckets)).alias("bb"))

    cand = (banded.alias("a")
            .join(banded.alias("b"), F.col("a.bb") == F.col("b.bb"))
            .filter(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("id_a"),
                    F.col("b.vec_id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))

    dimd = qv.select(F.col("vec_id"), F.col("qe"), F.col("nrm"))
    pairs = (cand
             .join(dimd.select(F.col("vec_id").alias("id_a"),
                               F.col("qe").alias("qe_a"),
                               F.col("nrm").alias("nrm_a")), "id_a")
             .join(dimd.select(F.col("vec_id").alias("id_b"),
                               F.col("qe").alias("qe_b"),
                               F.col("nrm").alias("nrm_b")), "id_b"))
    dot = _int_dot(F.col("qe_a"), F.col("qe_b"))
    lhs = (dot * tau_den).cast("decimal(19,0)")
    rhs_a = (F.col("nrm_a") * (tau_num * tau_num)).cast("decimal(19,0)")
    rhs_b = F.col("nrm_b").cast("decimal(19,0)")
    return (pairs.withColumn("_dot", dot)
            .filter((F.col("_dot") > 0) & (lhs * lhs >= rhs_a * rhs_b))
            .select("id_a", "id_b"))
