"""Similarity search over embedding columns.

Brute-force cosine top-k is the exact baseline (fully Catalyst-native:
``zip_with`` + ``aggregate`` fold, no UDF); random-hyperplane LSH bucketing
is the scale path — at 10^12 vectors the query joins only its own bucket
ring instead of scanning everything.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _as_lit_array(vec: list[float]):
    return F.array(*[F.lit(float(x)) for x in vec])


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``.

    Plan shape: one projection computing the score (whole-stage codegen)
    followed by ``TakeOrderedAndProject`` — Spark's distributed top-k, no
    global sort materialization. Tie-break on id for a deterministic set.
    """
    q = _as_lit_array(query_vec)
    emb = F.col("embedding").cast("array<double>")
    score = F.round(_dot(emb, q) / (_norm(emb) * _norm(q)), 6)
    return (
        embeddings.select(F.col("vec_id"), score.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def _srp_planes(num_planes: int, dim: int) -> list[list[float]]:
    """``num_planes`` fixed seeded Gaussian hyperplanes in ``dim`` dims."""
    rng = random.Random(42)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]


def hyperplane_lsh_buckets(
    embeddings: DataFrame,
    num_planes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane (SRP) LSH: sign pattern of ``num_planes`` fixed
    seeded hyperplanes → integer bucket. Deterministic.
    Adds a ``bucket`` column; equal buckets = candidate neighbors."""
    planes = _srp_planes(num_planes, dim)
    emb = F.col("embedding").cast("array<double>")
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(_dot(emb, _as_lit_array(p)) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + (bit.cast("long") * F.lit(1 << i))
    return embeddings.withColumn("bucket", bucket)


# ivf_assign: more centroids than this assign through a broadcast matmul
MAX_LITERAL_CENTROIDS = 64
IVF_CENTROIDS = 16  # ivf_topk's coarse quantizer size


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: k-means centroids trained driver-side on a
    deterministic sample (numpy Lloyd iterations, seeded init), cluster
    assignment pushed down as a Catalyst argmin expression.

    Training on a bounded sample is the standard IVF recipe (FAISS trains
    on ~256×k vectors); assignment is a projection over the full corpus —
    no shuffle, scales linearly. Reads (vec_id, embedding); returns
    (embeddings + ``cluster`` column, centroids)."""
    import numpy as np

    sample = (
        embeddings.select("embedding")
        # deterministic AND engine-portable sample order (md5 of the id
        # string is reproducible in any engine, unlike Spark's xxhash64 —
        # lets the DuckDB/pure-Python oracle replay the exact same k-means)
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(2048)
        .toPandas()
    )
    mat = np.vstack([np.asarray(v, dtype=np.float64) for v in sample["embedding"]])
    rng = np.random.RandomState(seed)
    centroids = mat[rng.choice(len(mat), size=min(n_centroids, len(mat)), replace=False)]
    for _ in range(5):
        d = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(centroids)):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)

    cents = [list(map(float, c)) for c in centroids]
    if len(cents) <= MAX_LITERAL_CENTROIDS:
        emb = F.col("embedding").cast("array<double>")
        # argmin via an array of per-centroid distances + array_position of
        # the min — flat expression tree (a chained CASE WHEN would double
        # the tree per centroid and blow up Catalyst)
        dist_cols = [
            F.aggregate(
                F.zip_with(emb, _as_lit_array(cvec), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda s, v: s + v,
            )
            for cvec in cents
        ]
        dists = F.array(*dist_cols)
        cluster = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        return embeddings.withColumn("cluster", cluster), cents

    # large-k scale path: embedding k×d literals in the plan blows up
    # Catalyst (k=4096 × d=64 doubles per expression tree); broadcast the
    # centroid matrix and argmin with one BLAS matmul per Arrow batch
    import pandas as pd
    from pyspark.sql.types import IntegerType

    cmat = np.asarray(cents, dtype=np.float64)  # (k, d)
    c_sq = (cmat * cmat).sum(axis=1)  # ||c||² per centroid
    bc = embeddings.sparkSession.sparkContext.broadcast((cmat, c_sq))

    def _assign_fn(vecs):
        m, msq = bc.value
        block = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        # argmin ||v-c||² = argmin (||c||² − 2 v·c); ||v||² constant per row
        return pd.Series((msq[None, :] - 2.0 * (block @ m.T)).argmin(axis=1).astype(np.int32))

    _assign = F.pandas_udf(_assign_fn, IntegerType())
    return embeddings.withColumn("cluster", _assign(F.col("embedding"))), cents


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: score only the ``n_probe`` of
    ``IVF_CENTROIDS`` clusters nearest to the query (the FAISS IVF-Flat
    shape). Recall is tuned by n_probe;
    candidates are scored exactly, so results are a subset of brute force.
    At 10^12 scale, write the corpus partitioned by ``cluster`` so probes
    prune partitions at the scan."""
    import numpy as np

    assigned, centroids = ivf_assign(embeddings, n_centroids=IVF_CENTROIDS)
    q = np.asarray(query_vec, dtype=np.float64)
    dists = [(((np.asarray(c) - q) ** 2).sum(), i) for i, c in enumerate(centroids)]
    probe = [i for _, i in sorted(dists)[:n_probe]]
    return cosine_topk(
        assigned.filter(F.col("cluster").isin(probe)).drop("cluster"), query_vec, k=k
    )


def ann_topk_lsh(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: restrict the exact scorer to the query's SRP
    bucket (and therefore a ~2^-num_planes fraction of the corpus).

    Recall/latency is tuned by ``num_planes``; candidates within the bucket
    are scored exactly, so results are a subset of the brute-force ranking.
    """
    qbucket = 0
    for i, p in enumerate(_srp_planes(num_planes, len(query_vec))):
        if sum(x * y for x, y in zip(query_vec, p)) >= 0:
            qbucket |= 1 << i
    bucketed = hyperplane_lsh_buckets(
        embeddings, num_planes=num_planes, dim=len(query_vec)
    )
    return cosine_topk(
        bucketed.filter(F.col("bucket") == qbucket).drop("bucket"), query_vec, k=k
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127, stored
    as (scale, array<tinyint>) — 4x smaller than float32 at rest, the
    standard storage trade for 10^12-vector corpora. Pure Catalyst;
    dequantize with :func:`dequantize_int8`. round() is HALF_UP, matching
    the DuckDB oracle."""
    emb = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(emb, lambda x: F.abs(x))) / F.lit(127.0)
    q = F.when(scale == 0, F.transform(emb, lambda x: x.cast("tinyint"))).otherwise(
        F.transform(emb, lambda x: F.round(x / scale, 0).cast("tinyint"))
    )
    return embeddings.withColumn("embedding_q8_scale", scale).withColumn(
        "embedding_q8", q
    )


def dequantize_int8(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "embedding_deq",
        F.transform(
            F.col("embedding_q8"),
            lambda x: x.cast("double") * F.col("embedding_q8_scale"),
        ),
    )


# semdedup: the k-means seed, the auto cluster size, and the re-split
# guard's cluster cap and depth
SEMDEDUP_SEED = 42
TARGET_CLUSTER_SIZE = 5000
MAX_CLUSTER_SIZE = 20_000
MAX_SPLIT_DEPTH = 3


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_clusters: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication — k-means the
    embedding space, then within each cluster keep ONE representative per
    cosine ε-ball. Near-duplicate *meanings* (paraphrases, templated
    rewrites) that no lexical dedup can see collapse to one exemplar.

    Plan shape: centroid training + assignment reuse the IVF quantizer
    (driver-side seeded Lloyd on a bounded sample, Catalyst-argmin
    assignment — no shuffle); the only shuffle is the groupBy(cluster)
    feeding one Arrow ``applyInPandas`` pass that runs the deterministic
    greedy leader scan per cluster: ids ascending, drop any vector whose
    cosine to an already-kept vector exceeds ``threshold`` (chunked
    matmul against the kept set — never a full pairwise matrix). The
    paper's keep-first-by-order rule is used with id order so re-runs and
    the oracle replay are byte-identical.

    Scale guards (r4 verdict #2 — a whole cluster's embedding matrix must
    fit one executor, so oversized clusters are never processed whole):

    * ``n_clusters=None`` auto-derives ``ceil(count/TARGET_CLUSTER_SIZE)``
      from one cheap ``count()`` — the paper's clusters ≈ corpus/5k rule
      enforced, not just documented.
    * Any cluster above ``MAX_CLUSTER_SIZE`` is recursively RE-SPLIT by a
      salted sub-k-means (deterministic: seed mixed with depth + cluster
      id CRC), up to ``MAX_SPLIT_DEPTH`` times; clusters still oversized
      at the cap (e.g. one giant exact-duplicate ball, where k-means
      can't separate anything) get a forced balanced hash split.
    * Survivors of every split cluster then get a SECOND greedy pass as
      one group, so duplicates that straddled a split boundary still
      collapse — for duplicate-heavy clusters the final kept set equals
      the unsplit answer (tests/test_similarity.py pins this).
    * If even the survivor set exceeds ``MAX_CLUSTER_SIZE`` (a genuinely
      diverse mega-cluster), the second pass is skipped and those rows are
      SURFACED with ``oversized_split=true`` — cross-split near-dups may
      survive there; never a silent cap, never an OOM.

    Reads (vec_id, embedding). Returns the KEPT rows of ``embeddings``
    plus an ``oversized_split``
    boolean column (false everywhere when no guard fired)."""
    import math
    import zlib

    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    # Empty input short-circuits BEFORE ivf_assign (whose centroid
    # sampler np.vstack's a non-empty sample): curate()'s embeddings
    # semi-join against survivors can legitimately come up empty.
    if n_clusters is None:
        cnt = embeddings.count()
        if cnt == 0:
            return embeddings.withColumn("oversized_split", F.lit(False))
        n_clusters = max(1, math.ceil(cnt / TARGET_CLUSTER_SIZE))
    elif not embeddings.take(1):
        return embeddings.withColumn("oversized_split", F.lit(False))

    from readur_spark.plans.curation import _release_checkpoint

    assigned, _cents = ivf_assign(
        embeddings, n_centroids=n_clusters, seed=SEMDEDUP_SEED
    )
    # persisted: the assignment projection feeds the oversized() size
    # check AND the prune shuffle (plus every split-loop filter) — one
    # materialization instead of recomputing the argmin scan per pass
    work = assigned.withColumn("gid", F.col("cluster").cast("string")).drop(
        "cluster"
    ).persist()
    work_is_ckpt = False

    def _discard(frame, is_ckpt: bool) -> None:
        # release a superseded backing frame (cache or checkpoint blocks)
        if is_ckpt:
            _release_checkpoint(frame)
        else:
            frame.unpersist()

    def oversized(df: DataFrame) -> list[tuple[str, int]]:
        # ONE row per group — metadata scale, never corpus scale
        return [
            (r["gid"], int(r["n"]))
            for r in df.groupBy("gid")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > MAX_CLUSTER_SIZE)
            .collect()
        ]

    split_roots: set[str] = set()
    over = oversized(work)
    for depth in range(MAX_SPLIT_DEPTH):
        if not over:
            break
        parts = [work.filter(~F.col("gid").isin([g for g, _ in over]))]
        for g, n in over:
            split_roots.add(g.split("/", 1)[0].split("#", 1)[0])
            sub = work.filter(F.col("gid") == g).drop("gid")
            k = max(2, math.ceil(n / TARGET_CLUSTER_SIZE))
            sub_seed = (
                SEMDEDUP_SEED + 7919 * (depth + 1) + zlib.crc32(g.encode())
            ) % (2**31)
            sub_assigned, _ = ivf_assign(sub, n_centroids=k, seed=sub_seed)
            parts.append(
                sub_assigned.withColumn(
                    "gid",
                    F.concat_ws(
                        "/", F.lit(g), F.col("cluster").cast("string")
                    ),
                ).drop("cluster")
            )
        nxt = parts[0]
        for p in parts[1:]:
            nxt = nxt.unionByName(p)
        # guard path only: cut the union lineage before the next round,
        # then release the superseded backing frame (round-5 review: the
        # split loop used to leak one corpus-scale checkpoint per depth)
        nxt = nxt.localCheckpoint(eager=True)
        _discard(work, work_is_ckpt)
        work, work_is_ckpt = nxt, True
        over = oversized(work)
    if over:
        # depth cap reached with groups k-means cannot separate (identical
        # vectors collapse to one centroid): forced balanced hash split
        for g, _ in over:
            split_roots.add(g.split("/", 1)[0].split("#", 1)[0])
        kmap = {
            g: max(2, math.ceil(n / TARGET_CLUSTER_SIZE)) for g, n in over
        }
        k_col = F.create_map(
            *[F.lit(x) for kv in kmap.items() for x in kv]
        )[F.col("gid")]
        # keep `backing` pointing at the materialized frame: this wrapper
        # is lazy on top of it, and releasing the wrapper would no-op
        backing, backing_is_ckpt = work, work_is_ckpt
        work = work.withColumn(
            "gid",
            F.when(
                k_col.isNotNull(),
                F.concat_ws(
                    "#",
                    F.col("gid"),
                    F.pmod(F.xxhash64(F.col("vec_id")), k_col).cast("string"),
                ),
            ).otherwise(F.col("gid")),
        )
    else:
        backing, backing_is_ckpt = work, work_is_ckpt

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf["vec_id"].to_numpy().argsort(kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        mat = np.vstack(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"].to_numpy()[order]]
        )
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        kept_idx: list[int] = []
        # preallocated kept buffer with a fill pointer: appending via
        # vstack would copy the whole accumulated matrix per keep (O(k²d))
        buf = np.empty_like(unit)
        m = 0
        for i in range(len(ids)):
            if m:
                sims = buf[:m] @ unit[i]
                if np.round(sims.max(), 6) > threshold:
                    continue
            kept_idx.append(i)
            buf[m] = unit[i]
            m += 1
        return pdf.iloc[order[kept_idx]]

    gid_schema = T.StructType(
        list(embeddings.schema.fields)
        + [T.StructField("gid", T.StringType())]
    )
    pruned = work.groupBy("gid").applyInPandas(
        lambda pdf: prune(pdf), schema=gid_schema
    )
    base_cols = [f.name for f in embeddings.schema.fields]

    if not split_roots:
        out = pruned.select(
            *base_cols, F.lit(False).alias("oversized_split")
        )
        # eager checkpoint of the (smaller) kept set, then release the
        # assignment cache — the returned plan never re-derives clusters
        out = out.localCheckpoint(eager=True)
        _discard(backing, backing_is_ckpt)
        return out

    # survivor pass: regroup each split cluster's survivors and re-prune
    # them as ONE group when they fit — boundary-straddling duplicates
    # collapse here. Residually-huge survivor sets skip it, flagged.
    root = F.split_part(F.col("gid"), F.lit("/"), F.lit(1))
    root = F.split_part(root, F.lit("#"), F.lit(1))
    pruned = pruned.withColumn("root", root).localCheckpoint(eager=True)
    _discard(backing, backing_is_ckpt)  # pruned no longer references it
    roots = sorted(split_roots)
    surv = {
        r["root"]: int(r["n"])
        for r in pruned.filter(F.col("root").isin(roots))
        .groupBy("root")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    refit = sorted(g for g, n in surv.items() if n <= MAX_CLUSTER_SIZE)
    residual = sorted(set(surv) - set(refit))

    out = pruned.filter(~F.col("root").isin(roots)).select(
        *base_cols, F.lit(False).alias("oversized_split")
    )
    if refit:
        root_schema = T.StructType(
            list(gid_schema.fields) + [T.StructField("root", T.StringType())]
        )
        second = (
            pruned.filter(F.col("root").isin(refit))
            .withColumn("gid", F.col("root"))
            .groupBy("gid")
            .applyInPandas(lambda pdf: prune(pdf), schema=root_schema)
        )
        out = out.unionByName(
            second.select(*base_cols, F.lit(False).alias("oversized_split"))
        )
    if residual:
        out = out.unionByName(
            pruned.filter(F.col("root").isin(residual)).select(
                *base_cols, F.lit(True).alias("oversized_split")
            )
        )
    out = out.localCheckpoint(eager=True)
    _release_checkpoint(pruned)
    return out
