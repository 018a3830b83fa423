"""Similarity-search oracle queries over the embeddings fixture.

Engine path: arrow_spark.llm.similarity (broadcast cross join + JVM fold
cosine + per-query top-k window; LSH-bucketed variant for the scale
path). Oracle: DuckDB list_cosine_similarity over the same pairs, both
sides computing in float64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrow_spark.catalog import table
from arrow_spark.llm.similarity import (
    brute_force_topk,
    deterministic_planes,
    lsh_bucketed_topk,
)
from arrow_spark.queries.base import query

TOPK_COS_ORACLE = """
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
pairs AS (
  SELECT q.qid, e.vec_id AS nid,
         list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cos
  FROM q, embeddings e
  WHERE e.vec_id <> q.qid
),
ranked AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
  FROM pairs
)
SELECT qid, nid, round(cos, 6) AS cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


@query("similarity_topk_cosine", oracle=TOPK_COS_ORACLE)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact brute-force cosine top-10 for sampled query vectors."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    out = brute_force_topk(emb, queries, k=10)
    return out.select(
        "qid", "nid", F.round("cos", 6).alias("cos_sim"), "rank"
    )


def _lsh_topk_oracle(planes: list[list[float]]) -> str:
    """Exact SQL replay of the hyperplane bucketing: Spark's signature
    is a SEQUENTIAL JVM fold from a 0.0 accumulator, and DuckDB's
    list_reduce over a 0.0-prepended product list performs the identical
    left-to-right IEEE additions on the identical doubles (plane
    constants round-trip through repr; float embeddings cast to double
    the same way) — verified sign-for-sign on the full fixture. Bucket
    membership therefore replays exactly; scoring reuses the
    list_cosine_similarity formulation the brute-force oracle proved
    agrees at 6 decimals."""
    dim = len(planes[0])
    bits = ",\n    ".join(
        "CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, "
        f"{dim + 1}), i -> v[i] * ([{','.join(repr(x) for x in p)}])[i])), "
        "(a, b) -> a + b) >= 0 THEN '1' ELSE '0' END"
        for p in planes
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), sig AS (
  SELECT vec_id, v, concat({bits}) AS sig FROM e
), q AS (
  SELECT vec_id AS qid, v AS qv, sig FROM sig WHERE vec_id % 100 = 0
), pairs AS (
  SELECT q.qid, s.vec_id AS nid, list_cosine_similarity(q.qv, s.v) AS cos
  FROM q JOIN sig s USING (sig) WHERE s.vec_id <> q.qid
), ranked AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
  FROM pairs
)
SELECT qid, nid, round(cos, 6) AS cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


@query("similarity_lsh_topk", oracle=_lsh_topk_oracle(deterministic_planes(6, 64, seed=42)))
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (scale path). EXACT oracle since
    r4: the seeded hyperplanes inline into the SQL and both engines
    compute the sign folds with identical sequential IEEE additions, so
    the bucket assignment — the part that DEFINES this approximate
    result — is hash-checked, not just recall-tested."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    planes = deterministic_planes(6, 64, seed=42)
    out = lsh_bucketed_topk(emb, queries, planes, k=10)
    return out.select("qid", "nid", F.round("cos", 6).alias("cos_sim"), "rank")


@query("similarity_ivf_topk", oracle=None)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k (data-adaptive scale path beside
    the oblivious LSH variant; rows-only check — 5 unrolled k-means
    iterations aren't reasonably SQL-expressible). Determinism of the
    whole train/assign/probe pipeline and recall vs the exact path are
    asserted in unit tests."""
    from arrow_spark.llm.similarity import ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    out = ivf_topk(emb, queries, k=10, n_clusters=16, n_probe=4, n_iters=3)
    return out.select("qid", "nid", F.round("cos", 6).alias("cos_sim"), "rank")


@query("similarity_pq_topk", oracle=None)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-k (FAISS-style composition: inverted-file
    pruning → compressed-domain ADC scoring via JVM zip_with table
    lookups → exact cosine re-rank). Rows-only check — k-means codebooks
    and float matmuls aren't SQL-expressible; codebook determinism,
    code ranges, serve-from-index equivalence, and recall ≥0.9 vs brute
    force are asserted in tests/test_pq.py."""
    from arrow_spark.llm.similarity import ivf_pq_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    out = ivf_pq_topk(
        emb, queries, k=10, n_clusters=16, n_probe=4, m=8, n_codes=16,
        n_iters=3, refine_factor=3, sample_every=2,
    )
    return out.select("qid", "nid", F.round("cos", 6).alias("cos_sim"), "rank")


QUANTIZE_ORACLE = """
WITH x AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS v,
         CAST(unnest(range(len(embedding))) AS INT) AS dim
  FROM embeddings
), p AS (
  SELECT dim, min(v) AS mn, max(v) AS mx FROM x GROUP BY dim
)
SELECT x.vec_id, x.dim,
       CAST(CASE WHEN mx = mn THEN 0
                 ELSE floor((v - mn) / (mx - mn) * 254 + 0.5) - 127 END AS INT)
         AS code
FROM x JOIN p USING (dim)
"""


@query("embedding_quantize", oracle=QUANTIZE_ORACLE)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """affine int8 quantization of the embedding corpus (per-dim min/max
    codebook → codes in [-127, 127]), emitted in long form so the oracle
    hash checks every code. The codebook is dim-row metadata; the
    quantization itself is a UDF-free projection."""
    from arrow_spark.llm.similarity import quantization_params, quantize_embeddings

    emb = table(spark, sf_dir, "embeddings")
    params = quantization_params(emb)
    codes = quantize_embeddings(emb, params)
    return codes.select(
        "vec_id", F.posexplode("codes").alias("dim", "code")
    )


# ---------------------------------------------------------------------------
# Hash-exact IVF replay: the methodology capstone — even the APPROXIMATE
# ANN path becomes value-hash verifiable once every float is pinned.
# Embeddings snap to integer milli-units, so dots/norms are exact BIGINTs;
# Lloyd centroids are exact-sum/count divisions; every distance is the
# SAME ascending-dimension left fold on both engines. The production
# ivf_topk keeps its float matmul (faster, rows-only + recall-tested);
# this twin proves the algorithm end to end. (Pattern precedent:
# sketch_hll vs sketch_hll_rel.)
# ---------------------------------------------------------------------------

_IVF_K, _IVF_ITERS, _IVF_NPROBE, _IVF_TOPK, _DIMS = 4, 3, 2, 5, 64

_IVF_DIST = (
    "list_reduce(list_transform(range(1, {d} + 1),"
    " i -> (CAST({v}[i] AS DOUBLE) - {c}[i]) * (CAST({v}[i] AS DOUBLE) - {c}[i])),"
    " (x, y) -> x + y)"
)


def _lloyd_ctes(k: int, iters: int) -> list[str]:
    """WITH-clause parts for the pinned Lloyd replay: milli-snapped
    embeddings ``e``, first-k init ``c0``, then per iteration the
    assignment ``a{t}`` (against c{t-1}) and updated centroids ``c{t}``.
    Shared by the IVF replay and the SemDeDup oracle."""
    d = _DIMS
    parts = [f"""e AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings
), c0 AS MATERIALIZED (
  SELECT vec_id AS cid, list_transform(e, x -> CAST(x AS DOUBLE)) AS c
  FROM e WHERE vec_id < {k}
), idx(i) AS (SELECT unnest(range(1, {d} + 1)))"""]
    for t in range(1, iters + 1):
        dist = _IVF_DIST.format(d=d, v="v.e", c="c.c")
        parts.append(f"""a{t} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {dist} ASC, c.cid) AS rn
    FROM e v, c{t - 1} c
  ) WHERE rn = 1
), u{t} AS (
  SELECT cid, list(sm ORDER BY pos) AS c FROM (
    SELECT a.cid, idx.i AS pos,
           CAST(sum(e.e[idx.i]) AS DOUBLE) / count(*) AS sm
    FROM a{t} a JOIN e USING (vec_id), idx
    GROUP BY a.cid, idx.i
  ) GROUP BY cid
), c{t} AS MATERIALIZED (
  SELECT p.cid, coalesce(u.c, p.c) AS c
  FROM c{t - 1} p LEFT JOIN u{t} u USING (cid)
)""")
    return parts


def _ivf_replay_oracle() -> str:
    d = _DIMS
    parts = _lloyd_ctes(_IVF_K, _IVF_ITERS)
    qdist = _IVF_DIST.format(d=d, v="p.qe", c="c.c")
    dot = (
        f"list_reduce(list_transform(range(1, {d} + 1), i -> q.qe[i] * v.e[i]),"
        " (x, y) -> x + y)"
    )
    qn = (
        f"list_reduce(list_transform(range(1, {d} + 1), i -> q.qe[i] * q.qe[i]),"
        " (x, y) -> x + y)"
    )
    vn = (
        f"list_reduce(list_transform(range(1, {d} + 1), i -> v.e[i] * v.e[i]),"
        " (x, y) -> x + y)"
    )
    parts.append(f"""probe AS (
  SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id < 3
), qc AS (
  SELECT qid, cid FROM (
    SELECT p.qid, c.cid,
           ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY {qdist} ASC, c.cid) AS rn
    FROM probe p, c{_IVF_ITERS} c
  ) WHERE rn <= {_IVF_NPROBE}
), cand AS (
  SELECT qc.qid, a.vec_id FROM qc JOIN a{_IVF_ITERS} a USING (cid)
), scored AS (
  SELECT cand.qid, cand.vec_id,
         CAST({dot} AS DOUBLE) / (sqrt(CAST({qn} AS DOUBLE)) * sqrt(CAST({vn} AS DOUBLE)))
           AS cos
  FROM cand JOIN probe q USING (qid) JOIN e v ON cand.vec_id = v.vec_id
)""")
    return "WITH " + ",\n".join(parts) + f"""
SELECT qid, vec_id, CAST(rn AS INT) AS rank, cos FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= {_IVF_TOPK}
"""


def _fold_sq_dist(vec_col, centroid_vals):
    lit = F.array(*[F.lit(float(v)) for v in centroid_vals])
    return F.aggregate(
        F.zip_with(vec_col, lit, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def milli_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings fixture snapped to integer milli-units,
    ``(vec_id, e)`` with e = round(x·1000) as BIGINT, localCheckpointed
    once — the shared input of every hash-exact ANN replay."""
    return table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("e"),
    ).localCheckpoint()


def pinned_lloyd(emb, k: int, iters: int):
    """(assign, cents) after ``iters`` pinned Lloyd passes over
    milli-int embeddings (vec_id, e): first-k-by-id init, exact-integer
    sums → one double division per centroid dim, lowest-cid tie-break.
    The returned ``assign`` is the final pass's assignment (computed
    against the (iters−1)-times-updated centroids), i.e. ``a{iters}`` of
    ``_lloyd_ctes`` — the two replay paths stay cell-for-cell equal.
    Driver holds only k×dim centroid floats per iteration."""
    cents = {
        r["vec_id"]: [float(v) for v in r["e"]]
        for r in emb.where(F.col("vec_id") < k).collect()
    }
    assign = None
    for _ in range(iters):
        dists = F.array(
            *[
                F.struct(
                    _fold_sq_dist(F.col("e"), cents[cid]).alias("dist"),
                    F.lit(cid).alias("cid"),
                )
                for cid in sorted(cents)
            ]
        )
        assign = emb.withColumn("cid", F.array_min(dists)["cid"])
        sums = (
            assign.select("cid", F.posexplode("e").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "pos",
                                (F.col("s").cast("double") / F.col("n").cast("double")).alias("m"),
                            )
                        )
                    ),
                    lambda st: st["m"],
                ).alias("c")
            )
            .collect()
        )
        new_cents = {r["cid"]: list(r["c"]) for r in sums}
        cents = {cid: new_cents.get(cid, c) for cid, c in cents.items()}
    return assign, cents


@query("similarity_ivf_exact_replay", oracle=_ivf_replay_oracle())
def similarity_ivf_exact_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with every float pinned: 3 Lloyd iterations on
    milli-snapped embeddings (k=4, first-k init, empty clusters keep
    their centroid), nprobe=2 probe, exact integer cosine top-5 for
    three query vectors — hash-identical to the DuckDB unrolled replay.
    Driver holds only the k×64 centroids per iteration (the Lloyd
    scalar-collect precedent)."""
    emb = milli_embeddings(spark, sf_dir)
    assign, cents = pinned_lloyd(emb, _IVF_K, _IVF_ITERS)
    probe = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    qdists = F.array(
        *[
            F.struct(
                _fold_sq_dist(F.col("qe"), cents[cid]).alias("dist"),
                F.lit(cid).alias("cid"),
            )
            for cid in sorted(cents)
        ]
    )
    qc = probe.select(
        "qid", "qe",
        F.explode(F.slice(F.array_sort(qdists), 1, _IVF_NPROBE)).alias("pc"),
    ).select("qid", "qe", F.col("pc.cid").alias("cid"))
    cand = qc.join(assign.select("vec_id", "cid", "e"), "cid")
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("e"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )

    def _norm(col):
        return F.sqrt(
            F.aggregate(
                F.transform(col, lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            ).cast("double")
        )

    scored = cand.select(
        "qid", "vec_id",
        (dot.cast("double") / (_norm(F.col("qe")) * _norm(F.col("e")))).alias("cos"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _IVF_TOPK)
        .select("qid", "vec_id", "rank", "cos")
    )


# ---------------------------------------------------------------------------
# Hash-exact PQ replay: the pinned-float methodology applied to product
# quantization (the last ANN family without an exact gate). m=4
# subspaces x 16 dims, k=4 codes, 2 Lloyd iterations per book, ADC
# top-5 for 3 queries. Every codebook mean, code assignment, and ADC
# distance is bit-identical to the generated DuckDB replay; the
# production pq_topk keeps its float matmul (rows-only + recall tests).
# ---------------------------------------------------------------------------

_PQ_M, _PQ_DSUB, _PQ_K, _PQ_ITERS, _PQ_TOPK = 4, 16, 4, 2, 5


def _pq_sub(expr: str, s: int) -> str:
    """DuckDB slice of subspace s (1-based list positions)."""
    return f"list_transform(range({s * _PQ_DSUB} + 1, {(s + 1) * _PQ_DSUB} + 1), i -> {expr}[i])"


def _pq_dist(v: str, c: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {_PQ_DSUB} + 1),"
        f" i -> (CAST({v}[i] AS DOUBLE) - {c}[i]) * (CAST({v}[i] AS DOUBLE) - {c}[i])),"
        " (x, y) -> x + y)"
    )


def _pq_replay_oracle() -> str:
    parts = [f"""e AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings
), sidx(i) AS (SELECT unnest(range(1, {_PQ_DSUB} + 1)))"""]
    for s in range(_PQ_M):
        parts.append(f"""sub{s} AS MATERIALIZED (
  SELECT vec_id, {_pq_sub('e', s)} AS v FROM e
), cb{s}_0 AS MATERIALIZED (
  SELECT vec_id AS code, list_transform(v, x -> CAST(x AS DOUBLE)) AS c
  FROM sub{s} WHERE vec_id < {_PQ_K}
)""")
        for t in range(1, _PQ_ITERS + 1):
            parts.append(f"""as{s}_{t} AS MATERIALIZED (
  SELECT vec_id, code FROM (
    SELECT v.vec_id, c.code,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {_pq_dist('v.v', 'c.c')} ASC, c.code) AS rn
    FROM sub{s} v, cb{s}_{t - 1} c
  ) WHERE rn = 1
), up{s}_{t} AS (
  SELECT code, list(sm ORDER BY pos) AS c FROM (
    SELECT a.code, sidx.i AS pos,
           CAST(sum(v.v[sidx.i]) AS DOUBLE) / count(*) AS sm
    FROM as{s}_{t} a JOIN sub{s} v USING (vec_id), sidx
    GROUP BY a.code, sidx.i
  ) GROUP BY code
), cb{s}_{t} AS MATERIALIZED (
  SELECT p.code, coalesce(u.c, p.c) AS c
  FROM cb{s}_{t - 1} p LEFT JOIN up{s}_{t} u USING (code)
)""")
    T = _PQ_ITERS
    code_cols = ", ".join(
        f"a{s}.code AS code{s}" for s in range(_PQ_M)
    )
    code_joins = " ".join(
        f"JOIN as{s}_{T} a{s} USING (vec_id)" for s in range(_PQ_M)
    )
    parts.append(f"""codes AS MATERIALIZED (
  SELECT vec_id, {code_cols} FROM e {code_joins}
), probe AS (
  SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id < 3
)""")
    for s in range(_PQ_M):
        parts.append(f"""tab{s} AS MATERIALIZED (
  SELECT p.qid, c.code, {_pq_dist(_pq_sub('p.qe', s), 'c.c')} AS d
  FROM probe p, cb{s}_{T} c
)""")
    tab_joins = " ".join(
        f"JOIN tab{s} t{s} ON t{s}.qid = p.qid AND t{s}.code = codes.code{s}"
        for s in range(_PQ_M)
    )
    adc = " + ".join(f"t{s}.d" for s in range(_PQ_M))
    parts.append(f"""scored AS (
  SELECT p.qid, codes.vec_id, {adc} AS adc
  FROM probe p, codes {tab_joins}
  WHERE codes.vec_id <> p.qid
)""")
    return "WITH " + ",\n".join(parts) + f"""
SELECT qid, vec_id, CAST(rn AS INT) AS rank, adc FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id) AS rn
  FROM scored
) WHERE rn <= {_PQ_TOPK}
"""


@query("similarity_pq_exact_replay", oracle=_pq_replay_oracle())
def similarity_pq_exact_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC with every float pinned: per-subspace 2-iteration Lloyd
    codebooks on milli-snapped embeddings (first-k init, empty codes
    keep their centroid), code assignment by ordered-fold distances,
    ADC = fixed-order sum of 4 table lookups — hash-identical to the
    generated DuckDB replay. Completes the exact-gate coverage of every
    ANN family (brute force, LSH, IVF, now PQ)."""
    from pyspark.sql import Window as W

    emb = milli_embeddings(spark, sf_dir)
    # per-subspace pinned Lloyd (the IVF-replay loop on each slice)
    books: list[dict[int, list[float]]] = []
    code_cols = []
    for s in range(_PQ_M):
        sv = emb.select("vec_id", F.slice("e", s * _PQ_DSUB + 1, _PQ_DSUB).alias("e"))
        assign, cents = pinned_lloyd(sv, _PQ_K, _PQ_ITERS)
        books.append(cents)
        code_cols.append(assign.select("vec_id", F.col("cid").alias(f"code{s}")))

    codes = emb.select("vec_id")
    for s in range(_PQ_M):
        codes = codes.join(code_cols[s], "vec_id")
    codes = codes.localCheckpoint()

    # query distance tables, driver-computed with the SAME ascending
    # left fold the oracle's list_reduce performs
    qrows = emb.where(F.col("vec_id") < 3).collect()
    out = []
    for r in qrows:
        qid, qe = r["vec_id"], [int(x) for x in r["e"]]
        adc = None
        for s in range(_PQ_M):
            qsub = qe[s * _PQ_DSUB: (s + 1) * _PQ_DSUB]
            table_s = {}
            for code, c in books[s].items():
                acc = 0.0
                for i in range(_PQ_DSUB):
                    acc = acc + (float(qsub[i]) - c[i]) * (float(qsub[i]) - c[i])
                table_s[code] = acc
            term = F.element_at(
                F.array(*[F.lit(table_s[code]) for code in sorted(table_s)]),
                F.col(f"code{s}") + 1,
            )
            adc = term if adc is None else adc + term
        out.append(
            codes.where(F.col("vec_id") != qid).select(
                F.lit(qid).alias("qid"), "vec_id", adc.alias("adc")
            )
        )
    scored = out[0]
    for df in out[1:]:
        scored = scored.unionByName(df)
    w = W.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _PQ_TOPK)
        .select("qid", "vec_id", "rank", "adc")
    )


def _ann_quality_oracle() -> str:
    """Per-query recall@k and MRR of the pinned IVF replay against the
    exact integer-cosine top-k — BOTH sides are replays this module
    already proves hash-exact, so their comparison is hash-exact too
    (the dedup_eval_lsh_recall pattern applied to ANN)."""
    d = _DIMS
    dot = (
        f"list_reduce(list_transform(range(1, {d} + 1), i -> q.e[i] * v.e[i]),"
        " (x, y) -> x + y)"
    )
    qn = (
        f"list_reduce(list_transform(range(1, {d} + 1), i -> q.e[i] * q.e[i]),"
        " (x, y) -> x + y)"
    )
    vn = (
        f"list_reduce(list_transform(range(1, {d} + 1), i -> v.e[i] * v.e[i]),"
        " (x, y) -> x + y)"
    )
    return f"""
WITH ivf AS (
  {_ivf_replay_oracle().strip()}
), e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings
), exact AS (
  SELECT qid, vec_id, rn AS rank FROM (
    SELECT q.vec_id AS qid, v.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY CAST({dot} AS DOUBLE)
                      / (sqrt(CAST({qn} AS DOUBLE)) * sqrt(CAST({vn} AS DOUBLE)))
                      DESC, v.vec_id ASC) AS rn
    FROM e q, e v WHERE q.vec_id < 3
  ) WHERE rn <= {_IVF_TOPK}
), hits AS (
  SELECT i.qid, i.vec_id, i.rank AS ivf_rank
  FROM ivf i JOIN exact x ON i.qid = x.qid AND i.vec_id = x.vec_id
)
SELECT q.qid,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n, 0) AS DOUBLE) / {_IVF_TOPK} AS recall_at_k,
       CASE WHEN h.best IS NOT NULL THEN CAST(1 AS DOUBLE) / h.best END AS mrr
FROM (SELECT DISTINCT qid FROM ivf) q
LEFT JOIN (SELECT qid, count(*) AS n, min(ivf_rank) AS best
           FROM hits GROUP BY qid) h USING (qid)
"""


@query("similarity_eval_ann_quality", oracle=_ann_quality_oracle())
def similarity_eval_ann_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: per probe query, recall@5 and MRR of the pinned
    IVF replay against the exact integer-cosine top-5 over the full
    corpus. Both rankings are already hash-exact constructions, and the
    metrics are single IEEE divisions of exact integers — the numbers a
    planner reads before trusting an index, themselves value-hash
    verified. (Per-query rows only: cross-query means would be a ≥3-term
    float sum whose order differs between engines.)"""
    from pyspark.sql import Window as W2

    from arrow_spark.queries.base import REGISTRY

    ivf = REGISTRY["similarity_ivf_exact_replay"].fn(spark, sf_dir)
    emb = milli_embeddings(spark, sf_dir)
    probe = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    dot = F.aggregate(
        F.zip_with("qe", "e", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )

    def _n(col):
        return F.sqrt(
            F.aggregate(
                F.transform(col, lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            ).cast("double")
        )

    scored = probe.crossJoin(emb).select(
        "qid", "vec_id",
        (dot.cast("double") / (_n(F.col("qe")) * _n(F.col("e")))).alias("cos"),
    )
    w = W2.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _IVF_TOPK)
        .select("qid", "vec_id")
    )
    hits = (
        ivf.select("qid", "vec_id", F.col("rank").alias("ivf_rank"))
        .join(exact, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n"), F.min("ivf_rank").alias("best"))
    )
    base = ivf.select("qid").distinct()
    return base.join(hits, "qid", "left").select(
        "qid",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n"), F.lit(0)).cast("double") / _IVF_TOPK).alias(
            "recall_at_k"
        ),
        F.when(
            F.col("best").isNotNull(), F.lit(1.0) / F.col("best").cast("double")
        ).alias("mrr"),
    )


COVARIANCE_ORACLE = """
WITH e AS (
  SELECT list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
flat AS (
  SELECT i.i AS i, u.j AS j,
         sum(CAST(e[i.i + 1] AS HUGEINT) * CAST(e[u.j + 1] AS HUGEINT)) AS gram
  FROM e CROSS JOIN generate_series(0, 63) i(i)
         CROSS JOIN generate_series(0, 63) u(j)
  WHERE i.i <= u.j GROUP BY 1, 2
),
s AS (
  SELECT i.i AS i, sum(CAST(e[i.i + 1] AS HUGEINT)) AS s
  FROM e CROSS JOIN generate_series(0, 63) i(i) GROUP BY 1
)
SELECT f.i, f.j, n.n,
       CAST(f.gram AS DOUBLE) AS gram,
       CAST(si.s AS DOUBLE) AS s_i, CAST(sj.s AS DOUBLE) AS s_j,
       CASE WHEN n.n > 0 THEN
         (CAST(n.n AS DOUBLE) * CAST(f.gram AS DOUBLE)
          - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE))
         / (CAST(n.n AS DOUBLE) * CAST(n.n AS DOUBLE))
       END AS cov
FROM flat f JOIN s si ON si.i = f.i JOIN s sj ON sj.i = f.j CROSS JOIN n
"""


@query("embedding_covariance", oracle=COVARIANCE_ORACLE)
def embedding_covariance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT covariance upper triangle of the embedding corpus on the
    milli-snapped integer lattice (llm/similarity.py::
    embedding_covariance) — the PCA/whitening/anisotropy input. Each
    Arrow batch computes its int64 Gram matrix with ONE numpy matmul
    inside mapInArrow; the shuffle folds ≤ dim²/2+dim+1 partial cells
    per task regardless of corpus size. The oracle recomputes the same
    sums by per-dimension unnesting — different algebra, identical
    exact integers; cov spends one fixed IEEE tree."""
    from arrow_spark.llm.similarity import embedding_covariance

    return embedding_covariance(
        table(spark, sf_dir, "embeddings"), "embedding", dim=64
    )
