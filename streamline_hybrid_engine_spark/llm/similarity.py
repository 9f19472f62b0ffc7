"""Similarity search over embeddings — SURVEY §2.11.

Beyond-reference mandate: approximate-nearest-neighbor over an
``array<float>`` column. Two paths:
- brute-force cosine top-k (the correctness baseline) — blocked by label
  so the pair count is |block|² not |table|²;
- LSH (random-hyperplane signs) bucketing — the 100 TB path: signatures
  are one narrow shuffle key, candidates come from a bucket equi-join,
  exact dot only reranks within buckets.

Numeric convention: elements are float32; every product is computed after
CAST to double (exact widening, identical IEEE ops in Spark and DuckDB),
accumulated left-to-right, rounded to 6. DuckDB's ``list_dot_product``
accumulates in float32 (verified ≠ double math at 1e-8) — oracles use the
explicit list_transform/list_sum form instead.

The fixture embeddings are unit-norm (verified), so dot == cosine.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from streamline_hybrid_engine_spark.catalog import load_table
from streamline_hybrid_engine_spark.iteration import iterate
from streamline_hybrid_engine_spark.registry import query

N_PLANES = 8

#: Spark-side dot product of two float-array columns, in double.
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)

#: same fold over arrays already cast to double — use with _to_double:
#: pre-casting per ROW instead of per PAIR measured ~20% faster on the
#: blocked self-joins (identical values, identical fold order).
_DOT_D = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)

_TO_DOUBLE = "transform({v}, x -> CAST(x AS DOUBLE))"

#: DuckDB-side equivalent (1-based element access via range join).
_ODOT = (
    "list_sum(list_transform(range(1, 65),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@query(
    "llm_embedding_norm",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           round(list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 6) AS l1_norm,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) / 64, 6) AS mean_c
    FROM embeddings
    """,
    tags=("llm", "embedding"),
)
def llm_embedding_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding norms/mean via higher-order array functions (all JVM)."""
    e = load_table(spark, sf_dir, "embeddings", parallel=True)
    sq = "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    ab = "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + abs(CAST(x AS DOUBLE)))"
    sm = "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"
    return e.select(
        "vec_id",
        "label",
        F.round(F.expr(f"sqrt({sq})"), 6).alias("l2_norm"),
        F.round(F.expr(ab), 6).alias("l1_norm"),
        F.round(F.expr(sm) / 64, 6).alias("mean_c"),
    )


@query(
    "llm_knn_cosine_label",
    oracle=f"""
    SELECT a.vec_id,
           arg_max(b.vec_id, {_ODOT.format(a="a.embedding", b="b.embedding")}) AS nn_id,
           round(max({_ODOT.format(a="a.embedding", b="b.embedding")}), 6) AS nn_cos
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
    GROUP BY a.vec_id
    """,
    tags=("llm", "knn"),
)
def llm_knn_cosine_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine nearest neighbor, blocked by label.

    label is the blocking key (|block|≈|table|/10): the self-join shuffles
    on label once, pairs stay within a partition, and the dot product is a
    single codegen'd higher-order expression.
    """
    e = load_table(spark, sf_dir, "embeddings", parallel=True).withColumn(
        "ed", F.expr(_TO_DOUBLE.format(v="embedding"))
    )
    a = e.select(F.col("vec_id").alias("vec_id"), "label", F.col("ed").alias("ea"))
    b = e.select(F.col("vec_id").alias("b_id"), "label", F.col("ed").alias("eb"))
    dot = F.expr(_DOT_D.format(a="ea", b="eb"))
    return (
        a.join(b, "label")
        .filter(F.col("vec_id") != F.col("b_id"))
        .withColumn("dot", dot)
        .groupBy("vec_id")
        .agg(
            F.max_by("b_id", "dot").alias("nn_id"),
            F.round(F.max("dot"), 6).alias("nn_cos"),
        )
    )


@query(
    "llm_ann_bruteforce_topk",
    oracle=f"""
    SELECT b.vec_id, b.label,
           round({_ODOT.format(a="q.embedding", b="b.embedding")}, 6) AS cos_sim
    FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    CROSS JOIN embeddings b
    WHERE b.vec_id <> 0
    ORDER BY cos_sim DESC, b.vec_id
    LIMIT 10
    """,
    tags=("llm", "knn"),
)
def llm_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-query brute-force ANN baseline: broadcast the query vector,
    score all candidates, global top-10 (TakeOrderedAndProject — no full
    sort even at 100 TB)."""
    e = load_table(spark, sf_dir, "embeddings", parallel=True)
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    dot = F.expr(_DOT.format(a="qe", b="embedding"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", F.round(dot, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


def _lsh_bucket_expr(vec: str) -> str:
    """8-bit random-hyperplane bucket as a bitstring.

    Hyperplane p's component i has sign +1 iff hex digit ((p*64+i) mod 32)
    of md5('plane:p:i') has its high bit set — deterministic, engine-
    portable pseudo-randomness (same trick as the SimHash operator).
    """
    return (
        "array_join(transform(sequence(0, %d), p -> "
        "CASE WHEN aggregate(zip_with(%s, sequence(p * 64, p * 64 + 63),"
        " (x, i) -> CAST(x AS DOUBLE) * (CASE WHEN instr('89abcdef',"
        " substr(md5(concat('plane:', CAST(i AS STRING))), 1, 1)) > 0"
        " THEN 1.0 ELSE -1.0 END)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) > 0 THEN '1' ELSE '0' END), '')"
        % (N_PLANES - 1, vec)
    )


_OLSH = (
    "array_to_string(list_transform(range(0, %d), p -> "
    "CASE WHEN list_sum(list_transform(range(1, 65),"
    " i -> CAST(%s[i] AS DOUBLE) * (CASE WHEN strpos('89abcdef',"
    " substr(md5('plane:' || CAST(p * 64 + i - 1 AS VARCHAR)), 1, 1)) > 0"
    " THEN 1.0 ELSE -1.0 END)))"
    " > 0 THEN '1' ELSE '0' END), '')"
)


@query(
    "llm_knn_lsh",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, label, embedding,
             {_OLSH % (N_PLANES, "embedding")} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id, a.bucket,
           arg_max(b.vec_id, {_ODOT.format(a="a.embedding", b="b.embedding")}) AS nn_id,
           round(max({_ODOT.format(a="a.embedding", b="b.embedding")}), 6) AS nn_cos
    FROM bucketed a
    JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    GROUP BY a.vec_id, a.bucket
    """,
    tags=("llm", "knn", "lsh"),
)
def llm_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the scale path): random-hyperplane signatures →
    equi-join on bucket → exact rerank within bucket.

    vs brute force: the join key is the 8-bit bucket (≈256 cells), so
    candidate pairs shrink by ~2^8 while recall stays high for close
    vectors; at 100 TB the bucket column is a narrow shuffle key and AQE
    splits any hot bucket.
    """
    e = load_table(spark, sf_dir, "embeddings", parallel=True)
    bucketed = e.withColumn("bucket", F.expr(_lsh_bucket_expr("embedding"))).withColumn(
        "ed", F.expr(_TO_DOUBLE.format(v="embedding"))
    )
    a = bucketed.select(
        F.col("vec_id").alias("vec_id"), "bucket", F.col("ed").alias("ea")
    )
    b = bucketed.select(
        F.col("vec_id").alias("b_id"), "bucket", F.col("ed").alias("eb")
    )
    dot = F.expr(_DOT_D.format(a="ea", b="eb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_id") != F.col("b_id"))
        .withColumn("dot", dot)
        .groupBy("vec_id", "bucket")
        .agg(
            F.max_by("b_id", "dot").alias("nn_id"),
            F.round(F.max("dot"), 6).alias("nn_cos"),
        )
    )


@query(
    "llm_embedding_centroid",
    oracle="""
    SELECT label, CAST(i - 1 AS INT) AS pos,
           round(floor(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
                 / count(*)) / 1000000, 6) AS centroid_c
    FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i)
    GROUP BY label, i
    """,
    tags=("llm", "embedding", "centroid"),
)
def llm_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (elementwise mean) of the embedding column —
    the k-means/IVF building block (coarse quantizer training step).

    posexplode → (label, pos) grouped mean via the fixed-point convention.
    One shuffle on (label, pos): 64·|labels| cells regardless of corpus
    size, map-side partial agg bounds the shuffle — the IVF coarse
    centroid refresh at 100 TB is exactly this plan.
    """
    e = load_table(spark, sf_dir, "embeddings", parallel=True)
    ex = e.select("label", F.posexplode("embedding").alias("pos", "x"))
    sum_micros = F.sum(F.floor(F.col("x").cast("double") * 1_000_000).cast("long"))
    # floor the mean to the micro grid BEFORE rounding (see numeric.davg)
    mean = F.floor(sum_micros.cast("double") / F.count("*")) / 1_000_000.0
    return (
        ex.groupBy("label", "pos")
        .agg(F.round(mean, 6).alias("centroid_c"))
        .select("label", F.col("pos").cast("int").alias("pos"), "centroid_c")
    )


def label_centroids(e: DataFrame) -> DataFrame:
    """Per-label centroids in fixed point (floor-µ mean of floor-µ
    components — integer-exact, so Spark and DuckDB agree bitwise),
    as (c_label, cvec). The coarse quantizer shared by the IVF and
    SemDeDup operators; its DuckDB twin is ``_ORACLE_CENTROIDS``."""
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            (
                F.floor(
                    F.sum(
                        F.floor(F.col("x").cast("double") * 1_000_000).cast("long")
                    ).cast("double")
                    / F.count("*")
                )
                / 1_000_000.0
            ).alias("cc")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cc"))), lambda s: s.cc
            ).alias("cvec")
        )
        .select(F.col("label").alias("c_label"), "cvec")
    )


_ORACLE_CENTROIDS = """
    SELECT label,
           list(cc ORDER BY pos) AS cvec
    FROM (
      SELECT label, CAST(i - 1 AS INT) AS pos,
             floor(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
                   / count(*)) / 1000000 AS cc
      FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i)
      GROUP BY label, i
    ) GROUP BY label
"""


@query(
    "llm_knn_ivf",
    oracle=f"""
    WITH cents AS ({_ORACLE_CENTROIDS}),
    assigned AS (
      SELECT vec_id, embedding, label AS cell
      FROM (
        SELECT e.vec_id, e.embedding, c.label,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_ODOT.format(a="e.embedding", b="c.cvec")} DESC, c.label
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    )
    SELECT vec_id, cell, nn_id, nn_cos FROM (
      SELECT a.vec_id, a.cell, b.vec_id AS nn_id,
             round({_ODOT.format(a="a.embedding", b="b.embedding")}, 6) AS nn_cos,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_ODOT.format(a="a.embedding", b="b.embedding")} DESC, b.vec_id
             ) AS rn
      FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id
    ) WHERE rn = 1
    """,
    tags=("llm", "knn", "ivf"),
)
def llm_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: train a coarse quantizer (per-label centroids =
    k-means with labels as the fixed assignment — the IVF *structure*
    without the iterative training), assign every vector to its nearest
    centroid cell by inner product, then exact-rerank within the cell
    (nprobe=1).

    The 100 TB path FAISS-style: the centroid table is tiny and broadcast;
    assignment is a map-side argmax over ~K dots per vector (no shuffle);
    the rerank join shuffles on the cell id — |cell| ≈ N/K keeps pair
    growth bounded, AQE splits hot cells. Deterministic tie-breaking
    (dot desc, id asc) keeps the oracle exact.
    """
    e = load_table(spark, sf_dir, "embeddings")
    cent = label_centroids(e)
    cdot = F.expr(_DOT.format(a="embedding", b="cvec"))
    # Top-1 picks are partial/final max_by AGGREGATES (deterministic
    # (score desc, id asc) tie-break as struct(score, -id)), not
    # row_number windows. Physically a struct ordering key executes as
    # SortAggregate (grouping-key sort; r7 plan audit) — the map-side
    # combine is what matters: one candidate per vec_id crosses the
    # shuffle instead of the 2.5M scored rows a window would move.
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .withColumn("cdot", cdot)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "c_label", F.struct(F.col("cdot"), (-F.col("c_label")).alias("nl"))
            ).alias("cell"),
            F.first(F.expr(_TO_DOUBLE.format(v="embedding"))).alias("ed"),
        )
    )
    # Both rerank sides read `assigned`; without this the crossJoin+agg
    # subtree executes twice (exchange reuse does not fire across the
    # differing post-agg projections). One lazy materialization, read twice.
    assigned = assigned.localCheckpoint(eager=False)
    a = assigned.select(
        F.col("vec_id").alias("vec_id"), "cell", F.col("ed").alias("ea")
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"), F.col("cell").alias("b_cell"), F.col("ed").alias("eb")
    )
    pdot = F.expr(_DOT_D.format(a="ea", b="eb"))
    # The rerank join key is the cell id and there are only ~K cells, so an
    # unsalted join caps parallelism at K tasks and every cell is a hot key.
    # Salt the probe side (operators.skew.salted_join): the dot-product
    # compute — the dominant cost — spreads over K×n_salts partitions.
    from streamline_hybrid_engine_spark.operators.skew import salted_join

    return (
        salted_join(a, b, "cell", "b_cell", n_salts=8)
        .drop("b_cell")
        .filter(F.col("vec_id") != F.col("b_id"))
        .withColumn("dot", pdot)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cell", "b_id", "dot"),
                F.struct(F.col("dot"), (-F.col("b_id")).alias("nb")),
            ).alias("s")
        )
        .select(
            "vec_id",
            F.col("s.cell").alias("cell"),
            F.col("s.b_id").alias("nn_id"),
            F.round("s.dot", 6).alias("nn_cos"),
        )
    )


NPROBE = 2  # cells each query inspects in the multi-probe IVF


@query(
    "llm_knn_ivf_multiprobe",
    oracle=f"""
    WITH cents AS ({_ORACLE_CENTROIDS}),
    ranked AS (
      SELECT e.vec_id, e.embedding, c.label,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_ODOT.format(a="e.embedding", b="c.cvec")} DESC, c.label
             ) AS rn
      FROM embeddings e CROSS JOIN cents c
    ),
    probes AS (
      SELECT vec_id, embedding, label AS cell, rn FROM ranked
      WHERE rn <= {NPROBE}
    ),
    data AS (SELECT vec_id, embedding, cell FROM probes WHERE rn = 1)
    SELECT vec_id, nn_cell, nn_id, nn_cos FROM (
      SELECT a.vec_id, b.cell AS nn_cell, b.vec_id AS nn_id,
             round({_ODOT.format(a="a.embedding", b="b.embedding")}, 6) AS nn_cos,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_ODOT.format(a="a.embedding", b="b.embedding")} DESC,
                        b.vec_id
             ) AS rn2
      FROM probes a JOIN data b ON b.cell = a.cell AND b.vec_id <> a.vec_id
    ) WHERE rn2 = 1
    """,
    tags=("llm", "knn", "ivf"),
)
def llm_knn_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF — the first knob a user turns when llm_knn_ivf's
    recall is low (llm_ann_recall_eval is the audit that sends them
    here): every vector still LIVES in exactly one cell (its top-1
    centroid — the index is stored once), but each QUERY inspects its
    top-{NPROBE} cells and exact-reranks over the union, recovering the
    neighbors that sit just across a Voronoi boundary. FAISS nprobe
    semantics, deterministic end to end: probe ranking ties break to the
    smaller centroid label, rerank ties to the smaller vector id, so the
    oracle is exact.

    Scale shape: the centroid scoring stays a broadcast crossJoin, but
    the probe ranking needs top-{NPROBE} per vector, not top-1 — a
    row_number over (vec_id) partitions of the SKINNY (vec_id, label,
    score) table (embeddings are dropped before the window and joined
    back after, so the shuffle moves N×K scalar rows, never N×K vector
    copies). The probe side then carries {NPROBE} rows per query into
    the same salted cell-keyed rerank join the nprobe=1 id uses —
    candidate volume scales linearly in nprobe, never all-pairs. A
    (query, candidate) pair can match at most once: the candidate has
    ONE home cell and a query's probe cells are distinct. Per-query
    nn_cos dominance over the nprobe=1 answer is test-pinned (the
    candidate set is a superset by construction)."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = label_centroids(e)
    cdot = F.expr(_DOT.format(a="embedding", b="cvec"))
    scored = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "c_label", cdot.alias("cdot"))
    )
    from pyspark.sql import Window

    wq = Window.partitionBy("vec_id").orderBy(
        F.col("cdot").desc(), F.col("c_label")
    )
    probes = (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= NPROBE)
        .select("vec_id", F.col("c_label").alias("cell"), "rn")
    )
    emb = e.select(
        "vec_id", F.expr(_TO_DOUBLE.format(v="embedding")).alias("ed")
    )
    # both rerank sides read the probe table; one lazy materialization
    probes = probes.localCheckpoint(eager=False)
    a = probes.join(emb, "vec_id").select(
        "vec_id", "cell", F.col("ed").alias("ea")
    )
    b = (
        probes.filter(F.col("rn") == 1)
        .join(emb, "vec_id")
        .select(
            F.col("vec_id").alias("b_id"),
            F.col("cell").alias("b_cell"),
            F.col("ed").alias("eb"),
        )
    )
    from streamline_hybrid_engine_spark.operators.skew import salted_join

    pdot = F.expr(_DOT_D.format(a="ea", b="eb"))
    return (
        salted_join(a, b, "cell", "b_cell", n_salts=8)
        .drop("b_cell")
        .filter(F.col("vec_id") != F.col("b_id"))
        .withColumn("dot", pdot)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct(F.col("cell").alias("c"), "b_id", "dot"),
                F.struct(F.col("dot"), (-F.col("b_id")).alias("nb")),
            ).alias("s")
        )
        .select(
            "vec_id",
            F.col("s.c").alias("nn_cell"),
            F.col("s.b_id").alias("nn_id"),
            F.round("s.dot", 6).alias("nn_cos"),
        )
    )


@query(
    "llm_dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           round({_ODOT.format(a="a.embedding", b="b.embedding")}, 6) AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_ODOT.format(a="a.embedding", b="b.embedding")} >= 0.25
    """,
    tags=("llm", "dedup", "embedding"),
)
def llm_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection: semantic duplicate pairs above
    a cosine threshold (0.25 here — calibrated to the synthetic fixture whose
    same-label cosines top out near 0.48; production corpora use ~0.9+), blocked by label (at scale: LSH/IVF cells as the
    block — same join, different key; see llm_knn_lsh/llm_knn_ivf).

    The semantic complement to lexical MinHash: paraphrases hash apart but
    embed together. Unit-norm fixture → dot == cosine.
    """
    e = load_table(spark, sf_dir, "embeddings", parallel=True).withColumn(
        "ed", F.expr(_TO_DOUBLE.format(v="embedding"))
    )
    a = e.select(F.col("vec_id").alias("d1"), "label", F.col("ed").alias("ea"))
    b = e.select(F.col("vec_id").alias("d2"), "label", F.col("ed").alias("eb"))
    dot = F.expr(_DOT_D.format(a="ea", b="eb"))
    return (
        a.join(b, "label")
        .filter(F.col("d1") < F.col("d2"))
        .withColumn("cos_sim_raw", dot)
        .filter(F.col("cos_sim_raw") >= 0.25)
        .select("d1", "d2", F.round("cos_sim_raw", 6).alias("cos_sim"))
    )


@query(
    "llm_embedding_quantize_int8",
    oracle="""
    SELECT vec_id,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 127) AS BIGINT))) AS BIGINT) AS q_sum,
           CAST(list_max(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 127) AS BIGINT))) AS BIGINT) AS q_max,
           round(list_sum(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * 127) / 127.0))), 6) AS recon_err_l1
    FROM embeddings
    """,
    tags=("llm", "embedding", "quantize"),
)
def llm_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (the storage/bandwidth lever for ANN at
    100 TB: 4× smaller vectors): q = floor(x·127), plus the L1
    reconstruction error of dequantization — all higher-order JVM
    expressions, summarized per vector so the oracle hashes compactly."""
    e = load_table(spark, sf_dir, "embeddings", parallel=True)
    q = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127) AS BIGINT))"
    err = (
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc +"
        " abs(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * 127) / CAST(127.0 AS DOUBLE)))"
    )
    return e.select(
        "vec_id",
        F.expr(f"aggregate({q}, CAST(0 AS BIGINT), (acc, v) -> acc + v)").alias("q_sum"),
        F.expr(f"array_max({q})").alias("q_max"),
        F.round(F.expr(err), 6).alias("recon_err_l1"),
    )


@query(
    "llm_ann_range_search",
    oracle=f"""
    SELECT b.vec_id, b.label,
           round({_ODOT.format(a="q.embedding", b="b.embedding")}, 6) AS cos_sim
    FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    CROSS JOIN embeddings b
    WHERE b.vec_id <> 0
      AND {_ODOT.format(a="q.embedding", b="b.embedding")} >= 0.2
    """,
    tags=("llm", "knn", "range"),
)
def llm_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) similarity search: ALL vectors within a cosine
    threshold of the query — the dedup/retrieval dual of top-k (top-k wants
    the best k however far; range wants everything closer than τ, its
    cardinality is data-dependent). τ=0.2 is calibrated to the fixture's
    same-label cosine range (tops out near 0.48).

    Scale: identical plan to the brute-force top-k (broadcast query,
    codegen'd dot, map-side filter — no sort or limit at all, so it is
    pure scan+filter at any scale); with an index the LSH/IVF bucket joins
    of llm_knn_lsh/llm_knn_ivf pre-filter the candidates the same way.
    """
    e = load_table(spark, sf_dir, "embeddings", parallel=True)
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    dot = F.expr(_DOT.format(a="qe", b="embedding"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("cos_raw", dot)
        .filter(F.col("cos_raw") >= 0.2)
        .select("vec_id", "label", F.round("cos_raw", 6).alias("cos_sim"))
    )


@query(
    "llm_embedding_gram",
    oracle="""
    WITH ex AS (
      SELECT vec_id, gs.i AS i, CAST(embedding[gs.i + 1] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(range(0, 64)) AS i) gs
    )
    SELECT a.i AS i, b.i AS j,
           CAST(sum(CAST(floor(a.x * b.x * 1000000) AS BIGINT)) AS BIGINT) AS g_fp
    FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY a.i, b.i
    """,
    tags=("llm", "embedding", "linalg"),
)
def llm_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram (uncentered covariance) matrix of the embedding corpus — the
    distributed half of PCA/whitening/low-rank probes (the 64×64
    eigendecomposition that follows is driver-side trivia; THIS sum over
    all vectors is the part that must scale). Upper triangle as long-form
    (i, j, g_fp) rows, fixed-point 1e6 so the accumulation is exact
    integers (order/partitioning-independent — float gram sums differ in
    the last ulps per engine).

    Shape here (r13, guide §4.2): per-partition outer-product
    accumulation in an Arrow mapInPandas kernel — each task folds its
    rows into ONE int64 64×64 accumulator with vectorized numpy
    (floor((x_i·x_j)·1e6) per row, the identical IEEE-double op order as
    the previous posexplode+self-join SQL form, so the exact-integer
    output is bit-equal), then emits its d(d+1)/2 = 2080 upper-triangle
    partials; the groupBy merges partition partials. The r1-r12 SQL form
    materialized N×d² joined rows through a vec_id self-join (8.2M rows
    at the 2000-vector fixture, N×4096 at any scale) just to feed the
    same 2080-cell aggregate — the exploding join was the cost, not the
    arithmetic (r13 interleaved A/B below). The shuffle still carries
    2080 cells per partition and partial-aggregates map-side.
    """
    e = load_table(spark, sf_dir, "embeddings", parallel=True)

    def gram_partials(batches):
        import numpy as np
        import pandas as pd

        d = _PCA_DIM
        acc = np.zeros((d, d), dtype=np.int64)
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            # float32 components cast to double BEFORE the product —
            # exactly CAST(x AS DOUBLE) in the SQL form (f32→f64 exact)
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # chunked so the n×d×d intermediate stays ~16 MB
            for s in range(0, len(x), 512):
                c = x[s : s + 512]
                p = np.einsum("ni,nj->nij", c, c)
                np.multiply(p, 1000000.0, out=p)
                np.floor(p, out=p)
                acc += p.astype(np.int64).sum(axis=0)
                seen = True
        if seen:
            iu = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "g_fp": acc[iu],
                }
            )

    return (
        e.select("embedding")
        .mapInPandas(gram_partials, "i int, j int, g_fp long")
        .groupBy("i", "j")
        .agg(F.sum("g_fp").alias("g_fp"))
    )


# --- PCA closure (r10-verdict task 5) ----------------------------------------

PCA_SCALE = 1_000_000  # micros fixed point, matching the gram's 1e6
PCA_T = 10  # power-iteration rounds per component (fixed → finite oracle)
_PCA_DIM = 64


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — what Spark ``div`` and
    DuckDB ``//`` both do (verified incl. HUGEINT), and what Python ``//``
    does NOT (floor). Divisors here are always positive."""
    q = abs(a) // b
    return q if a >= 0 else -q


def pca_power_component(
    gram: list, v0: list, t_iters: int = PCA_T, orth: list | None = None
) -> list:
    """One eigen-component of a symmetric integer matrix by EXACT-INTEGER
    power iteration — the driver-side half of PCA over
    :func:`llm_embedding_gram`'s output. Each round: u = G·v (exact
    Python-int matvec), optional deflation against ``orth`` (u −
    trunc(⟨u,w⟩·w / ⟨w,w⟩) — integer Gram–Schmidt; truncation makes it
    approximate orthogonalization, but every step is deterministic
    integer arithmetic), then ∞-norm renormalization to micros
    (v = trunc(u·1e6 / max|u|)) — no sqrt, no float, so the oracle's
    unrolled HUGEINT CTE chain reproduces the sequence BIT-FOR-BIT
    rather than to-within-ulps (the same reason the engine's AUC/DSIR
    math is integer by policy). The gram is PSD, so the iteration
    converges without sign oscillation; the sign convention is pinned by
    v0 (all +1e6 for c1; alternating ±1e6 for c2) instead of a
    post-hoc flip. Convergence quality is fuzz-audited against numpy's
    eigh (cos > 0.99 on random PSD matrices); cross-engine equality is
    what the oracle hash certifies."""
    n = len(v0)
    v = list(v0)
    d = sum(w * w for w in orth) if orth is not None else 0
    for _ in range(t_iters):
        u = [sum(gram[i][j] * v[j] for j in range(n)) for i in range(n)]
        if orth is not None:
            c = sum(u[i] * orth[i] for i in range(n))
            u = [u[i] - _tdiv(c * orth[i], d) for i in range(n)]
        m = max(max(abs(x) for x in u), 1)
        v = [_tdiv(x * PCA_SCALE, m) for x in u]
    return v


def _pca_cte_chain() -> str:
    """Unrolled exact-integer power iteration as a MATERIALIZED CTE chain
    (plain CTEs inline per reference and go exponential on iterative
    chains — the llm_bpe_train_merges lesson), ending in ``proj``
    (vec_id, p1_fp, p2_fp). Every value is a BIGINT/HUGEINT; sums are
    order-independent, so the chain equals the Spark side's
    driver-Python ints bit-for-bit. Shared by _pca_oracle and the
    recall-delta eval's oracle (llm_pca_recall_eval)."""
    s = PCA_SCALE
    ctes = [
        f"ex AS MATERIALIZED (SELECT vec_id, gs.i AS i,"
        f" CAST(embedding[gs.i + 1] AS DOUBLE) AS x"
        f" FROM embeddings, (SELECT unnest(range(0, {_PCA_DIM})) AS i) gs)",
        f"gram_ut AS MATERIALIZED (SELECT a.i AS i, b.i AS j,"
        f" CAST(sum(CAST(floor(a.x * b.x * {s}) AS BIGINT)) AS BIGINT) AS g"
        f" FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i"
        f" GROUP BY a.i, b.i)",
        "gram AS MATERIALIZED (SELECT i, j, g FROM gram_ut UNION ALL"
        " SELECT j AS i, i AS j, g FROM gram_ut WHERE i < j)",
        f"c1v0 AS MATERIALIZED (SELECT CAST(gs.i AS BIGINT) AS i,"
        f" CAST({s} AS HUGEINT) AS v"
        f" FROM (SELECT unnest(range(0, {_PCA_DIM})) AS i) gs)",
    ]
    for t in range(1, PCA_T + 1):
        ctes.append(
            f"c1u{t} AS MATERIALIZED (SELECT g.i AS i,"
            f" sum(g.g::HUGEINT * v.v) AS u"
            f" FROM gram g JOIN c1v{t - 1} v ON v.i = g.j GROUP BY g.i)"
        )
        ctes.append(
            f"c1v{t} AS MATERIALIZED (SELECT i, (u * {s}) //"
            f" greatest((SELECT max(abs(u)) FROM c1u{t}), 1) AS v"
            f" FROM c1u{t})"
        )
    ctes += [
        f"w1 AS MATERIALIZED (SELECT i, CAST(v AS BIGINT) AS w FROM c1v{PCA_T})",
        "den AS MATERIALIZED (SELECT sum(w::HUGEINT * w::HUGEINT) AS d FROM w1)",
        f"c2v0 AS MATERIALIZED (SELECT CAST(gs.i AS BIGINT) AS i,"
        f" CAST(CASE WHEN gs.i % 2 = 0 THEN {s} ELSE -{s} END AS HUGEINT) AS v"
        f" FROM (SELECT unnest(range(0, {_PCA_DIM})) AS i) gs)",
    ]
    for t in range(1, PCA_T + 1):
        ctes.append(
            f"c2u{t} AS MATERIALIZED (SELECT g.i AS i,"
            f" sum(g.g::HUGEINT * v.v) AS u"
            f" FROM gram g JOIN c2v{t - 1} v ON v.i = g.j GROUP BY g.i)"
        )
        ctes.append(
            f"c2c{t} AS MATERIALIZED (SELECT sum(u.u * w.w::HUGEINT) AS c"
            f" FROM c2u{t} u JOIN w1 w ON w.i = u.i)"
        )
        ctes.append(
            f"c2o{t} AS MATERIALIZED (SELECT u.i,"
            f" u.u - ((SELECT c FROM c2c{t}) * w.w::HUGEINT)"
            f" // (SELECT d FROM den) AS u"
            f" FROM c2u{t} u JOIN w1 w ON w.i = u.i)"
        )
        ctes.append(
            f"c2v{t} AS MATERIALIZED (SELECT i, (u * {s}) //"
            f" greatest((SELECT max(abs(u)) FROM c2o{t}), 1) AS v"
            f" FROM c2o{t})"
        )
    ctes += [
        f"w2 AS MATERIALIZED (SELECT i, CAST(v AS BIGINT) AS w FROM c2v{PCA_T})",
        f"xq AS MATERIALIZED (SELECT vec_id, gs.i AS i,"
        f" CAST(floor(CAST(embedding[gs.i + 1] AS DOUBLE) * {s}) AS BIGINT)"
        f" AS xq"
        f" FROM embeddings, (SELECT unnest(range(0, {_PCA_DIM})) AS i) gs)",
        "proj AS MATERIALIZED (SELECT x.vec_id,"
        " CAST(sum(x.xq * w1.w) AS BIGINT) AS p1_fp,"
        " CAST(sum(x.xq * w2.w) AS BIGINT) AS p2_fp"
        " FROM xq x JOIN w1 ON w1.i = x.i JOIN w2 ON w2.i = x.i"
        " GROUP BY x.vec_id)",
    ]
    return ",\n    ".join(ctes)


def _pca_oracle() -> str:
    return (
        f"WITH {_pca_cte_chain()}\n"
        "SELECT e.vec_id, e.label, p.p1_fp, p.p2_fp\n"
        "FROM proj p JOIN embeddings e ON e.vec_id = p.vec_id"
    )


@query(
    "llm_embedding_pca_project",
    oracle=_pca_oracle(),
    tags=("llm", "embedding", "linalg", "ml"),
)
def llm_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA closure (SURVEY §2.11): llm_embedding_gram is "the distributed
    half of PCA" — this id is the other half, end to end. The corpus-sized
    work is ONE pass (the exact-integer gram, identical plan to
    llm_embedding_gram); the 64×64 eigen problem is driver-side trivia by
    that id's own contract (2080 collected cells — dimension-sized, the
    same policy as AQE plan finalization), solved here by the
    deterministic integer power iteration (:func:`pca_power_component`,
    top-2 components, integer deflation); the projection matrix then
    rides back as TWO 64-long literal arrays folded map-side into every
    row (zip_with/aggregate — pure codegen, zero shuffle, no UDF). Output
    is (vec_id, label, p1_fp, p2_fp) exact-integer projections at 1e12
    fixed point — the k-dim embedding a semantic-dedup/IVF stage would
    consume instead of the raw 64 floats (8× less shuffle per cosine
    join). The oracle replays the identical integer recurrence as an
    unrolled MATERIALIZED HUGEINT CTE chain, so any drift in the matvec,
    deflation truncation, or ∞-norm renormalization breaks the hash."""
    e = load_table(spark, sf_dir, "embeddings", parallel=True)
    cells = llm_embedding_gram(spark, sf_dir).collect()
    gram = [[0] * _PCA_DIM for _ in range(_PCA_DIM)]
    for r in cells:
        gram[r["i"]][r["j"]] = gram[r["j"]][r["i"]] = r["g_fp"]
    w1 = pca_power_component(gram, [PCA_SCALE] * _PCA_DIM)
    w2 = pca_power_component(
        gram,
        [PCA_SCALE if i % 2 == 0 else -PCA_SCALE for i in range(_PCA_DIM)],
        orth=w1,
    )

    def lit_arr(w: list) -> str:
        return "array(" + ", ".join(f"{x}L" for x in w) + ")"

    xq = (
        f"transform({_TO_DOUBLE.format(v='embedding')},"
        f" x -> CAST(floor(x * {PCA_SCALE}) AS BIGINT))"
    )
    proj = (
        "aggregate(zip_with({x}, {w}, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return e.select(
        "vec_id",
        "label",
        F.expr(proj.format(x=xq, w=lit_arr(w1))).alias("p1_fp"),
        F.expr(proj.format(x=xq, w=lit_arr(w2))).alias("p2_fp"),
    )


K_MEANS = 10  # clusters (seeded from vec_id 0..9)
KM_ROUNDS = 3  # fixed rounds keep the oracle finite (unrolled CTE chain)

#: squared L2 distance between a double-array column and a centroid
#: double-array column — left-to-right fold, identical in both engines.
_SQDIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_OSQDIST = (
    "list_sum(list_transform(range(1, 65),"
    " i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) * (CAST({a}[i] AS DOUBLE) - {b}[i])))"
)


def _km_oracle() -> str:
    """Unrolled Lloyd's iterations as a CTE chain (KM_ROUNDS assign+update
    pairs). Centroid means are fixed-point micros (floor(sum(floor(x*1e6))
    / n) / 1e6 — grid doubles, identical cross-engine); assignment is
    rank-1 over (floor(distance*1e6), cid) — the grid-floored distance
    absorbs fold-order ulp noise and ties break to the smallest centroid
    id in both engines."""
    ctes = [
        f"cent0 AS (SELECT vec_id AS cid,"
        f" list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv"
        f" FROM embeddings WHERE vec_id < {K_MEANS})"
    ]
    prev = "cent0"
    for r in range(1, KM_ROUNDS + 1):
        dist = _OSQDIST.format(a="e.embedding", b="c.cv")
        ctes.append(
            f"assign{r} AS ("
            f" SELECT vec_id, cid FROM ("
            f"  SELECT e.vec_id, c.cid,"
            f"   row_number() OVER (PARTITION BY e.vec_id"
            f"    ORDER BY CAST(floor(({dist}) * 1000000) AS BIGINT), c.cid) AS rk"
            f"  FROM embeddings e CROSS JOIN {prev} c)"
            f" WHERE rk = 1)"
        )
        if r < KM_ROUNDS:
            ctes.append(
                f"cent{r} AS ("
                f" SELECT cid, list(m ORDER BY i) AS cv FROM ("
                f"  SELECT a.cid, gs.i AS i,"
                f"   floor(CAST(sum(CAST(floor(CAST(e.embedding[gs.i + 1] AS DOUBLE)"
                f"     * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1000000 AS m"
                f"  FROM assign{r} a"
                f"  JOIN embeddings e ON e.vec_id = a.vec_id,"
                f"   (SELECT unnest(range(0, 64)) AS i) gs"
                f"  GROUP BY a.cid, gs.i)"
                f" GROUP BY cid)"
            )
            prev = f"cent{r}"
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT a.cid AS cluster_id, count(*) AS n_members,"
        f" min(a.vec_id) AS min_member\n"
        f"FROM assign{KM_ROUNDS} a GROUP BY a.cid"
    )


@query("llm_kmeans_lloyd", oracle=_km_oracle(), tags=("llm", "ml", "iterative"))
def llm_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus — the FULL IVF training
    loop (`llm_knn_ivf` runs one assignment step against given centroids;
    this learns them): 3 rounds of assign (argmin squared-L2, ties to the
    smallest centroid id) + update (per-dimension fixed-point mean), seeds
    = vectors 0..K-1.

    Determinism contract: centroid means land on the 1e-6 grid (exact
    integer sums, floored division), so every round's centroids — and
    therefore every distance comparison — is bit-identical across engines
    and partitionings; the oracle unrolls the same 3 rounds as a CTE chain.

    Scale design (100 TB corpus): per round, ONE broadcast of the K×d
    centroid table (tiny), a map-side argmin per vector — `min_by` under a
    vec_id groupBy after the broadcast cross join, no vector ever
    shuffles — and one (cid, dim) groupBy whose shuffle carries K×d
    fixed-point partial sums per partition. Rounds are a driver loop
    (Flink `iterate` analog, SURVEY §1.1). Output is the per-cluster
    summary (size + smallest member), scalar-only by registry convention.
    """
    e = load_table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", F.expr(_TO_DOUBLE.format(v="embedding")).alias("ed")
    )
    cent = e.filter(F.col("vec_id") < K_MEANS).select(
        F.col("vec_id").alias("cid"), F.col("ed").alias("cv")
    )

    def assign_to(cent: DataFrame) -> DataFrame:
        # argmin compares the squared distance FLOORED to the 1e-6 grid
        # (exact-integer comparison convention): the 64-term fold order is
        # engine/partitioning-dependent in the last ulps, and a near-tie
        # between two centroids could otherwise round to a different
        # argmin per engine — on the grid, near-ties resolve by cid
        # identically on both sides
        dist = F.floor(F.expr(_SQDIST.format(a="ed", b="cv")) * 1000000).cast("long")
        return (
            e.crossJoin(F.broadcast(cent))
            .select("vec_id", "ed", "cid", dist.alias("d"))
            .groupBy("vec_id")
            .agg(
                F.expr(
                    "min_by(cid, named_struct('d', d, 'c', cid))"
                ).alias("cid")
            )
        )

    def update(cent: DataFrame) -> DataFrame:
        dims = (
            assign_to(cent)
            .join(e, "vec_id")
            .select("cid", F.posexplode("ed").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(
                (
                    F.floor(
                        F.sum(F.floor(F.col("x") * 1000000).cast("long")).cast(
                            "double"
                        )
                        / F.count("*")
                    )
                    / 1000000
                ).alias("m")
            )
        )
        return dims.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, m))), s -> s.m)"
            ).alias("cv")
        )

    # KM_ROUNDS assignments: KM_ROUNDS - 1 centroid updates, then the last
    cent, _ = iterate(update, cent, KM_ROUNDS - 1)
    return assign_to(cent).groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").alias("n_members"), F.min("vec_id").alias("min_member")
    )


PQ_M = 8  # subspaces
PQ_D = 8  # dims per subspace (8 × 8 = 64)


@query(
    "llm_ann_pq",
    oracle=f"""
    WITH cents AS ({_ORACLE_CENTROIDS}),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    lut AS (
      SELECT m.m, c.label AS c_label, c.cvec,
             list_sum(list_transform(range(1, {PQ_D + 1}),
               j -> CAST(qe[m.m * {PQ_D} + j] AS DOUBLE) * cvec[m.m * {PQ_D} + j])) AS qdot
      FROM cents c, (SELECT unnest(range(0, {PQ_M})) AS m) m, q
    ),
    enc AS (
      SELECT vec_id, label, m, qdot,
             row_number() OVER (PARTITION BY vec_id, m
                                ORDER BY sqd, c_label) AS rn
      FROM (
        SELECT e.vec_id, e.label, l.m, l.c_label, l.qdot,
               list_sum(list_transform(range(1, {PQ_D + 1}),
                 j -> (CAST(e.embedding[l.m * {PQ_D} + j] AS DOUBLE) - l.cvec[l.m * {PQ_D} + j])
                    * (CAST(e.embedding[l.m * {PQ_D} + j] AS DOUBLE) - l.cvec[l.m * {PQ_D} + j]))) AS sqd
        FROM embeddings e, lut l
        WHERE e.vec_id <> 0
      )
    )
    SELECT vec_id, label,
           round(CAST(sum(CAST(floor(qdot * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS adc_cos
    FROM enc WHERE rn = 1
    GROUP BY vec_id, label
    ORDER BY sum(CAST(floor(qdot * 1000000) AS BIGINT)) DESC, vec_id
    LIMIT 10
    """,
    tags=("llm", "knn", "pq"),
)
def llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the FAISS-PQ memory lever next to `llm_knn_ivf`'s routing
    lever: vectors compress to {PQ_M} sub-codes ({PQ_M} bytes at K≤256 vs
    256 bytes float32 — 32×), and query scoring never decompresses a
    vector, it sums {PQ_M} small table lookups.

    Codebooks: the 64-dim space splits into {PQ_M} subspaces × {PQ_D}
    dims; subspace m's codebook is the per-label centroid SLICE (the same
    fixed-assignment "training" the IVF row uses — k-means-free but the
    real PQ structure; 10 labels = K of 10 per subspace). Encoding picks
    each subspace's nearest sub-centroid by squared L2 (ties to the
    smaller label — deterministic). The query builds a (m, code) → dot
    lookup table against its OWN sub-slices; a vector's approximate
    cosine is the micros-floored integer sum of its {PQ_M} looked-up
    contributions (fixed-point so the cross-subspace sum is
    order-independent in both engines).

    100 TB shape: centroids + LUT are K×{PQ_M} rows — broadcast;
    encoding is a map-side argmin per (vector, subspace) via partial
    min_by (one shuffle of (vec_id, m) code rows, no windows); scoring +
    top-10 is TakeOrderedAndProject. Production difference is only the
    codebook source (trained k-means per subspace) and K=256; the
    dataflow is exactly this."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            (
                F.floor(
                    F.sum(
                        F.floor(F.col("x").cast("double") * 1_000_000).cast("long")
                    ).cast("double")
                    / F.count("*")
                )
                / 1_000_000.0
            ).alias("cc")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cc"))), lambda s: s.cc
            ).alias("cvec")
        )
        .select(F.col("label").alias("c_label"), "cvec")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    # LUT: (m, c_label, csub, qdot) — K×M rows, broadcast everywhere
    lut = (
        cent.crossJoin(ms)
        .crossJoin(F.broadcast(q))
        .select(
            "m",
            "c_label",
            F.expr(f"slice(cvec, m * {PQ_D} + 1, {PQ_D})").alias("csub"),
            F.expr(
                f"aggregate(zip_with(slice(qe, m * {PQ_D} + 1, {PQ_D}),"
                f" slice(cvec, m * {PQ_D} + 1, {PQ_D}),"
                " (x, y) -> CAST(x AS DOUBLE) * y),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            ).alias("qdot"),
        )
    )
    sub = (
        e.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {PQ_M - 1}), m -> "
                    f"struct(m, transform(slice(embedding, m * {PQ_D} + 1, {PQ_D}),"
                    " x -> CAST(x AS DOUBLE)) AS sv))"
                )
            ).alias("s"),
        )
        .select("vec_id", "label", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    )
    sqd = F.expr(
        "aggregate(zip_with(sv, csub, (x, y) -> (x - y) * (x - y)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    # encode + score in one partial-aggregating pass: nearest sub-centroid's
    # query dot, floored to micros, summed across subspaces
    contrib = (
        sub.join(F.broadcast(lut), "m")
        .withColumn("sqd", sqd)
        .groupBy("vec_id", "label", "m")
        .agg(
            F.min_by("qdot", F.struct("sqd", "c_label")).alias("qdot")
        )
    )
    return (
        contrib.groupBy("vec_id", "label")
        .agg(
            F.sum(F.floor(F.col("qdot") * 1_000_000).cast("long")).alias("adc_fx")
        )
        .orderBy(F.desc("adc_fx"), "vec_id")
        .limit(10)
        .select(
            "vec_id",
            "label",
            F.round(F.col("adc_fx").cast("double") / 1_000_000, 6).alias("adc_cos"),
        )
    )


IVFPQ_RERANK = 20  # ADC shortlist size the exact rerank reads


@query(
    "llm_ann_ivfpq",
    oracle=f"""
    WITH cents AS ({_ORACLE_CENTROIDS}),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    qcells AS (
      SELECT cell FROM (
        SELECT c.label AS cell,
               row_number() OVER (
                 ORDER BY {_ODOT.format(a="qe", b="c.cvec")} DESC, c.label
               ) AS qr
        FROM cents c, q
      ) WHERE qr <= {NPROBE}
    ),
    assigned AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.label AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_ODOT.format(a="e.embedding", b="c.cvec")} DESC,
                          c.label
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
        WHERE e.vec_id <> 0
      ) WHERE rn = 1
    ),
    cand AS (
      SELECT a.vec_id, a.embedding, a.cell
      FROM assigned a JOIN qcells p ON p.cell = a.cell
    ),
    lut AS (
      SELECT m.m, c.label AS c_label, c.cvec,
             list_sum(list_transform(range(1, {PQ_D + 1}),
               j -> CAST(qe[m.m * {PQ_D} + j] AS DOUBLE)
                  * cvec[m.m * {PQ_D} + j])) AS qdot
      FROM cents c, (SELECT unnest(range(0, {PQ_M})) AS m) m, q
    ),
    enc AS (
      SELECT vec_id, cell, m, qdot,
             row_number() OVER (PARTITION BY vec_id, m
                                ORDER BY sqd, c_label) AS rn
      FROM (
        SELECT e.vec_id, e.cell, l.m, l.c_label, l.qdot,
               list_sum(list_transform(range(1, {PQ_D + 1}),
                 j -> (CAST(e.embedding[l.m * {PQ_D} + j] AS DOUBLE)
                       - l.cvec[l.m * {PQ_D} + j])
                    * (CAST(e.embedding[l.m * {PQ_D} + j] AS DOUBLE)
                       - l.cvec[l.m * {PQ_D} + j]))) AS sqd
        FROM cand e, lut l
      )
    ),
    adc AS (
      SELECT vec_id, cell,
             sum(CAST(floor(qdot * 1000000) AS BIGINT)) AS adc_fx
      FROM enc WHERE rn = 1 GROUP BY vec_id, cell
    ),
    short AS (
      SELECT vec_id, cell, adc_fx FROM (
        SELECT vec_id, cell, adc_fx,
               row_number() OVER (ORDER BY adc_fx DESC, vec_id) AS sr
        FROM adc
      ) WHERE sr <= {IVFPQ_RERANK}
    )
    SELECT s.vec_id, s.cell,
           round(CAST(s.adc_fx AS DOUBLE) / 1000000, 6) AS adc_cos,
           round({_ODOT.format(a="e.embedding", b="q.qe")}, 6) AS exact_cos
    FROM short s JOIN embeddings e ON e.vec_id = s.vec_id, q
    ORDER BY round({_ODOT.format(a="e.embedding", b="q.qe")}, 6) DESC,
             s.vec_id
    LIMIT 10
    """,
    tags=("llm", "knn", "ivf", "pq"),
)
def llm_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ COMPOSED — the FAISS ``IVFPQ`` index shape (r11-verdict
    task 6), built from the two audited halves: `llm_knn_ivf`'s coarse
    routing (the query probes its {NPROBE} nearest centroid cells;
    every data vector lives in its top-1 cell) generates a cell-bounded
    candidate set, `llm_ann_pq`'s asymmetric distance (per-subspace
    nearest-sub-centroid codes, query-side LUT, micros-floored integer
    LUT-sum) scores ONLY those candidates, and the top-{IVFPQ_RERANK}
    ADC shortlist gets an EXACT rerank (full dot against the query) —
    the production three-stage funnel: route → compressed scan →
    exact top slice. Output: the exact-reranked top 10 with both the
    ADC estimate and the exact cosine side by side (the pair a user
    reads PQ distortion from; the informativeness-vs-exact pin lives in
    tests/test_llm_ops.py).

    100 TB shape: centroids and the K×{PQ_M} LUT broadcast; cell
    assignment is a map-side argmax; the candidate scan is bounded by
    nprobe cells (~nprobe·N/K rows) and scans CODES ({PQ_M} bytes), not
    vectors; only {IVFPQ_RERANK} full vectors are ever re-read for the
    exact stage. Deterministic everywhere: integer ADC with (adc desc,
    id) shortlist ties, rounded-cosine (desc, id) final ties."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = label_centroids(e)
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    qcells = (
        cent.crossJoin(F.broadcast(q))
        .select(
            F.col("c_label").alias("cell"),
            F.expr(_DOT.format(a="qe", b="cvec")).alias("cdot"),
        )
        .orderBy(F.desc("cdot"), "cell")
        .limit(NPROBE)
        .select("cell")
    )
    cdot = F.expr(_DOT.format(a="embedding", b="cvec"))
    assigned = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(cent))
        .withColumn("cdot", cdot)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "c_label",
                F.struct(F.col("cdot"), (-F.col("c_label")).alias("nl")),
            ).alias("cell"),
            F.first("embedding").alias("emb"),
        )
    )
    cand = assigned.join(F.broadcast(qcells), "cell")
    ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    lut = (
        cent.crossJoin(ms)
        .crossJoin(F.broadcast(q))
        .select(
            "m",
            "c_label",
            F.expr(f"slice(cvec, m * {PQ_D} + 1, {PQ_D})").alias("csub"),
            F.expr(
                f"aggregate(zip_with(slice(qe, m * {PQ_D} + 1, {PQ_D}),"
                f" slice(cvec, m * {PQ_D} + 1, {PQ_D}),"
                " (x, y) -> CAST(x AS DOUBLE) * y),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            ).alias("qdot"),
        )
    )
    sub = cand.select(
        "vec_id",
        "cell",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), m -> "
                f"struct(m, transform(slice(emb, m * {PQ_D} + 1, {PQ_D}),"
                " x -> CAST(x AS DOUBLE)) AS sv))"
            )
        ).alias("s"),
    ).select(
        "vec_id", "cell", F.col("s.m").alias("m"), F.col("s.sv").alias("sv")
    )
    sqd = F.expr(
        "aggregate(zip_with(sv, csub, (x, y) -> (x - y) * (x - y)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    contrib = (
        sub.join(F.broadcast(lut), "m")
        .withColumn("sqd", sqd)
        .groupBy("vec_id", "cell", "m")
        .agg(F.min_by("qdot", F.struct("sqd", "c_label")).alias("qdot"))
    )
    short = (
        contrib.groupBy("vec_id", "cell")
        .agg(
            F.sum(F.floor(F.col("qdot") * 1_000_000).cast("long")).alias(
                "adc_fx"
            )
        )
        .orderBy(F.desc("adc_fx"), "vec_id")
        .limit(IVFPQ_RERANK)
    )
    exact_raw = F.expr(_DOT.format(a="embedding", b="qe"))
    return (
        short.join(e.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(q))
        .withColumn("exact_r", F.round(exact_raw, 6))
        .orderBy(F.desc("exact_r"), "vec_id")
        .limit(10)
        .select(
            "vec_id",
            "cell",
            F.round(F.col("adc_fx").cast("double") / 1_000_000, 6).alias(
                "adc_cos"
            ),
            F.col("exact_r").alias("exact_cos"),
        )
    )


#: SemDeDup in-cell cosine threshold — calibrated to the synthetic
#: fixture (same-label cosines top out near 0.48; production corpora use
#: ~0.9+, same pipeline).
SEM_TAU = 0.25


@query(
    "llm_dedup_semantic",
    oracle=f"""
    WITH RECURSIVE cents AS ({_ORACLE_CENTROIDS}),
    assigned AS (
      SELECT vec_id, embedding, label AS cell, cdot
      FROM (
        SELECT e.vec_id, e.embedding, c.label,
               {_ODOT.format(a="e.embedding", b="c.cvec")} AS cdot,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_ODOT.format(a="e.embedding", b="c.cvec")} DESC, c.label
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    edges AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_ODOT.format(a="a.embedding", b="b.embedding")} >= {{tau}}
    ),
    und AS (SELECT d1, d2 FROM edges UNION ALL SELECT d2, d1 FROM edges),
    reach AS (
      SELECT vec_id AS a, vec_id AS b FROM assigned
      UNION
      SELECT r.a, u.d2 FROM reach r JOIN und u ON u.d1 = r.b
    ),
    labels AS (SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a),
    keepers AS (
      SELECT cluster_id, vec_id AS keep_id,
             CAST(n AS BIGINT) AS cluster_size
      FROM (
        SELECT l.cluster_id, l.vec_id,
               count(*) OVER (PARTITION BY l.cluster_id) AS n,
               row_number() OVER (
                 PARTITION BY l.cluster_id ORDER BY a.cdot, l.vec_id
               ) AS rn
        FROM labels l JOIN assigned a ON a.vec_id = l.vec_id
      ) WHERE rn = 1
    )
    SELECT l.vec_id, a.cell, l.cluster_id, k.cluster_size,
           l.vec_id = k.keep_id AS keep
    FROM labels l
    JOIN assigned a ON a.vec_id = l.vec_id
    JOIN keepers k ON k.cluster_id = l.cluster_id
    """.replace("{tau}", str(SEM_TAU)),
    tags=("llm", "dedup", "embedding", "semantic"),
)
def llm_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup as ONE pipeline — the SemDeDup shape (Abbas et al.
    2023: k-means-cluster the embeddings, threshold pairwise cosine
    WITHIN each cluster, keep one representative per duplicate group —
    the member least similar to its cluster centroid, maximizing
    diversity of the survivors):

    1. coarse cells: the per-label fixed-assignment quantizer shared
       with llm_knn_ivf (broadcast K×d centroid table, map-side argmax —
       no shuffle, and the dot to the OWN centroid rides along free);
    2. in-cell cosine pairs ≥ τ (cell-blocked, salted self-join — never
       all-pairs: |cell| ≈ N/K bounds pair growth, AQE splits hot cells);
    3. connected components over the pair graph (the shared Gelly-CC:
       one numpy contraction per partition of the pairs, a loop only
       over components that cross partitions);
    4. survivor per component: min (cdot, vec_id) — the SemDeDup
       keep-farthest-from-centroid rule, deterministic tie-break.

    Completes the dedup matrix's semantic column: exact (hash), lexical
    (MinHash/SimHash/n-gram), containment — and now embedding-space,
    where paraphrases that hash apart embed together. Output per vector:
    cell, duplicate-cluster id/size, keep verdict. Oracle: the same
    pipeline unrolled — fixed-assignment centroids, threshold join,
    recursive-CTE closure, window-ranked survivor."""
    from streamline_hybrid_engine_spark.operators.graph import connected_components
    from streamline_hybrid_engine_spark.operators.skew import salted_join

    e = load_table(spark, sf_dir, "embeddings")
    cent = label_centroids(e)
    cdot = F.expr(_DOT.format(a="embedding", b="cvec"))
    # one pass: nearest cell AND the dot to it (struct max_by on
    # (cdot, -label) — partial-aggregating, no row_number window;
    # SortAggregate physically, see llm_knn_ivf note)
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .withColumn("cdot", cdot)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct(F.col("c_label").alias("cell"), F.col("cdot")),
                F.struct(F.col("cdot"), (-F.col("c_label")).alias("nl")),
            ).alias("s"),
            F.first(F.expr(_TO_DOUBLE.format(v="embedding"))).alias("ed"),
        )
        .select("vec_id", F.col("s.cell").alias("cell"), F.col("s.cdot").alias("cdot"), "ed")
    )
    # read three times below (edge join both sides + survivor/cell lookups)
    assigned = assigned.localCheckpoint(eager=False)
    a = assigned.select(F.col("vec_id").alias("d1"), "cell", F.col("ed").alias("ea"))
    b = assigned.select(
        F.col("vec_id").alias("d2"), F.col("cell").alias("b_cell"), F.col("ed").alias("eb")
    )
    pdot = F.expr(_DOT_D.format(a="ea", b="eb"))
    edges = (
        salted_join(a, b, "cell", "b_cell", n_salts=8)
        .filter(F.col("d1") < F.col("d2"))
        .filter(pdot >= SEM_TAU)
        .select("d1", "d2")
    )
    labels = connected_components(edges, "d1", "d2").select(
        F.col("vid").alias("vec_id"), F.col("label").alias("cluster_id")
    )
    singletons = assigned.select("vec_id").join(
        labels.select("vec_id"), "vec_id", "left_anti"
    ).select("vec_id", F.col("vec_id").alias("cluster_id"))
    all_labels = labels.unionByName(singletons)
    ranked = all_labels.join(assigned.select("vec_id", "cell", "cdot"), "vec_id")
    keepers = ranked.groupBy("cluster_id").agg(
        F.min_by("vec_id", F.struct("cdot", "vec_id")).alias("keep_id"),
        F.count("*").alias("cluster_size"),
    )
    return ranked.join(keepers, "cluster_id").select(
        "vec_id",
        "cell",
        "cluster_id",
        "cluster_size",
        (F.col("vec_id") == F.col("keep_id")).alias("keep"),
    )


# --- r9: ANN recall evaluation (LSH vs exact ground truth) --------------------

#: every RECALL_SAMPLE_MOD-th vector is a query in the recall eval —
#: the sampled-query discipline real ANN benchmarks use (ann-benchmarks,
#: BigANN): ground truth costs |queries| × |corpus|, so you buy accuracy
#: of the ESTIMATE with query count, never with an all-pairs scan.
RECALL_SAMPLE_MOD = 8

#: top-k depth the recall is measured at (recall@10, the standard cut).
RECALL_K = 10


@query(
    "llm_ann_recall_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {RECALL_SAMPLE_MOD} = 0
    ),
    exact AS (
      SELECT vec_id, b_id, rnk FROM (
        SELECT q.vec_id, b.vec_id AS b_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_ODOT.format(a="q.embedding", b="b.embedding")}, 6) DESC,
                          b.vec_id
               ) AS rnk
        FROM q CROSS JOIN embeddings b
        WHERE b.vec_id <> q.vec_id
      ) WHERE rnk <= {RECALL_K}
    ),
    bucketed AS (
      SELECT vec_id, embedding,
             {_OLSH % (N_PLANES, "embedding")} AS bucket
      FROM embeddings
    ),
    approx AS (
      SELECT vec_id, b_id FROM (
        SELECT a.vec_id, b.vec_id AS b_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY round({_ODOT.format(a="a.embedding", b="b.embedding")}, 6) DESC,
                          b.vec_id
               ) AS rnk
        FROM bucketed a
        JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        WHERE a.vec_id % {RECALL_SAMPLE_MOD} = 0
      ) WHERE rnk <= {RECALL_K}
    )
    SELECT e.vec_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.b_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           CAST((sum(CASE WHEN a.b_id IS NOT NULL THEN 1 ELSE 0 END)::HUGEINT
                 * 1000000) // {RECALL_K} AS BIGINT) AS recall_micro
    FROM exact e
    LEFT JOIN approx a ON a.vec_id = e.vec_id AND a.b_id = e.b_id
    GROUP BY e.vec_id
    """,
    tags=("llm", "knn", "evaluation"),
)
def llm_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH ANN path against exact ground truth — the
    evaluation every ANN deployment runs before trusting the index
    (ann-benchmarks' headline metric). For a deterministic sample of
    query vectors (vec_id ≡ 0 mod {RECALL_SAMPLE_MOD}), compute the
    EXACT top-{RECALL_K} by brute force and the top-{RECALL_K} the
    hyperplane-LSH bucket (llm_knn_lsh's identical signature — same
    md5-derived planes, so this id certifies THAT index, not a
    lookalike) would return, and score |approx ∩ exact| / k per query.
    Ranking is by ROUNDED cosine then vec_id — fully deterministic even
    if the two engines' float folds ever diverged in the last ulp, so
    ties can't flip the hash. Recall is an exact floored micro ratio.
    Plan/economics: ground truth is |q| × |corpus| with the query side
    BROADCAST (never corpus × corpus — the sample mod is the documented
    valve: at 100 TB you take 1k queries, not 1/{RECALL_SAMPLE_MOD} of
    the corpus); the approx side prunes to the query sample BEFORE the
    bucket join; per-query top-k windows partition by query id. The
    left join on (query, neighbor) is candidate-sized."""
    e = load_table(spark, sf_dir, "embeddings", parallel=True).withColumn(
        "ed", F.expr(_TO_DOUBLE.format(v="embedding"))
    )
    from pyspark.sql import Window

    q = e.filter(F.col("vec_id") % RECALL_SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("ed").alias("qe")
    )
    corpus = e.select(F.col("vec_id").alias("b_id"), F.col("ed").alias("be"))
    dot = F.round(F.expr(_DOT_D.format(a="qe", b="be")), 6)
    wq = Window.partitionBy("qid").orderBy(F.col("s").desc(), "b_id")
    exact = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("b_id") != F.col("qid"))
        .withColumn("s", dot)
        .withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= RECALL_K)
        .select(F.col("qid").alias("vec_id"), "b_id")
    )
    bucketed = e.withColumn("bucket", F.expr(_lsh_bucket_expr("embedding")))
    qa = bucketed.filter(F.col("vec_id") % RECALL_SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("qid"), "bucket", F.col("ed").alias("qe")
    )
    cb = bucketed.select(
        F.col("vec_id").alias("b_id"), "bucket", F.col("ed").alias("be")
    )
    approx = (
        qa.join(cb, "bucket")
        .filter(F.col("b_id") != F.col("qid"))
        .withColumn("s", dot)
        .withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= RECALL_K)
        .select(F.col("qid").alias("vec_id"), "b_id", F.lit(1).alias("hit"))
    )
    return (
        exact.join(approx, ["vec_id", "b_id"], "left")
        .groupBy("vec_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
        .withColumn(
            "recall_micro",
            F.expr(
                "CAST((CAST(n_hit AS DECIMAL(38,0)) * 1000000)"
                f" div {RECALL_K} AS BIGINT)"
            ),
        )
    )


# --- r11: multi-probe recall delta (the nprobe tuning table) ------------------


@query(
    "llm_ann_recall_multiprobe",
    oracle=f"""
    WITH cents AS ({_ORACLE_CENTROIDS}),
    ranked AS (
      SELECT e.vec_id, e.embedding, c.label,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_ODOT.format(a="e.embedding", b="c.cvec")} DESC, c.label
             ) AS rn
      FROM embeddings e CROSS JOIN cents c
    ),
    probes AS (
      SELECT vec_id, label AS cell, rn FROM ranked WHERE rn <= {NPROBE}
    ),
    data AS (SELECT vec_id, embedding, label AS cell FROM ranked WHERE rn = 1),
    q AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {RECALL_SAMPLE_MOD} = 0
    ),
    exact AS (
      SELECT vec_id, b_id FROM (
        SELECT q.vec_id, b.vec_id AS b_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_ODOT.format(a="q.embedding", b="b.embedding")}, 6) DESC,
                          b.vec_id
               ) AS rnk
        FROM q CROSS JOIN embeddings b
        WHERE b.vec_id <> q.vec_id
      ) WHERE rnk <= {RECALL_K}
    ),
    cand AS (
      SELECT q.vec_id, p.rn AS probe_rank, b.vec_id AS b_id,
             round({_ODOT.format(a="q.embedding", b="b.embedding")}, 6) AS s
      FROM q
      JOIN probes p ON p.vec_id = q.vec_id
      JOIN data b ON b.cell = p.cell AND b.vec_id <> q.vec_id
    ),
    ap1 AS (
      SELECT vec_id, b_id FROM (
        SELECT vec_id, b_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, b_id)
                 AS rnk
        FROM cand WHERE probe_rank = 1
      ) WHERE rnk <= {RECALL_K}
    ),
    ap2 AS (
      SELECT vec_id, b_id FROM (
        SELECT vec_id, b_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, b_id)
                 AS rnk
        FROM cand
      ) WHERE rnk <= {RECALL_K}
    ),
    scored AS (
      SELECT CAST(1 AS INT) AS nprobe, e.vec_id,
             CASE WHEN a.b_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM exact e LEFT JOIN ap1 a ON a.vec_id = e.vec_id AND a.b_id = e.b_id
      UNION ALL
      SELECT CAST({NPROBE} AS INT) AS nprobe, e.vec_id,
             CASE WHEN a.b_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM exact e LEFT JOIN ap2 a ON a.vec_id = e.vec_id AND a.b_id = e.b_id
    )
    SELECT nprobe,
           CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(hit) AS BIGINT) AS n_hits,
           CAST((sum(hit)::HUGEINT * 1000000) // count(*) AS BIGINT)
             AS recall_micro
    FROM scored GROUP BY nprobe
    """,
    tags=("llm", "knn", "ivf", "evaluation"),
)
def llm_ann_recall_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe TUNING TABLE (r10-verdict task 8): recall@{RECALL_K} of
    the IVF index at nprobe=1 vs nprobe={NPROBE}, side by side against
    the same brute-force ground truth llm_ann_recall_eval uses (identical
    sampled-query discipline, identical rounded-cosine tie-breaking) —
    the per-query dominance TEST pins that nprobe=2 can't be worse; THIS
    id reports how much better, which is the number a user actually
    tunes nprobe from (FAISS's recall/latency curve, one row per probe
    setting).

    Composition, not reimplementation: the probe/home-cell CTEs are
    llm_knn_ivf_multiprobe's verbatim (same centroid ranking, same
    rn<=NPROBE probes, same rn=1 home cells), and the ground-truth CTE
    is llm_ann_recall_eval's verbatim — so the recall this table reports
    is certified against exactly the index those ids ship. The nprobe=1
    candidate set is the probe_rank=1 SLICE of the nprobe=2 candidates:
    dots are computed ONCE on the widest set and both top-k rankings
    read the same scored table (per-query windows over candidate-sized
    partitions only).

    Scale: ground truth is |q| × corpus with the query side broadcast
    (the sample mod is the valve — at 100 TB you take 1k queries);
    candidates are cell-bounded, linear in nprobe; everything downstream
    is (query × k)-sized. Recall is an exact floored micro ratio."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings", parallel=True).withColumn(
        "ed", F.expr(_TO_DOUBLE.format(v="embedding"))
    )
    cent = label_centroids(e)
    cdot = F.expr(_DOT.format(a="embedding", b="cvec"))
    wq = Window.partitionBy("vec_id").orderBy(
        F.col("cdot").desc(), F.col("c_label")
    )
    ranked = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "c_label", cdot.alias("cdot"))
        .withColumn("rn", F.row_number().over(wq))
    )
    emb = e.select("vec_id", "ed")
    probes = ranked.filter(F.col("rn") <= NPROBE).select(
        F.col("vec_id").alias("qid"), F.col("c_label").alias("cell"), "rn"
    )
    data = (
        ranked.filter(F.col("rn") == 1)
        .select(F.col("vec_id").alias("b_id"), F.col("c_label").alias("cell"))
        .join(emb.select(F.col("vec_id").alias("b_id"),
                         F.col("ed").alias("be")), "b_id")
    )
    q = (
        e.filter(F.col("vec_id") % RECALL_SAMPLE_MOD == 0)
        .select(F.col("vec_id").alias("qid"), F.col("ed").alias("qe"))
    )
    dot = F.round(F.expr(_DOT_D.format(a="qe", b="be")), 6)
    wrank = Window.partitionBy("qid").orderBy(F.col("s").desc(), "b_id")
    # ground truth: broadcast queries against the corpus
    corpus = e.select(F.col("vec_id").alias("b_id"), F.col("ed").alias("be"))
    exact = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("b_id") != F.col("qid"))
        .withColumn("s", dot)
        .withColumn("rnk", F.row_number().over(wrank))
        .filter(F.col("rnk") <= RECALL_K)
        .select("qid", "b_id")
    )
    # candidates once, at the widest probe setting; score once
    cand = (
        q.join(probes, "qid")
        .join(data, "cell")
        .filter(F.col("b_id") != F.col("qid"))
        .withColumn("s", dot)
        .select("qid", F.col("rn").alias("probe_rank"), "b_id", "s")
        .localCheckpoint(eager=False)
    )

    def topk(c: DataFrame) -> DataFrame:
        return (
            c.withColumn("rnk", F.row_number().over(wrank))
            .filter(F.col("rnk") <= RECALL_K)
            .select("qid", "b_id", F.lit(1).alias("hit"))
        )

    def scoreboard(ap: DataFrame, p: int) -> DataFrame:
        return (
            exact.join(ap, ["qid", "b_id"], "left")
            .agg(
                F.countDistinct("qid").cast("long").alias("n_queries"),
                F.count("*").cast("long").alias("n_exact"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                .cast("long")
                .alias("n_hits"),
            )
            .select(
                F.lit(p).cast("int").alias("nprobe"),
                "n_queries",
                "n_exact",
                "n_hits",
                F.expr(
                    "CAST((CAST(n_hits AS DECIMAL(38,0)) * 1000000)"
                    " div n_exact AS BIGINT)"
                ).alias("recall_micro"),
            )
        )

    return scoreboard(topk(cand.filter(F.col("probe_rank") == 1)), 1).unionAll(
        scoreboard(topk(cand), NPROBE)
    )


@query(
    "llm_ann_recall_ivfpq",
    oracle=f"""
    WITH cents AS MATERIALIZED ({_ORACLE_CENTROIDS}),
    ranked AS (
      SELECT e.vec_id, c.label,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_ODOT.format(a="e.embedding", b="c.cvec")} DESC,
                        c.label
             ) AS rn
      FROM embeddings e CROSS JOIN cents c
    ),
    home AS MATERIALIZED (
      SELECT vec_id AS b_id, label AS cell FROM ranked WHERE rn = 1
    ),
    q AS MATERIALIZED (
      SELECT vec_id AS qid, embedding AS qe FROM embeddings
      WHERE vec_id % {RECALL_SAMPLE_MOD} = 0
    ),
    probes AS (
      SELECT vec_id AS qid, label AS cell FROM ranked
      WHERE rn <= {NPROBE} AND vec_id % {RECALL_SAMPLE_MOD} = 0
    ),
    codes AS MATERIALIZED (
      SELECT b_id, m, code FROM (
        SELECT e.vec_id AS b_id, s.m, c.label AS code,
               row_number() OVER (
                 PARTITION BY e.vec_id, s.m
                 ORDER BY list_sum(list_transform(range(1, {PQ_D + 1}),
                   j -> (CAST(e.embedding[s.m * {PQ_D} + j] AS DOUBLE)
                         - c.cvec[s.m * {PQ_D} + j])
                      * (CAST(e.embedding[s.m * {PQ_D} + j] AS DOUBLE)
                         - c.cvec[s.m * {PQ_D} + j]))), c.label
               ) AS rn
        FROM embeddings e, cents c,
             (SELECT unnest(range(0, {PQ_M})) AS m) s
      ) WHERE rn = 1
    ),
    lutq AS MATERIALIZED (
      SELECT q.qid, s.m, c.label AS code,
             list_sum(list_transform(range(1, {PQ_D + 1}),
               j -> CAST(q.qe[s.m * {PQ_D} + j] AS DOUBLE)
                  * c.cvec[s.m * {PQ_D} + j])) AS qdot
      FROM q, cents c, (SELECT unnest(range(0, {PQ_M})) AS m) s
    ),
    adc AS (
      SELECT p.qid, h.b_id,
             sum(CAST(floor(l.qdot * 1000000) AS BIGINT)) AS adc_fx
      FROM probes p
      JOIN home h ON h.cell = p.cell AND h.b_id <> p.qid
      JOIN codes k ON k.b_id = h.b_id
      JOIN lutq l ON l.qid = p.qid AND l.m = k.m AND l.code = k.code
      GROUP BY p.qid, h.b_id
    ),
    short AS (
      SELECT qid, b_id FROM (
        SELECT qid, b_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adc_fx DESC, b_id) AS sr
        FROM adc
      ) WHERE sr <= {IVFPQ_RERANK}
    ),
    ap AS (
      SELECT qid, b_id FROM (
        SELECT s.qid, s.b_id,
               row_number() OVER (
                 PARTITION BY s.qid
                 ORDER BY round({_ODOT.format(a="q.qe", b="b.embedding")}, 6)
                            DESC,
                          s.b_id
               ) AS rnk
        FROM short s JOIN q ON q.qid = s.qid
        JOIN embeddings b ON b.vec_id = s.b_id
      ) WHERE rnk <= {RECALL_K}
    ),
    exact AS (
      SELECT qid, b_id FROM (
        SELECT q.qid, b.vec_id AS b_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round({_ODOT.format(a="q.qe", b="b.embedding")}, 6)
                            DESC,
                          b.vec_id
               ) AS rnk
        FROM q CROSS JOIN embeddings b
        WHERE b.vec_id <> q.qid
      ) WHERE rnk <= {RECALL_K}
    )
    SELECT CAST({NPROBE} AS INT) AS nprobe,
           CAST(count(DISTINCT e.qid) AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.b_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST((sum(CASE WHEN a.b_id IS NOT NULL THEN 1 ELSE 0 END)::HUGEINT
                 * 1000000) // count(*) AS BIGINT) AS recall_micro
    FROM exact e LEFT JOIN ap a ON a.qid = e.qid AND a.b_id = e.b_id
    """,
    tags=("llm", "knn", "ivf", "pq", "evaluation"),
)
def llm_ann_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVFPQ row of the ANN tuning table (r11-verdict task 6's
    evaluation half): recall@{RECALL_K} of `llm_ann_ivfpq`'s three-stage
    funnel — probe {NPROBE} cells, ADC-score candidates from
    query-independent PQ CODES (encoded once for the whole corpus, the
    production layout), exact-rerank the per-query top-{IVFPQ_RERANK}
    ADC shortlist — against the same brute-force ground truth and
    sampled-query discipline as llm_ann_recall_eval /
    llm_ann_recall_multiprobe, with IDENTICAL output columns so the rows
    line up in one table. Because the candidate cells match the
    nprobe={NPROBE} multiprobe row exactly, the recall gap between that
    row and this one is pure PQ-shortlist loss — the number a user sizes
    IVFPQ_RERANK from (dominance pinned in tests/test_llm_ops.py).

    Scale: codes are {PQ_M} small ints per vector (encoded in one
    map-side pass, broadcastable at fixture scale, cell-partitioned in
    production); per-query work is cell-bounded candidates × {PQ_M}
    lookups against a broadcast (query × K × {PQ_M}) LUT; only
    shortlist × query rows ever touch full vectors again."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings", parallel=True).withColumn(
        "ed", F.expr(_TO_DOUBLE.format(v="embedding"))
    )
    cent = label_centroids(e)
    cdot = F.expr(_DOT.format(a="embedding", b="cvec"))
    wq = Window.partitionBy("vec_id").orderBy(
        F.col("cdot").desc(), F.col("c_label")
    )
    ranked = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "c_label", cdot.alias("cdot"))
        .withColumn("rn", F.row_number().over(wq))
    )
    home = ranked.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("b_id"), F.col("c_label").alias("cell")
    )
    q = e.filter(F.col("vec_id") % RECALL_SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("ed").alias("qe")
    )
    probes = ranked.filter(
        (F.col("rn") <= NPROBE)
        & (F.col("vec_id") % RECALL_SAMPLE_MOD == 0)
    ).select(F.col("vec_id").alias("qid"), F.col("c_label").alias("cell"))
    ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    csubs = cent.crossJoin(ms).select(
        "m",
        "c_label",
        F.expr(f"slice(cvec, m * {PQ_D} + 1, {PQ_D})").alias("csub"),
    )
    sub = e.select(
        F.col("vec_id").alias("b_id"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), m -> "
                f"struct(m, transform(slice(embedding, m * {PQ_D} + 1,"
                f" {PQ_D}), x -> CAST(x AS DOUBLE)) AS sv))"
            )
        ).alias("s"),
    ).select("b_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    sqd = F.expr(
        "aggregate(zip_with(sv, csub, (x, y) -> (x - y) * (x - y)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    codes = (
        sub.join(F.broadcast(csubs), "m")
        .withColumn("sqd", sqd)
        .groupBy("b_id", "m")
        .agg(F.min_by("c_label", F.struct("sqd", "c_label")).alias("code"))
    )
    lutq = (
        q.crossJoin(F.broadcast(csubs))
        .select(
            "qid",
            "m",
            F.col("c_label").alias("code"),
            F.expr(
                f"aggregate(zip_with(slice(qe, m * {PQ_D} + 1, {PQ_D}),"
                " csub, (x, y) -> x * y),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            ).alias("qdot"),
        )
    )
    adc = (
        probes.join(home, "cell")
        .filter(F.col("b_id") != F.col("qid"))
        .join(codes, "b_id")
        .join(F.broadcast(lutq), ["qid", "m", "code"])
        .groupBy("qid", "b_id")
        .agg(
            F.sum(F.floor(F.col("qdot") * 1_000_000).cast("long")).alias(
                "adc_fx"
            )
        )
    )
    w_adc = Window.partitionBy("qid").orderBy(F.desc("adc_fx"), "b_id")
    short = (
        adc.withColumn("sr", F.row_number().over(w_adc))
        .filter(F.col("sr") <= IVFPQ_RERANK)
        .select("qid", "b_id")
    )
    emb_b = e.select(F.col("vec_id").alias("b_id"), F.col("ed").alias("be"))
    dot = F.round(F.expr(_DOT_D.format(a="qe", b="be")), 6)
    wrank = Window.partitionBy("qid").orderBy(F.col("s").desc(), "b_id")
    ap = (
        short.join(q, "qid")
        .join(emb_b, "b_id")
        .withColumn("s", dot)
        .withColumn("rnk", F.row_number().over(wrank))
        .filter(F.col("rnk") <= RECALL_K)
        .select("qid", "b_id", F.lit(1).alias("hit"))
    )
    exact = (
        emb_b.crossJoin(F.broadcast(q))
        .filter(F.col("b_id") != F.col("qid"))
        .withColumn("s", dot)
        .withColumn("rnk", F.row_number().over(wrank))
        .filter(F.col("rnk") <= RECALL_K)
        .select("qid", "b_id")
    )
    return (
        exact.join(ap, ["qid", "b_id"], "left")
        .agg(
            F.countDistinct("qid").cast("long").alias("n_queries"),
            F.count("*").cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            F.lit(NPROBE).cast("int").alias("nprobe"),
            "n_queries",
            "n_exact",
            "n_hits",
            F.expr(
                "CAST((CAST(n_hits AS DECIMAL(38,0)) * 1000000)"
                " div n_exact AS BIGINT)"
            ).alias("recall_micro"),
        )
    )


@query(
    "llm_pca_recall_eval",
    oracle=f"""
    WITH {{pca}},
    q AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {RECALL_SAMPLE_MOD} = 0
    ),
    exact AS (
      SELECT vec_id, b_id FROM (
        SELECT q.vec_id, b.vec_id AS b_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_ODOT.format(a="q.embedding", b="b.embedding")}, 6) DESC,
                          b.vec_id
               ) AS rnk
        FROM q CROSS JOIN embeddings b
        WHERE b.vec_id <> q.vec_id
      ) WHERE rnk <= {RECALL_K}
    ),
    approx AS (
      SELECT vec_id, b_id FROM (
        SELECT a.vec_id, b.vec_id AS b_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY (a.p1_fp - b.p1_fp)::HUGEINT * (a.p1_fp - b.p1_fp)
                        + (a.p2_fp - b.p2_fp)::HUGEINT * (a.p2_fp - b.p2_fp),
                          b.vec_id
               ) AS rnk
        FROM proj a JOIN proj b ON b.vec_id <> a.vec_id
        WHERE a.vec_id % {RECALL_SAMPLE_MOD} = 0
      ) WHERE rnk <= {RECALL_K}
    )
    SELECT e.vec_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.b_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           CAST((sum(CASE WHEN a.b_id IS NOT NULL THEN 1 ELSE 0 END)::HUGEINT
                 * 1000000) // {RECALL_K} AS BIGINT) AS recall_micro
    FROM exact e
    LEFT JOIN approx a ON a.vec_id = e.vec_id AND a.b_id = e.b_id
    GROUP BY e.vec_id
    """.replace("{pca}", _pca_cte_chain()),
    tags=("llm", "knn", "evaluation", "ml"),
)
def llm_pca_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the dimensionality cut costs (the composition r10-verdict
    task 5 asks for): recall@{RECALL_K} of nearest-neighbor search run
    on llm_embedding_pca_project's 2-dim integer coordinates, against
    the same 64-dim brute-force ground truth llm_ann_recall_eval uses —
    the number that tells a user whether projecting before the cosine
    joins (8-32× less shuffle bandwidth) is worth the recall it gives
    up, per query like the LSH eval so the loss distribution (not just
    the mean) is visible.

    The approx side ranks by exact-integer squared Euclidean distance in
    the projected plane — differences and squares ride HUGEINT/decimal,
    so there is NO float anywhere in the approx ranking (the projected
    coordinates are exact integers by construction) and ties break by
    id; the ground-truth CTE is llm_ann_recall_eval's verbatim. Scale:
    the projection is the audited map-side fold; the 2-dim rank is the
    brute-force baseline shape (query sample × corpus with the skinny
    3-column projected table — the table one would IVF/grid-bucket next,
    but 2-dim brute force over scalars is already ~20× narrower than the
    64-float exact side)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings", parallel=True).withColumn(
        "ed", F.expr(_TO_DOUBLE.format(v="embedding"))
    )
    proj = llm_embedding_pca_project(spark, sf_dir).select(
        "vec_id", "p1_fp", "p2_fp"
    )
    q64 = e.filter(F.col("vec_id") % RECALL_SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("ed").alias("qe")
    )
    corpus = e.select(F.col("vec_id").alias("b_id"), F.col("ed").alias("be"))
    dot = F.round(F.expr(_DOT_D.format(a="qe", b="be")), 6)
    wrank = Window.partitionBy("qid").orderBy(F.col("s").desc(), "b_id")
    exact = (
        corpus.crossJoin(F.broadcast(q64))
        .filter(F.col("b_id") != F.col("qid"))
        .withColumn("s", dot)
        .withColumn("rnk", F.row_number().over(wrank))
        .filter(F.col("rnk") <= RECALL_K)
        .select("qid", "b_id")
    )
    qp = proj.filter(F.col("vec_id") % RECALL_SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("p1_fp").alias("q1"),
        F.col("p2_fp").alias("q2"),
    )
    bp = proj.select(
        F.col("vec_id").alias("b_id"),
        F.col("p1_fp").alias("b1"),
        F.col("p2_fp").alias("b2"),
    )
    d2 = F.expr(
        "CAST(q1 - b1 AS DECIMAL(38,0)) * (q1 - b1)"
        " + CAST(q2 - b2 AS DECIMAL(38,0)) * (q2 - b2)"
    )
    wd = Window.partitionBy("qid").orderBy("d2", "b_id")
    approx = (
        bp.crossJoin(F.broadcast(qp))
        .filter(F.col("b_id") != F.col("qid"))
        .withColumn("d2", d2)
        .withColumn("rnk", F.row_number().over(wd))
        .filter(F.col("rnk") <= RECALL_K)
        .select("qid", "b_id", F.lit(1).alias("hit"))
    )
    return (
        exact.join(approx, ["qid", "b_id"], "left")
        .groupBy(F.col("qid").alias("vec_id"))
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
        )
        .withColumn(
            "recall_micro",
            F.expr(
                "CAST((CAST(n_hit AS DECIMAL(38,0)) * 1000000)"
                f" div {RECALL_K} AS BIGINT)"
            ),
        )
    )


PCA_KNN_K = 3  # neighbors per vector in the projected-plane kNN


@query(
    "llm_pca_knn_grid",
    oracle=f"""
    WITH {{pca}},
    pts AS (
      SELECT vec_id, p1_fp // 1000000 AS x, p2_fp // 1000000 AS y FROM proj
    )
    SELECT vec_id, nn_rank, nn_id, d2 FROM (
      SELECT a.vec_id, b.vec_id AS nn_id,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2,
             CAST(row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY (a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y), b.vec_id
             ) AS BIGINT) AS nn_rank
      FROM pts a JOIN pts b ON b.vec_id <> a.vec_id
    ) WHERE nn_rank <= {PCA_KNN_K}
    """.replace("{pca}", _pca_cte_chain()),
    tags=("llm", "knn", "ml", "spatial"),
)
def llm_pca_knn_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PCA pipeline's SCALE path, end to end: project to the 2-dim
    integer plane (llm_embedding_pca_project), downscale to micros
    resolution (p div 1e6 — trunc on both engines), then EXACT
    k={PCA_KNN_K} nearest neighbors via the audited expanding-ring grid
    join (:func:`..operators.joins.grid_knn_join`) — cell-keyed
    equi-joins only, never corpus². This is what replaces the 64-float
    cosine self-join once PCA has cut the dimensionality: the grid path
    is exact BY CONSTRUCTION in the projected plane, so the oracle is
    deliberately the brute-force quadratic kNN over the same projected
    coordinates — certifying the whole chain (integer eigen → projection
    → downscale → ring search) equals the definition, while the Spark
    plan never materializes all pairs. Cell size is a power of two
    (exact double division in the floor-grid) derived from the collected
    coordinate span (2 scalar rows — plan-finalization policy); recall
    vs the ORIGINAL 64-dim space is the separate llm_pca_recall_eval
    table."""
    proj = llm_embedding_pca_project(spark, sf_dir)
    pts = proj.select(
        "vec_id",
        F.expr("p1_fp div 1000000").alias("x"),
        F.expr("p2_fp div 1000000").alias("y"),
    )
    span = pts.agg(
        F.max("x").alias("hx"),
        F.min("x").alias("lx"),
        F.max("y").alias("hy"),
        F.min("y").alias("ly"),
    ).collect()[0]
    rng = max(span["hx"] - span["lx"], span["hy"] - span["ly"], 1)
    cell = 1 << max(int(rng // 16), 1).bit_length()
    from streamline_hybrid_engine_spark.operators.joins import grid_knn_join

    return grid_knn_join(pts, "vec_id", "x", "y", cell=cell, k=PCA_KNN_K).select(
        F.col("id").alias("vec_id"), "nn_rank", "nn_id", "d2"
    )
