"""Similarity-search corpus: ANN queries over the embeddings table.

All three backends (expression brute force, sign-LSH bucketed, pandas
matmul) are oracle-checked against the same DuckDB SQL where the
semantics are SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from location_summary_etl_spark.functions.scalars import round_portable
from location_summary_etl_spark.functions.vectors import l2_norm
from location_summary_etl_spark.operators.similarity import (
    CENTROID_SCALE,
    IVF_N_PROBE,
    LSH_SIGN_BITS,
    brute_force_topk,
    ivf_topk,
    lsh_bucket_topk,
    pandas_cosine_topk,
)
from location_summary_etl_spark.plans.corpus import register
from location_summary_etl_spark.sources.registry import load_table

QUERY_IDS = [0, 1, 2, 3, 4]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brute_force_topk(_emb(spark, sf_dir), QUERY_IDS, k=5)


_IDS = ", ".join(str(i) for i in QUERY_IDS)

_BRUTE_SQL = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id IN ({_IDS})),
scored AS (
    SELECT q.query_id, e.vec_id,
           round(CAST(list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS DOUBLE), 6) AS cosine
    FROM e CROSS JOIN q
    WHERE e.vec_id <> q.query_id AND e.nrm > 0 AND q.qn > 0
)
SELECT query_id, rank, vec_id, cosine FROM (
    SELECT query_id, vec_id, cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS INT) AS rank
    FROM scored
)
WHERE rank <= 5
"""

register("ann_topk_bruteforce", ann_topk_bruteforce, _BRUTE_SQL)


def ann_topk_bruteforce_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pandas_cosine_topk(_emb(spark, sf_dir), QUERY_IDS, k=5)


# Same semantics, same oracle: the numpy backend must agree with the
# expression backend after 6-decimal rounding.
register("ann_topk_bruteforce_pandas", ann_topk_bruteforce_pandas, _BRUTE_SQL)


def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_bucket_topk(_emb(spark, sf_dir), QUERY_IDS, k=3)


_BUCKET = " + ".join(
    f"CASE WHEN v[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END"
    for i in range(LSH_SIGN_BITS)
)

register("ann_topk_lsh", ann_topk_lsh, f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
),
b AS (SELECT vec_id, v, nrm, CAST({_BUCKET} AS INT) AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket FROM b WHERE vec_id IN ({_IDS})),
scored AS (
    SELECT q.query_id, c.vec_id,
           round(CAST(list_dot_product(q.qv, c.v) / (q.qn * c.nrm) AS DOUBLE), 6) AS cosine
    FROM b c JOIN q USING (bucket)
    WHERE c.vec_id <> q.query_id AND c.nrm > 0 AND q.qn > 0
)
SELECT query_id, rank, vec_id, cosine FROM (
    SELECT query_id, vec_id, cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS INT) AS rank
    FROM scored
)
WHERE rank <= 3
""")


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(_emb(spark, sf_dir), QUERY_IDS, k=5, n_probe=IVF_N_PROBE)


# The oracle reproduces the full IVF path: component-wise centroid
# averages (rounded to CENTROID_SCALE so cross-engine summation order
# cannot diverge), per-query centroid ranking, candidate restriction to
# the n_probe nearest cells, exact cosine within them.
_IVF_SQL = f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
),
flat AS (
    SELECT label, i, v[i] AS x
    FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         UNNEST(generate_series(1, len(v))) AS t(i)
),
cent AS (
    SELECT label AS cl,
           list(round(CAST(cx AS DOUBLE), {CENTROID_SCALE}) ORDER BY i) AS cv
    FROM (SELECT label, i, AVG(x) AS cx FROM flat GROUP BY label, i)
    GROUP BY label
),
centn AS (SELECT cl, cv, sqrt(list_dot_product(cv, cv)) AS c_nrm FROM cent),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id IN ({_IDS})),
probe AS (
    SELECT query_id, cl, qv, qn FROM (
        SELECT q.query_id, c.cl, q.qv, q.qn,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(CAST(list_dot_product(q.qv, c.cv)
                                       / (q.qn * c.c_nrm) AS DOUBLE), 6) DESC,
                            c.cl) AS pr
        FROM q CROSS JOIN centn c
        WHERE q.qn > 0 AND c.c_nrm > 0
    ) WHERE pr <= {IVF_N_PROBE}
),
scored AS (
    SELECT p.query_id, e.vec_id,
           round(CAST(list_dot_product(p.qv, e.v) / (p.qn * e.nrm) AS DOUBLE), 6) AS cosine
    FROM e JOIN probe p ON e.label = p.cl
    WHERE e.vec_id <> p.query_id AND e.nrm > 0
)
SELECT query_id, rank, vec_id, cosine FROM (
    SELECT query_id, vec_id, cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS INT) AS rank
    FROM scored
)
WHERE rank <= 5
"""

register("ann_topk_ivf", ann_topk_ivf, _IVF_SQL)

def ann_topk_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index variant of ``ann_topk_ivf``: build and query are
    SEPARATE LINEAGES through operators/ann_index.py -- the build
    commits the inverted file (repartitioned by cell) and the centroid
    table to a VersionedTable pair under a per-invocation scratch root,
    and the query answers from the pinned snapshots alone (the
    embeddings table is never read on the query side; query vectors
    come from the inverted file).  The staleness check runs under the
    gate too: verify_against re-fingerprints the base relation and
    must MATCH here (the mismatch path is unit-tested).  Same oracle
    as ann_topk_ivf: persisting the index must not change a single
    result bit."""
    from location_summary_etl_spark.operators.ann_index import (
        build_ivf_index,
        ivf_query_index,
    )
    from location_summary_etl_spark.plans.corpus_warehouse import _fresh_dir

    emb = _emb(spark, sf_dir)
    root = _fresh_dir("annidx", sf_dir)
    version = build_ivf_index(emb, root)
    return ivf_query_index(
        spark, root, QUERY_IDS, k=5, n_probe=IVF_N_PROBE,
        version=version, verify_against=emb)


register("ann_topk_ivf_persisted", ann_topk_ivf_persisted, _IVF_SQL)


def ann_topk_ivf_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance variant of ``ann_topk_ivf_persisted``
    (the r8 sanctioned addition): the base embeddings live in a
    VersionedTable; the index is built from a 90% snapshot, the
    remaining 10% is APPENDED, and ``refresh_ivf_index`` reindexes only
    the delta -- CDC feed (``changes``) -> file-granular merge on the
    inverted file (pure inserts rewrite zero existing cell files) ->
    touched-cell centroid recompute.  The query then answers from the
    refreshed pins under the staleness gate.  Same oracle as
    ``ann_topk_ivf`` over the FULL embeddings table: a delta refresh
    must be result-identical to indexing everything from scratch."""
    import os

    from location_summary_etl_spark.operators.ann_index import (
        build_ivf_index,
        ivf_query_index,
        refresh_ivf_index,
    )
    from location_summary_etl_spark.plans.corpus_warehouse import _fresh_dir
    from location_summary_etl_spark.sources.versioned import VersionedTable

    emb = _emb(spark, sf_dir)
    scratch = _fresh_dir("annidxdelta", sf_dir)
    base = VersionedTable(os.path.join(scratch, "base"))
    base.commit(emb.filter(F.col("vec_id") % 10 != 0), mode="overwrite")
    root = os.path.join(scratch, "idx")
    build_ivf_index(base.read(spark), root,
                    base_version=base.latest_version())
    base.commit(emb.filter(F.col("vec_id") % 10 == 0), mode="append")
    version = refresh_ivf_index(spark, base, root)
    return ivf_query_index(
        spark, root, QUERY_IDS, k=5, n_probe=IVF_N_PROBE,
        version=version, verify_against=base.read(spark))


register("ann_topk_ivf_delta", ann_topk_ivf_delta, _IVF_SQL)


def ann_topk_ivf_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized SERVING over the persisted index (the r9 sanctioned
    addition): the build persists the int8 inverted file alongside the
    float cells (``store_quantized=True``), and the query takes
    ``ivf_query_index_quantized`` -- float probe selection against the
    k-row centroid table, candidate scan FILE-PRUNED to the probed
    cells at 1 byte/dim, codegen'd integer-dot scoring rescaled by the
    exact integer norms (the ``ann_topk_quantized`` math over the
    ``ann_topk_ivf_persisted`` serving shape).  Queries arrive as
    LITERAL vectors (the production shape), fetched driver-side for
    the standard query set.  Integer exactness makes the oracle
    parity bit-for-bit before the single final rounding."""
    from location_summary_etl_spark.operators.ann_index import (
        build_ivf_index,
        ivf_query_index_quantized,
    )
    from location_summary_etl_spark.operators.similarity import (
        fetch_query_rows,
    )
    from location_summary_etl_spark.plans.corpus_warehouse import _fresh_dir

    emb = _emb(spark, sf_dir)
    root = _fresh_dir("annidxq8", sf_dir)
    version = build_ivf_index(emb, root, store_quantized=True)
    queries = [(int(i), [float(x) for x in v])
               for i, v in fetch_query_rows(emb, "vec_id", "embedding",
                                            QUERY_IDS)]
    return ivf_query_index_quantized(spark, root, queries, k=5,
                                     n_probe=IVF_N_PROBE, version=version)


# The oracle composes the two proven fragments: _IVF_SQL's probe
# selection (float query vs rounded per-label centroids) and
# QUANTIZED_TOPK_SQL's integer scoring, restricted to the probed cells.
# The CTE block is shared with the refined variant below, which adds a
# float-rescore layer on top of the same quantized scoring.
_IVF_Q8_CTES = f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
),
flat AS (
    SELECT label, i, v[i] AS x
    FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         UNNEST(generate_series(1, len(v))) AS t(i)
),
cent AS (
    SELECT label AS cl,
           list(round(CAST(cx AS DOUBLE), {CENTROID_SCALE}) ORDER BY i) AS cv
    FROM (SELECT label, i, AVG(x) AS cx FROM flat GROUP BY label, i)
    GROUP BY label
),
centn AS (SELECT cl, cv, sqrt(list_dot_product(cv, cv)) AS c_nrm FROM cent),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id IN ({_IDS})),
probe AS (
    SELECT query_id, cl FROM (
        SELECT q.query_id, c.cl,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(CAST(list_dot_product(q.qv, c.cv)
                                       / (q.qn * c.c_nrm) AS DOUBLE), 6) DESC,
                            c.cl) AS pr
        FROM q CROSS JOIN centn c
        WHERE q.qn > 0 AND c.c_nrm > 0
    ) WHERE pr <= {IVF_N_PROBE}
),
qz AS (
    SELECT vec_id,
           CASE WHEN qscale = 0 THEN list_transform(v, x -> 0)
                ELSE list_transform(
                    v, x -> CAST(sign(x / qscale) * floor(abs(x / qscale) + 0.5)
                                 AS INT))
           END AS code
    FROM (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS qscale
        FROM e
    )
),
nz AS (
    SELECT vec_id, code,
           sqrt(CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(code, x -> CAST(x AS BIGINT)
                                                      * CAST(x AS BIGINT))),
               (a, x) -> a + x) AS DOUBLE)) AS nrm8
    FROM qz
),
scored AS (
    SELECT p.query_id, e.vec_id,
           round(CAST(CAST(list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                                  list_transform(list_zip(qq.code, c.code),
                                                 z -> CAST(z[1] AS BIGINT)
                                                      * CAST(z[2] AS BIGINT))),
                     (a, x) -> a + x) AS DOUBLE)
                 / (qq.nrm8 * c.nrm8) AS DOUBLE), 6) AS qcosine
    FROM e
    JOIN probe p ON e.label = p.cl
    JOIN nz c ON c.vec_id = e.vec_id
    JOIN nz qq ON qq.vec_id = p.query_id
    WHERE e.vec_id <> p.query_id AND c.nrm8 > 0 AND qq.nrm8 > 0
)"""

_IVF_Q8_SQL = _IVF_Q8_CTES + """
SELECT query_id, rank, vec_id, qcosine FROM (
    SELECT query_id, vec_id, qcosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY qcosine DESC, vec_id) AS INT) AS rank
    FROM scored
)
WHERE rank <= 5
"""

register("ann_topk_ivf_quantized", ann_topk_ivf_quantized, _IVF_Q8_SQL)


# R for the refined corpus entry: 4x k, the low end of the standard
# refine band.  The oracle mirrors the SAME truncation (quantized
# top-R then float rescore), so the pairing is exact at ANY R; the
# accuracy-vs-R trade itself is recorded in SURVEY.md §8.ab
# (sf10: R=4k stays at the bare-int8 0.80 agreement because this
# corpus packs top cosines within the ~1e-3 quantization error,
# R=10k measures 1.00).
_REFINE_R = 20


def ann_topk_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refined quantized serving (``refine=R``): the int8 candidate
    scan picks the top-R per query, ONLY those R ids' float vectors
    are fetched back (IN-pushdown over the id-sorted cell layout,
    page-level pruning), and the final top-k is ranked by EXACT float
    cosine -- the standard IVF answer to the quantized path's ~0.80
    top-10 agreement (measured 1.00 at R=10k on the sf10 tier,
    SURVEY.md §8.ab) while the bulk scan stays 1 byte/dim.
    Output carries ``cosine`` (exact float scores), oracle-paired with
    the same quantized CTEs plus a float-rescore layer."""
    from location_summary_etl_spark.operators.ann_index import (
        build_ivf_index,
        ivf_query_index_quantized,
    )
    from location_summary_etl_spark.operators.similarity import (
        fetch_query_rows,
    )
    from location_summary_etl_spark.plans.corpus_warehouse import _fresh_dir

    emb = _emb(spark, sf_dir)
    root = _fresh_dir("annidxrf", sf_dir)
    version = build_ivf_index(emb, root, store_quantized=True)
    queries = [(int(i), [float(x) for x in v])
               for i, v in fetch_query_rows(emb, "vec_id", "embedding",
                                            QUERY_IDS)]
    return ivf_query_index_quantized(spark, root, queries, k=5,
                                     n_probe=IVF_N_PROBE, version=version,
                                     refine=_REFINE_R)


_IVF_REFINE_SQL = _IVF_Q8_CTES + f""",
qtop AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY qcosine DESC, vec_id) AS qr
        FROM scored
    ) WHERE qr <= {_REFINE_R}
),
rescored AS (
    SELECT t.query_id, t.vec_id,
           round(CAST(list_dot_product(q.qv, e.v)
                      / (q.qn * e.nrm) AS DOUBLE), 6) AS cosine
    FROM qtop t
    JOIN e ON e.vec_id = t.vec_id
    JOIN q ON q.query_id = t.query_id
    WHERE e.nrm > 0
)
SELECT query_id, rank, vec_id, cosine FROM (
    SELECT query_id, vec_id, cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS INT) AS rank
    FROM rescored
)
WHERE rank <= 5
"""

register("ann_topk_ivf_refined", ann_topk_ivf_refined, _IVF_REFINE_SQL)


def ann_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-accuracy contract under the oracle gate (r10 VERDICT
    #7): recall@5 of the three index serving paths -- float IVF,
    bare quantized, quantized+refine -- against the brute-force truth,
    computed IN-PLAN from one persisted index.  Emits the exact
    per-query recall values (deterministic: every ranking is rounded
    before ordering and ties break on vec_id, so the oracle replays
    them bit-for-bit) plus two THEOREM assertions the oracle emits as
    TRUE literals:

    * ``ivf_ge_refined``: truth is the global top-5 under the total
      order (rounded cosine DESC, vec_id ASC); within ANY candidate
      set, ranking by that same total order places every present
      truth member ahead of every non-truth member, so
      ``|truth  ∩  top5(S)| = |truth ∩ S|`` (≤ 5) -- recall is MONOTONE
      in the candidate set.  The refine stage ranks the quantized
      top-R (a subset of the probed cells' candidates the float path
      ranks), hence recall_ivf >= recall_refined.
    * ``refined_ge_quantized``: quantized top-5 ⊆ quantized top-R
      (same qcosine ranking, rank <= 5 vs <= R), and the refine
      stage's exact re-ranking captures every truth member present in
      its candidate set, hence recall_refined >= recall_quantized.

    A violated theorem turns the boolean FALSE and the driver's hash
    comparison red -- the contract travels with the gate to every
    scale it runs at (recall VALUES legitimately vary with scale; the
    sandwich recall_ivf >= recall_refined >= recall_quantized cannot).
    Measured here (2026-08-15): sf0.01 all three paths agree per
    query (0.2-0.6 -- toy-scale labels probe poorly); the accuracy-
    vs-R trade at depth is recorded in SURVEY.md §8.ab."""
    from location_summary_etl_spark.operators.ann_index import (
        build_ivf_index,
        ivf_query_index,
        ivf_query_index_quantized,
    )
    from location_summary_etl_spark.operators.similarity import (
        fetch_query_rows,
    )
    from location_summary_etl_spark.plans.corpus_warehouse import _fresh_dir

    emb = _emb(spark, sf_dir)
    root = _fresh_dir("annrecall", sf_dir)
    version = build_ivf_index(emb, root, store_quantized=True)
    queries = [(int(i), [float(x) for x in v])
               for i, v in fetch_query_rows(emb, "vec_id", "embedding",
                                            QUERY_IDS)]
    truth = brute_force_topk(emb, QUERY_IDS, k=5).select(
        "query_id", "vec_id")
    paths = {
        "recall_ivf": ivf_query_index(
            spark, root, QUERY_IDS, k=5, n_probe=IVF_N_PROBE,
            version=version),
        "recall_quantized": ivf_query_index_quantized(
            spark, root, queries, k=5, n_probe=IVF_N_PROBE,
            version=version),
        "recall_refined": ivf_query_index_quantized(
            spark, root, queries, k=5, n_probe=IVF_N_PROBE,
            version=version, refine=_REFINE_R),
    }
    out = truth.groupBy("query_id").agg(F.count("*").alias("_nt"))
    for name, df in paths.items():
        hits = (df.select("query_id", "vec_id")
                .join(truth, ["query_id", "vec_id"])
                .groupBy("query_id").agg(F.count("*").alias("_h")))
        out = (out.join(hits, "query_id", "left")
               .withColumn(name, round_portable(
                   F.coalesce(F.col("_h"), F.lit(0)) / F.col("_nt"), 6))
               .drop("_h"))
    return out.select(
        "query_id", "recall_ivf", "recall_quantized", "recall_refined",
        (F.col("recall_ivf") >= F.col("recall_refined"))
        .alias("ivf_ge_refined"),
        (F.col("recall_refined") >= F.col("recall_quantized"))
        .alias("refined_ge_quantized"),
    )


# The oracle composes the proven fragments once more: the shared
# quantized CTEs (probe selection + integer scoring), a brute-force
# truth CTE, a float-within-probed-cells top-5, the quantized top-5 /
# top-R, and the float rescore -- then counts overlaps.  The theorem
# columns are TRUE literals, exactly like orders_approx_stats'
# interval assertions.
_RECALL_SQL = _IVF_Q8_CTES + f""",
truth AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, e2.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(CAST(list_dot_product(q.qv, e2.v)
                                       / (q.qn * e2.nrm) AS DOUBLE), 6) DESC,
                            e2.vec_id) AS r
        FROM e e2 CROSS JOIN q
        WHERE e2.vec_id <> q.query_id AND e2.nrm > 0 AND q.qn > 0
    ) WHERE r <= 5
),
ftop AS (
    SELECT query_id, vec_id FROM (
        SELECT p.query_id, e2.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY p.query_id
                   ORDER BY round(CAST(list_dot_product(qq.qv, e2.v)
                                       / (qq.qn * e2.nrm) AS DOUBLE), 6) DESC,
                            e2.vec_id) AS r
        FROM e e2
        JOIN probe p ON e2.label = p.cl
        JOIN q qq ON qq.query_id = p.query_id
        WHERE e2.vec_id <> p.query_id AND e2.nrm > 0
    ) WHERE r <= 5
),
qranked AS (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY qcosine DESC, vec_id) AS qr
    FROM scored
),
qtop AS (SELECT query_id, vec_id FROM qranked WHERE qr <= 5),
qtopr AS (SELECT query_id, vec_id FROM qranked WHERE qr <= {_REFINE_R}),
rtop AS (
    SELECT query_id, vec_id FROM (
        SELECT t.query_id, t.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY t.query_id
                   ORDER BY round(CAST(list_dot_product(qq.qv, e2.v)
                                       / (qq.qn * e2.nrm) AS DOUBLE), 6) DESC,
                            t.vec_id) AS r
        FROM qtopr t
        JOIN e e2 ON e2.vec_id = t.vec_id
        JOIN q qq ON qq.query_id = t.query_id
        WHERE e2.nrm > 0
    ) WHERE r <= 5
),
base AS (SELECT query_id, COUNT(*) AS nt FROM truth GROUP BY query_id),
h_ivf AS (SELECT query_id, COUNT(*) AS h FROM truth JOIN ftop
          USING (query_id, vec_id) GROUP BY query_id),
h_q8 AS (SELECT query_id, COUNT(*) AS h FROM truth JOIN qtop
         USING (query_id, vec_id) GROUP BY query_id),
h_ref AS (SELECT query_id, COUNT(*) AS h FROM truth JOIN rtop
          USING (query_id, vec_id) GROUP BY query_id)
SELECT b.query_id,
       round(CAST(COALESCE(h_ivf.h, 0) AS DOUBLE) / b.nt, 6) AS recall_ivf,
       round(CAST(COALESCE(h_q8.h, 0) AS DOUBLE) / b.nt, 6) AS recall_quantized,
       round(CAST(COALESCE(h_ref.h, 0) AS DOUBLE) / b.nt, 6) AS recall_refined,
       TRUE AS ivf_ge_refined,
       TRUE AS refined_ge_quantized
FROM base b
LEFT JOIN h_ivf ON h_ivf.query_id = b.query_id
LEFT JOIN h_q8 ON h_q8.query_id = b.query_id
LEFT JOIN h_ref ON h_ref.query_id = b.query_id
"""

register("ann_recall_contract", ann_recall_contract, _RECALL_SQL)



def embedding_label_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    return (
        emb.select(F.col("label"), l2_norm(v).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            round_portable(F.avg("nrm"), 6).alias("avg_norm"),
        )
    )


register("embedding_label_norms", embedding_label_norms, """
SELECT label, COUNT(*) AS n_vectors,
       round(CAST(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))) AS DOUBLE), 6) AS avg_norm
FROM embeddings
GROUP BY label
""")


# ----------------------------------------------------------- k-means
KMEANS_K = 8
KMEANS_ITERS = 2
KMEANS_DIM = 64


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means over the embeddings table
    (operators/clustering.py): per-round literal-centroid argmin
    assignment (pure codegen over one scan) + a k-row centroid
    aggregate collected to the driver.  The oracle replays the same
    rounds as chained CTEs, so the assignment table must match row
    for row."""
    from location_summary_etl_spark.operators.clustering import kmeans_assign
    from location_summary_etl_spark.session import ensure_parallelism

    return kmeans_assign(
        ensure_parallelism(_emb(spark, sf_dir), by="vec_id"),
        k=KMEANS_K, iters=KMEANS_ITERS)


def _km_assign_sql(src: str, cents: str) -> str:
    """One assignment round: argmin over rounded scores, centroid-id
    tie-break (same grain as the Spark side's round_portable 6dp)."""
    return f"""
    SELECT vec_id, v, j AS cluster FROM (
        SELECT e.vec_id, e.v, {cents}.j,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(CAST(list_dot_product({cents}.c, {cents}.c)
                                - 2 * list_dot_product(e.v, {cents}.c)
                                AS DOUBLE), 6), {cents}.j
               ) AS rn
        FROM {src} e CROSS JOIN {cents}
    ) WHERE rn = 1
    """


register("embedding_kmeans", embedding_kmeans, f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS c
    FROM e ORDER BY vec_id LIMIT {KMEANS_K}
),
a1 AS ({_km_assign_sql('e', 'c0')}),
m1 AS (
    SELECT cluster, i, round(CAST(AVG(v[i]) AS DOUBLE), 6) AS ci
    FROM a1, UNNEST(generate_series(1, {KMEANS_DIM})) AS t(i)
    GROUP BY 1, 2
),
c1 AS (SELECT cluster AS j, list(ci ORDER BY i) AS c FROM m1 GROUP BY 1),
a2 AS ({_km_assign_sql('e', 'c1')})
SELECT vec_id, cluster FROM a2
""")


# ------------------------------------------- semantic dedup (SemDeDup)
SEMDEDUP_THRESHOLD = 0.4


def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means clusters as the
    BLOCKING key, exact cosine pairs only within a cluster.  This is
    the scale recipe for embedding dedup when no natural block (label,
    shard) exists: clustering costs k scans, and the pair expansion
    drops from |corpus|^2 to sum(cluster^2) -- the operator the
    label-blocked dedup_embedding_cosine can't provide on unlabeled
    corpora.  Composition: operators/clustering.kmeans_assign ->
    operators/dedup.embedding_near_dups_pandas(block_col='cluster'),
    both already oracle-exact, so the composite inherits bit-exact
    cosine parity."""
    from location_summary_etl_spark.operators.clustering import kmeans_assign
    from location_summary_etl_spark.operators.dedup import (
        embedding_near_dups_pandas,
    )
    from location_summary_etl_spark.session import ensure_parallelism

    emb = ensure_parallelism(_emb(spark, sf_dir), by="vec_id")
    clusters = kmeans_assign(emb, k=KMEANS_K, iters=KMEANS_ITERS)
    blocked = emb.join(clusters, "vec_id").select(
        "vec_id", "embedding", "cluster")
    return embedding_near_dups_pandas(
        blocked, block_col="cluster", threshold=SEMDEDUP_THRESHOLD)


register("dedup_semantic_kmeans", dedup_semantic_kmeans, f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS c
    FROM e ORDER BY vec_id LIMIT {KMEANS_K}
),
a1 AS ({_km_assign_sql('e', 'c0')}),
m1 AS (
    SELECT cluster, i, round(CAST(AVG(v[i]) AS DOUBLE), 6) AS ci
    FROM a1, UNNEST(generate_series(1, {KMEANS_DIM})) AS t(i)
    GROUP BY 1, 2
),
c1 AS (SELECT cluster AS j, list(ci ORDER BY i) AS c FROM m1 GROUP BY 1),
a2 AS ({_km_assign_sql('e', 'c1')}),
n AS (
    SELECT a.vec_id, a.cluster, a.v,
           sqrt(list_dot_product(a.v, a.v)) AS nrm
    FROM a2 a
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(CAST(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS DOUBLE), 6)
           AS cosine
FROM n a JOIN n b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE a.nrm > 0 AND b.nrm > 0
  AND round(CAST(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS DOUBLE), 6)
      >= {SEMDEDUP_THRESHOLD}
""")
