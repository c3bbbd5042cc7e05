"""Training-data preparation ops beyond cleaning/dedup (BASELINE.json
north star): benchmark-contamination checking, document chunking,
heavy-hitter vocabulary, and the deterministic global shuffle that
precedes sharded training.

Scale notes (100 TB):

- **Contamination** (`corpus_contamination_check`): the held-out/eval
  side is a fixed benchmark capped at 100 documents by construction
  (id bound, not just a residue class -- a residue alone grows with
  the corpus), so its distinct n-gram hash set is BROADCAST into the
  training-corpus scan as a semi-join *before* any shuffle -- the full train n-gram stream (trillions of rows) is
  filtered map-side to the handful that match an eval hash; only that
  sliver is shuffled for the distinct + per-doc counts.  The wrong
  plan (distinct over all train n-grams, then join) shuffles the
  whole corpus.
- **Chunking** (`corpus_chunk_documents`): sequence() + explode is a
  zero-shuffle row expansion -- each task turns its documents into
  chunks locally; output partitioning inherits the input's.
- **Heavy hitters** (`text_heavy_hitters`): exact counts via
  partial+final HashAggregate IS the two-level heavy-hitter merge --
  each task keeps a local (token, count) map, the shuffle carries one
  row per (task, distinct-token).  The relative threshold is an
  uncorrelated scalar subquery (one-row broadcast), not a collect.
- **Global shuffle** (`corpus_shuffle_shards`): training wants an
  order decorrelated from ingest order.  Keying by a seeded hash and
  window-ranking *within* shards is one hash-partitioned exchange +
  per-shard local sort -- never a single global orderBy (which would
  range-partition and concentrate the final merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from location_summary_etl_spark.functions.scalars import (
    DUCKDB_HASH32,
    portable_hash32,
    round_portable,
)
from location_summary_etl_spark.functions.texts import ngrams_from_tokens, tokens
from location_summary_etl_spark.operators.windows import guarded_unpartitioned
from location_summary_etl_spark.plans.corpus import register
from location_summary_etl_spark.sources.registry import load_table

# ------------------------------------------------ benchmark contamination
EVAL_MOD = 25          # doc_id % 25 == 0 -> candidate "benchmark" residue
EVAL_MAX_DOC_ID = 2500  # ...but only below this id: eval is a FIXED set
CONTAM_NGRAM = 5       # word n-grams compared (real pipelines use 8-13)
# Eval cardinality is bounded a priori: at most EVAL_MAX_DOC_ID/EVAL_MOD
# = 100 documents no matter how large the corpus grows -- a stand-in for
# a real pipeline's fixed benchmark table (MMLU/GSM8K/... are constant-
# size by nature).  That bound is what licenses the two broadcasts in
# corpus_contamination_check: ~100 docs x ~O(10^3) distinct 5-grams x 4
# bytes is KBs, independent of corpus size.


def _ngram_stream(docs: DataFrame, widen: bool = True) -> DataFrame:
    """(doc_id, h): hashed word-5grams, NOT de-duplicated (every
    downstream consumer distincts or is dedup-insensitive).

    The hash is INTERNAL -- the check's output is counts and rates,
    never a hash value -- so it uses codegen ``xxhash64`` (the md5
    portability floor documented in operators/dedup._posting_hashes
    does not apply; swapping md5 -> xxhash64 measured 0.63 -> 0.43 s
    on the whole check at sf0.1, same session A/B).  The oracle
    therefore compares RAW GRAM STRINGS -- the true semantics ("how
    many of its distinct 5-grams occur in train"), of which the hash
    stream is the shuffle-20x-fewer-bytes implementation; a 64-bit
    collision would make the engines disagree by one count with
    probability ~2^-64 per gram pair (~1e-9 across the gate corpus).

    r5 shape: FLAT posexplode + multi-column hash, no HOF and no
    string building.  Spark never code-generates lambda functions, so
    the previous ``transform(positions, i -> concat_ws(' ', 5 x
    element_at))`` built every gram string interpreted; exploding the
    position sequence instead and hashing the five ``element_at``
    lookups directly (``xxhash64(t0..t4)`` -- no gram string ever
    materializes) keeps the whole stream inside WholeStageCodegen.
    Same-session interleaved A/B at sf0.1, min-of-6: 0.61/0.77 s
    (HOF + per-doc array_distinct) -> 0.555/0.659 s flat (~10-15%),
    identical output at both gate scales.  The per-doc array_distinct
    went with the lambda: in flat form duplicates just re-hash and
    re-probe (cheap) and the eval side distincts (doc_id, h) exactly
    where it always aggregated.  Also measured, rejected: an
    eval-vocabulary token pre-filter before gram assembly -- the gate
    corpus has a 31-token vocabulary fully shared between splits, so
    100% of train positions survive and the filter is pure overhead
    (on a real corpus with disjoint vocab it would help; the
    broadcast semi-join already bounds the shuffle either way).

    ``widen`` hash-widens the narrow scan before the CPU-heavy
    explode+hash (see session.ensure_parallelism); pass False for
    slivers (e.g. the eval split) where the extra exchange costs more
    than the parallelism buys.  r13: the width is bounded
    data-proportionally (64 KB of source text per task, cores-capped)
    -- the same tiny-task fixed-cost curve the dedup signature
    pipelines measured; full-width 0.546-0.653 s vs bounded
    0.466-0.500 s on the whole check across three interleaved rounds
    (together with the eval-side coalesce below)."""
    from location_summary_etl_spark.session import ensure_parallelism

    n = CONTAM_NGRAM
    base = docs.select("doc_id", "text")
    if widen:
        base = ensure_parallelism(base, by="doc_id",
                                  target_task_bytes=64 * 1024)
    toks = base.select("doc_id", tokens("text").alias("toks"))
    idx = F.when(
        F.size("toks") >= n, F.sequence(F.lit(1), F.size("toks") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    pos = toks.select("doc_id", "toks", F.explode(idx).alias("i"))
    return pos.select(
        "doc_id",
        F.xxhash64(*[F.element_at(F.col("toks"), F.col("i") + k)
                     for k in range(n)]).alias("h"),
    )


def corpus_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per eval document: how many of its distinct 5-grams also occur
    anywhere in the training split (train = every doc NOT in the eval
    set).

    Plan shape (the one that survives 100 TB): the eval set is a FIXED
    benchmark -- at most ``EVAL_MAX_DOC_ID / EVAL_MOD`` = 100 documents
    regardless of corpus size (a residue class alone would grow
    linearly with the corpus and its broadcast with it; the id cap
    makes the bound a priori, the way a real benchmark table is
    constant-size).  Its distinct hash set is therefore a safely
    broadcast semi-join pruning the TRAIN n-gram stream map-side --
    train n-grams that match no eval hash (virtually all of them) die
    before any exchange.  The surviving train hashes distinct down to a relation
    bounded by the eval hash set itself and broadcast back onto the
    eval postings, so BOTH wide structures are eval-sized: no
    corpus-wide aggregate, no collect_set, no re-explode.  (The
    previous formulation folded the pruned stream into a per-hash
    inverted index with collect_set + explode; the flat
    distinct+broadcast form measured ~10% faster with an identical
    result and strictly smaller aggregate state.)"""
    from location_summary_etl_spark.operators.gates import source_fits

    docs = load_table(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % EVAL_MOD == 0) & (
        F.col("doc_id") < EVAL_MAX_DOC_ID)
    # coalesce(1): the eval split is <= 100 documents BY CONSTRUCTION
    # (the id cap above), so its postings are a single partition's
    # worth at any corpus size.  Making that static deletes the
    # distinct's exchange below (numPartitions == 1 satisfies the
    # aggregate's ClusteredDistribution), i.e. one whole AQE stage
    # from the critical path -- at bench scale the check is stage-
    # count-bound (REST profile: ~0.13 s of task time inside a
    # ~0.65 s wall, the rest inter-stage orchestration).  r13 A/B,
    # three interleaved rounds: part of 0.546-0.653 -> 0.466-0.500 s.
    # But coalesce(1) has no exchange below it, so it also collapses
    # the documents SCAN feeding the eval filter into one task: only
    # while the source provably fits the broadcast cap; past it the
    # scan stays parallel and the distinct keeps its exchange.
    ev_post = _ngram_stream(docs.filter(is_eval), widen=False)
    if source_fits(docs):
        ev_post = ev_post.coalesce(1)
    eval_hashes = ev_post.select("h").distinct()
    train_hits = (
        _ngram_stream(docs.filter(~is_eval))
        .join(F.broadcast(eval_hashes), "h", "left_semi")
        .select("h").distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        ev_post.join(F.broadcast(train_hits), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_eval_ngrams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_contaminated"),
        )
        .select(
            "doc_id", "n_eval_ngrams", "n_contaminated",
            round_portable(
                F.col("n_contaminated") / F.col("n_eval_ngrams"), 4)
            .alias("contamination_rate"),
        )
    )


# Oracle on raw gram STRINGS (the true semantics; see _ngram_stream on
# why the Spark side's internal xxhash64 matches it).
register("corpus_contamination_check", corpus_contamination_check, f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
grams AS (
    SELECT DISTINCT doc_id,
           toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
           toks[i+3] || ' ' || toks[i+4] AS gram
    FROM toks, UNNEST(generate_series(1, len(toks) - {CONTAM_NGRAM - 1})) AS t(i)
),
eval_ngrams AS (
    SELECT * FROM grams
    WHERE doc_id % {EVAL_MOD} = 0 AND doc_id < {EVAL_MAX_DOC_ID}
),
train_hits AS (
    SELECT DISTINCT gram FROM grams
    WHERE NOT (doc_id % {EVAL_MOD} = 0 AND doc_id < {EVAL_MAX_DOC_ID})
)
SELECT e.doc_id,
       COUNT(*) AS n_eval_ngrams,
       COUNT(t.gram) AS n_contaminated,
       round(CAST(COUNT(t.gram) AS DOUBLE) / COUNT(*), 4) AS contamination_rate
FROM eval_ngrams e LEFT JOIN train_hits t ON e.gram = t.gram
GROUP BY e.doc_id
""")


# --------------------------------------------------------- chunking
CHUNK_CHARS = 120
CHUNK_STRIDE = 80      # 40-char overlap between consecutive chunks


def corpus_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping character chunks (the long-document ->
    context-window split every training pipeline runs).  Chunk starts
    are a strided sequence exploded per document -- a local row
    expansion, no shuffle anywhere in the plan."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.length("text") >= 1)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.length("text"), F.lit(CHUNK_STRIDE))
            ).alias("chunk_start"),
        )
        .select(
            "doc_id",
            "chunk_start",
            F.substring(F.col("text"), F.col("chunk_start").cast("int"),
                        F.lit(CHUNK_CHARS)).alias("chunk"),
        )
        .withColumn("chunk_chars", F.length("chunk"))
    )


register("corpus_chunk_documents", corpus_chunk_documents, f"""
SELECT doc_id, i AS chunk_start,
       substr(text, i, {CHUNK_CHARS}) AS chunk,
       length(substr(text, i, {CHUNK_CHARS})) AS chunk_chars
FROM documents, UNNEST(generate_series(1, length(text), {CHUNK_STRIDE})) AS t(i)
WHERE length(text) >= 1
""")


# ----------------------------------------------------- heavy hitters
HH_INVERSE_FRACTION = 500   # tokens with frequency > total/500


def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens whose corpus frequency exceeds 1/500 of all tokens.
    Partial+final HashAggregate is the distributed heavy-hitter merge;
    the threshold is the corpus total broadcast from a one-row
    aggregate (in-plan, no driver collect)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("tok"))
    counts = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = tok.agg(F.count("*").alias("total"))
    return (
        counts.join(F.broadcast(total))
        .filter(F.col("cnt") * HH_INVERSE_FRACTION > F.col("total"))
        .select("tok", "cnt")
    )


register("text_heavy_hitters", text_heavy_hitters, f"""
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
counts AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok)
SELECT tok, cnt FROM counts
WHERE cnt * {HH_INVERSE_FRACTION} > (SELECT COUNT(*) FROM tok)
""")


# ------------------------------------------------- global shuffle -> shards
SHUFFLE_SEED = "42"
N_SHARDS = 8


def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training: every document gets a
    seeded pseudorandom key; shard = key mod N, position = rank of the
    key within the shard.  One hash exchange on shard + a per-shard
    sort -- equivalent to repartition(N).sortWithinPartitions(key),
    expressed relationally so it is oracle-checkable.  Changing the
    seed reshuffles; same seed is bit-stable across runs and engines."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"),
                       F.lit(":" + SHUFFLE_SEED))).alias("shuffle_key"),
    ).withColumn(
        "shard",
        (portable_hash32("shuffle_key") % N_SHARDS).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id", "shard",
        F.row_number().over(w).alias("pos_in_shard"),
    )


_SHARD_H = DUCKDB_HASH32.format(x="md5(CAST(doc_id AS VARCHAR) || ':" + SHUFFLE_SEED + "')")

register("corpus_shuffle_shards", corpus_shuffle_shards, f"""
WITH keyed AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR) || ':{SHUFFLE_SEED}') AS shuffle_key,
           CAST({_SHARD_H} % {N_SHARDS} AS INTEGER) AS shard
    FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id)
            AS BIGINT) AS pos_in_shard
FROM keyed
""")


# ------------------------------------------------ mixture resampling
# Target mixture weights per source-group (what fraction of the final
# training mix each group should be).  Deliberately non-uniform so the
# derived per-source rates differ.
MIX_WEIGHTS = [("src0", 3.0), ("src1", 3.0), ("src2", 1.0), ("src3", 1.0),
               ("src4", 1.0), ("src5", 1.0)]
MIX_BUDGET_FRACTION = 0.5   # of the docs in the targeted sources
MIX_SALT = "mix42"


def corpus_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic resampling to a TARGET source mixture -- the
    data-mixing step before training (upweight curated sources,
    downweight crawl).  Unlike ``corpus_stratified_sample`` (static
    per-language rates), the per-source keep-fraction is DERIVED from
    the observed counts in-plan: frac_s = min(1, weight_s * budget /
    n_s), where the counts and the budget ride broadcast joins of
    aggregate-sized relations -- no driver collect, so the plan
    recomputes correctly on any corpus.  Row selection is the same
    salted-hash bucket trick as the stratified sampler: corpus-
    independent, so re-runs and incremental batches keep identical
    rows.

    Output is the per-source audit row (kept counts + achieved
    mixture share), which is what the pipeline operator logs; the
    kept rows themselves are the same relation before the final
    groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    weights = spark.createDataFrame(MIX_WEIGHTS, "source string, w double")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    # guarded: |sources| rows by construction; the guard raise_errors
    # if this ever stops being aggregate-sized (shares the WindowExec).
    sized = (counts.join(F.broadcast(weights), "source")
             # coalesce(1): |sources| rows by construction (the
             # broadcast-join against the fixed weights list bounds
             # it); static single-partition deletes the two empty-spec
             # windows' exchange (the minmax_score_window r13 note)
             .coalesce(1)
             .withColumn("_wsum", guarded_unpartitioned(
                 F.sum("w").over(Window.partitionBy()),
                 "mixture per-source counts"))
             .withColumn("_ntot", F.sum("n_s").over(Window.partitionBy())))
    # budget rows for source s: (w_s / sum w) * (budget_frac * n_total)
    frac = F.least(
        F.lit(1.0),
        (F.col("w") / F.col("_wsum")) * F.lit(MIX_BUDGET_FRACTION)
        * F.col("_ntot") / F.col("n_s"))
    rates = sized.select("source", frac.alias("frac"))
    bucket = (
        portable_hash32(
            F.concat_ws("|", F.lit(MIX_SALT), F.col("doc_id").cast("string"))
        ) % 1_000_000
    )
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(bucket < (F.col("frac") * 1_000_000).cast("bigint"))
    )
    return (
        kept.groupBy("source").agg(F.count("*").alias("n_kept"))
        .coalesce(1)  # |sources| rows; same exchange deletion as above
        .withColumn(
            "achieved_share",
            guarded_unpartitioned(
                round_portable(
                    F.col("n_kept")
                    / F.sum("n_kept").over(Window.partitionBy()), 4),
                "mixture kept-count audit"))
    )


_MIX_H = DUCKDB_HASH32.format(
    x=f"concat_ws('|', '{MIX_SALT}', CAST(doc_id AS VARCHAR))")
_MIX_VALUES = ", ".join(f"('{s}', {w})" for s, w in MIX_WEIGHTS)

register("corpus_mixture_resample", corpus_mixture_resample, f"""
WITH weights(source, w) AS (VALUES {_MIX_VALUES}),
counts AS (
    SELECT d.source, COUNT(*) AS n_s
    FROM documents d JOIN weights USING (source)
    GROUP BY d.source
),
sized AS (
    SELECT c.source, c.n_s, w.w,
           SUM(w.w) OVER () AS wsum,
           SUM(c.n_s) OVER () AS ntot
    FROM counts c JOIN weights w USING (source)
),
rates AS (
    SELECT source,
           LEAST(1.0, (w / wsum) * {MIX_BUDGET_FRACTION} * ntot / n_s) AS frac
    FROM sized
),
kept AS (
    SELECT d.source
    FROM documents d JOIN rates r USING (source)
    WHERE {_MIX_H} % 1000000 < CAST(r.frac * 1000000 AS BIGINT)
)
SELECT source, COUNT(*) AS n_kept,
       round(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 4)
           AS achieved_share
FROM kept
GROUP BY source
""")
