"""The COMPOSED retrieval stack as single registered endpoints.

Round 7 verified the retrieval stages individually — BM25 lexical
scoring (text.py), cosine/IVF-PQ dense retrieval (similarity.py,
ann_index.py), RRF fusion and MMR diversification (similarity.py) —
but not their composition, which is where plan-sharing bugs hide
(a barrier dropped between stages silently re-scans the corpus; a
rank computed off an unmaterialized frame can shift under AQE). This
module closes that (round-8 verdict item 3):

- ``q_retrieval_pipeline``: BM25 top-20 + EXACT cosine top-20 ->
  RRF(k=60) fusion -> fused top-10 -> MMR(lambda=0.5) selection of 5,
  one lazy chain, VALUE-ORACLED END TO END — the DuckDB oracle
  replays every stage including the unrolled greedy MMR steps, so a
  single drifted rank anywhere in the composition flips the value
  hash.
- ``q_retrieval_pipeline_ann``: the same chain with the dense side
  swapped to the PERSISTED-INDEX IVF-PQ serve path (probe -> ADC ->
  exact rerank), i.e. what the stack runs at 100 TB where exact
  cosine over the corpus is unaffordable. ANN membership depends on
  trained codebooks no SQL engine can replay, so (registry
  discipline, the op_sim_ivfpq precedent) the output is the
  deterministic lexical spine (hash-compared value by value) plus
  in-query audit booleans over the approximate side.

The module also holds the retrieval-adjacent training-data and
query-shape operators that build on the same primitives:
``op_sim_hard_negatives`` (denoised contrastive-negative mining),
``op_sim_filtered_topk`` / ``op_sim_filtered_ann_serve`` (metadata-
filtered vector search: exact pre-filter strategy and the predicate
pushed into the persisted index scan).

Corpus note: both sides draw candidates from the EMBEDDED corpus
(doc_id present in embeddings) — at sf0.1 the documents table has
5000 docs but only 2000 embeddings, and a candidate without a vector
cannot enter MMR's diversity matrix. A production stack embeds its
whole serving corpus; the restriction is the fixture-faithful
equivalent.

Scale shape: each ranker reduces to its top-K via
TakeOrderedAndProject heaps (never a global sort); ranks are assigned
by the sort_array/posexplode form over the K survivors (no
single-partition window); fusion is union + K-keyed groupBy (Spark
cannot broadcast a FULL OUTER side); the fused top-10 and its 10x10
cosine matrix are materialized once and the 5 greedy MMR steps are
constant work. The only corpus-scale stages are the two scoring scans
(documents once — inside op_text_bm25's materialize-once barrier —
and embeddings once per dense scorer), pinned by
tests/test_plans.py::test_retrieval_pipeline_plan_contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from game_data_etl_pipeline_spark.catalog import load_table, widen_narrow_scan
from game_data_etl_pipeline_spark.llmdata import text as _text
from game_data_etl_pipeline_spark.llmdata.ann_index import build_ann_index, read_ann_index
from game_data_etl_pipeline_spark.llmdata.lex_index import build_lex_index
from game_data_etl_pipeline_spark.llmdata.similarity import (
    IVFPQ_PROBES,
    IVFPQ_SHORTLIST,
    LATE_INTERACTION_ORACLE,
    _cosine_to_query0,
    dot_expr,
    euclidean_expr,
    ivfpq_adc_scored,
    mmr_select_embedded,
    mmr_select_grouped_embedded,
    norm_expr,
)
from game_data_etl_pipeline_spark.registry import register

K_EACH = 20   # per-ranker candidate list
K_FUSED = 10  # fused candidates entering MMR
K_OUT = 5     # MMR selections returned


def _ranked(top: DataFrame, score: str, rank_name: str) -> DataFrame:
    """Rank a bounded top-K frame without a window: collapse the <=K
    survivors into one sorted array and posexplode (rank-1, doc) —
    op_sim_hybrid_rrf's global-window-free rank assignment."""
    arr = F.sort_array(
        F.collect_list(
            F.struct((-F.col(score)).alias("ns"), F.col("doc_id").alias("doc_id"))
        )
    )
    return (
        top.agg(arr.alias("arr"))
        .select(F.posexplode("arr").alias("pos", "s"))
        .select(
            F.col("s.doc_id").alias("doc_id"),
            (F.col("pos") + 1).cast("int").alias(rank_name),
        )
    )


def lex_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 over the embedded corpus as (doc_id, lex_rank).
    The semi-join against embeddings reads ONLY vec_id (column-pruned
    scan) and keeps BM25's corpus statistics untouched — scores are
    computed over the full documents table, the restriction applies
    to the CANDIDATE list."""
    embk = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    lex_top = (
        _text.op_text_bm25(spark, sf_dir)
        .join(embk, "doc_id", "left_semi")
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(K_EACH)
    )
    return _ranked(lex_top, "bm25", "lex_rank")


def fuse_rrf(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """RRF(k=60) fusion of two bounded rank lists as union + K-keyed
    groupBy (op_sim_hybrid_rrf's full-outer-join replacement)."""
    rrf = F.round(
        F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (60 + F.col("sem_rank")), F.lit(0.0)),
        6,
    )
    both = lex.withColumn("sem_rank", F.lit(None).cast("int")).unionByName(
        sem.withColumn("lex_rank", F.lit(None).cast("int"))
    )
    return (
        both.groupBy("doc_id")
        .agg(F.max("lex_rank").alias("lex_rank"), F.max("sem_rank").alias("sem_rank"))
        .select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf"))
    )


def _mmr_over_fused(fused: DataFrame, emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(fused10, picks): take the fused top-K_FUSED, fetch their
    embeddings (a broadcast of 10 ids against the embeddings scan),
    materialize the bounded candidate + pairwise frames once, and run
    the shared greedy loop with rel = 60*rrf (monotone in rrf; the
    x60 rescale puts relevance on the pairwise-cosine scale so
    lambda=0.5 trades them meaningfully)."""
    fused10 = (
        fused.orderBy(F.desc("rrf"), "doc_id").limit(K_FUSED).localCheckpoint()
    )
    # r16: the pairwise matrix folds in-expression off the ONE collect
    # (mmr_select_embedded), so with_emb has a single consumer — its
    # checkpoint and the broadcast pair self-join are gone and the MMR
    # tail is one job over one embeddings fetch (guide §1.2)
    with_emb = emb.join(
        F.broadcast(fused10.select("doc_id", "rrf")),
        emb["vec_id"] == F.col("doc_id"),
    ).select("doc_id", (F.col("rrf") * 60).alias("rel"), "embedding")
    picks = mmr_select_embedded(with_emb, steps=K_OUT, lam=0.5)
    return fused10, picks


# the 5 unrolled greedy MMR steps over the fused candidates — the
# op_sim_mmr oracle pattern with rel = 60*rrf and cands = fused10
_MMR_STEPS_SQL = """
        sel1 AS (
            SELECT doc_id, rel, 0.5 * rel AS m
            FROM cands ORDER BY rel DESC, doc_id LIMIT 1
        ),
        rem2 AS (
            SELECT c.doc_id, c.rel,
                   0.5 * c.rel - 0.5 * (SELECT MAX(p.sim) FROM pairs p
                                        WHERE p.d1 = c.doc_id
                                          AND p.d2 IN (SELECT doc_id FROM sel1)) AS m
            FROM cands c WHERE c.doc_id NOT IN (SELECT doc_id FROM sel1)
        ),
        sel2 AS (SELECT doc_id, rel, m FROM rem2 ORDER BY m DESC, doc_id LIMIT 1),
        rem3 AS (
            SELECT c.doc_id, c.rel,
                   0.5 * c.rel - 0.5 * (SELECT MAX(p.sim) FROM pairs p
                                        WHERE p.d1 = c.doc_id
                                          AND p.d2 IN (SELECT doc_id FROM sel1
                                                       UNION SELECT doc_id FROM sel2)) AS m
            FROM cands c WHERE c.doc_id NOT IN (SELECT doc_id FROM sel1
                                                UNION SELECT doc_id FROM sel2)
        ),
        sel3 AS (SELECT doc_id, rel, m FROM rem3 ORDER BY m DESC, doc_id LIMIT 1),
        rem4 AS (
            SELECT c.doc_id, c.rel,
                   0.5 * c.rel - 0.5 * (SELECT MAX(p.sim) FROM pairs p
                                        WHERE p.d1 = c.doc_id
                                          AND p.d2 IN (SELECT doc_id FROM sel1
                                                       UNION SELECT doc_id FROM sel2
                                                       UNION SELECT doc_id FROM sel3)) AS m
            FROM cands c WHERE c.doc_id NOT IN (SELECT doc_id FROM sel1
                                                UNION SELECT doc_id FROM sel2
                                                UNION SELECT doc_id FROM sel3)
        ),
        sel4 AS (SELECT doc_id, rel, m FROM rem4 ORDER BY m DESC, doc_id LIMIT 1),
        rem5 AS (
            SELECT c.doc_id, c.rel,
                   0.5 * c.rel - 0.5 * (SELECT MAX(p.sim) FROM pairs p
                                        WHERE p.d1 = c.doc_id
                                          AND p.d2 IN (SELECT doc_id FROM sel1
                                                       UNION SELECT doc_id FROM sel2
                                                       UNION SELECT doc_id FROM sel3
                                                       UNION SELECT doc_id FROM sel4)) AS m
            FROM cands c WHERE c.doc_id NOT IN (SELECT doc_id FROM sel1
                                                UNION SELECT doc_id FROM sel2
                                                UNION SELECT doc_id FROM sel3
                                                UNION SELECT doc_id FROM sel4)
        ),
        sel5 AS (SELECT doc_id, rel, m FROM rem5 ORDER BY m DESC, doc_id LIMIT 1)
"""


@register(
    "q_retrieval_pipeline",
    tags=("llm", "retrieval", "pipeline"),
    oracle=_text.BM25_CTES
    + """,
        lex AS (
            SELECT doc_id, lex_rank FROM (
                SELECT doc_id,
                       CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
                FROM bm
                WHERE doc_id IN (SELECT vec_id FROM embeddings)
            ) WHERE lex_rank <= 20
        ),
        q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
        ),
        scoredsem AS (
            SELECT vec_id AS doc_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 4) AS cos
            FROM embeddings, q WHERE vec_id != 0
        ),
        sem AS (
            SELECT doc_id, sem_rank FROM (
                SELECT doc_id,
                       CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INT) AS sem_rank
                FROM scoredsem
            ) WHERE sem_rank <= 20
        ),
        fused AS (
            SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
                   ROUND(COALESCE(1.0 / (60 + lex_rank), 0.0)
                         + COALESCE(1.0 / (60 + sem_rank), 0.0), 6) AS rrf
            FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
        ),
        cands AS (
            SELECT doc_id, lex_rank, sem_rank, rrf, rrf * 60 AS rel
            FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
        ),
        pairs AS (
            SELECT a.vec_id AS d1, b.vec_id AS d2,
                   ROUND(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS sim
            FROM embeddings a
            JOIN embeddings b ON a.vec_id != b.vec_id
            WHERE a.vec_id IN (SELECT doc_id FROM cands)
              AND b.vec_id IN (SELECT doc_id FROM cands)
        ),
"""
    + _MMR_STEPS_SQL
    + """
        SELECT CAST(sel_rank AS INT) AS sel_rank, s.doc_id,
               c.lex_rank, c.sem_rank, c.rrf,
               ROUND(s.m, 6) + 0.0 AS mmr
        FROM (
            SELECT 1 AS sel_rank, * FROM sel1
            UNION ALL SELECT 2, * FROM sel2
            UNION ALL SELECT 3, * FROM sel3
            UNION ALL SELECT 4, * FROM sel4
            UNION ALL SELECT 5, * FROM sel5
        ) s
        JOIN cands c ON s.doc_id = c.doc_id
    """,
)
def q_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full exact retrieval stack to one endpoint: BM25 top-20 +
    exact-cosine top-20 (query = vec 0) -> RRF(k=60) -> fused top-10
    -> greedy MMR (lambda=0.5) -> the 5 selections with their full
    provenance (lex_rank, sem_rank, rrf, mmr). Every stage's values
    feed the next and the DuckDB oracle replays the whole chain —
    this is the composition check that the individually-verified
    stage ops cannot give.

    Float discipline (all inherited from the stage ops): cosine 4dp
    before ranking, rrf 6dp from integer ranks, rel = 60*rrf (one
    identical multiply both engines), m = 0.5*rel - 0.5*maxsim the
    same IEEE sequence, output mmr 6dp with -0.0 normalization; every
    ordering breaks ties on doc_id."""
    emb = load_table(spark, sf_dir, "embeddings")
    lex = lex_ranked(spark, sf_dir)
    sem_scored = _cosine_to_query0(emb).drop("embedding")
    sem = _ranked(
        sem_scored.orderBy(F.desc("cos"), "doc_id").limit(K_EACH), "cos", "sem_rank"
    )
    fused = fuse_rrf(lex, sem)
    fused10, picks = _mmr_over_fused(fused, emb.select("vec_id", "embedding"))
    return picks.join(F.broadcast(fused10), "doc_id").select(
        "sel_rank",
        "doc_id",
        "lex_rank",
        "sem_rank",
        "rrf",
        (F.round(F.col("m"), 6) + 0.0).alias("mmr"),
    )


def ann_sem_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense top-20 for query vec 0 via the PERSISTED IVF-PQ index:
    probe the top-IVFPQ_PROBES coarse cells, ADC-score only postings
    in probed cells, exact-rerank the shortlist, return (doc_id,
    sem_rank) — q_retrieval_pipeline_ann's candidate generator and
    the per-query serving shape of the 100 TB stack (the corpus-wide
    exact scorer it replaces is the thing that stops scaling)."""
    coarse, books, postings = read_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    scored = ivfpq_adc_scored(
        q0, postings.filter(F.col("vec_id") != 0), coarse, books, probes=IVFPQ_PROBES
    ).drop("query_id")
    shortlist = scored.orderBy(F.col("adc_sqdist").asc(), "vec_id").limit(
        IVFPQ_SHORTLIST
    )
    rerank_d = euclidean_expr(F.col("qe"), F.col("embedding"))
    sem_top = (
        emb.join(F.broadcast(shortlist.select("vec_id", "qe")), "vec_id")
        .select(F.col("vec_id").alias("doc_id"), rerank_d.alias("rdist"))
        .orderBy(F.col("rdist").asc(), "doc_id")
        .limit(K_EACH)
    )
    return _ranked(sem_top.select("doc_id", (-F.col("rdist")).alias("s")), "s", "sem_rank")


@register(
    "q_retrieval_pipeline_ann",
    tags=("llm", "retrieval", "pipeline", "index"),
    prepare=(build_ann_index,),
    oracle=_text.BM25_CTES
    + """,
        lex AS (
            SELECT doc_id, lex_rank FROM (
                SELECT doc_id,
                       CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
                FROM bm
                WHERE doc_id IN (SELECT vec_id FROM embeddings)
            ) WHERE lex_rank <= 20
        )
        SELECT string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY lex_rank) AS lex_top_docs,
               CAST(COUNT(*) AS BIGINT) AS n_lex,
               TRUE AS sem_full,
               TRUE AS fused_in_bounds,
               TRUE AS selected_complete,
               TRUE AS sem_recall_floor_met
        FROM lex
    """,
)
def q_retrieval_pipeline_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_retrieval_pipeline with the dense side swapped to the
    persisted-index IVF-PQ serve path (``ann_sem_ranked``) — the
    composition a 100 TB deployment actually runs, where the exact
    corpus-wide cosine scorer is unaffordable and dense candidates
    come from the index.

    ANN membership depends on trained codebooks no SQL engine can
    replay, so (the op_sim_ivfpq registry discipline) the output is
    one row of deterministic values + in-query audits over the live
    composed chain:

    - ``lex_top_docs`` / ``n_lex``: the lexical top-20 doc ids in
      rank order, value-hashed against DuckDB — the deterministic
      spine proving the lexical side flowed through the composition
      intact.
    - ``sem_full``: the ANN side produced a full top-20.
    - ``fused_in_bounds``: RRF fusion produced between 20 and 40
      candidates (exact bound depends on list overlap).
    - ``selected_complete``: MMR returned exactly 5 picks, all drawn
      from the fused top-10.
    - ``sem_recall_floor_met``: the ANN top-20 recalls >= 40% of the
      exact cosine top-20 (measured 0.80/0.60/0.55 at
      sf0.001/0.01/0.1; the floor keeps margin under the pruning
      misses op_sim_ivfpq documents).
      The exact side is computed in-query as the audit yardstick —
      it exists to VERIFY, not to serve."""
    emb = load_table(spark, sf_dir, "embeddings")
    lex = lex_ranked(spark, sf_dir).localCheckpoint()
    sem = ann_sem_ranked(spark, sf_dir).localCheckpoint()
    fused = fuse_rrf(lex, sem)
    fused10, picks = _mmr_over_fused(fused, emb.select("vec_id", "embedding"))

    # audit yardstick: the exact cosine top-20 (what the ANN side
    # approximates), one corpus scan
    exact_sem = _ranked(
        _cosine_to_query0(emb)
        .drop("embedding")
        .orderBy(F.desc("cos"), "doc_id")
        .limit(K_EACH),
        "cos",
        "sem_rank",
    )
    lex_row = lex.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lex_rank", "doc_id"))),
                lambda s: s["doc_id"].cast("string"),
            ),
            ",",
        ).alias("lex_top_docs"),
        F.count(F.lit(1)).alias("n_lex"),
    )
    sem_row = sem.agg(F.count(F.lit(1)).alias("n_sem"))
    overlap = (
        sem.select("doc_id")
        .join(exact_sem.select("doc_id"), "doc_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    fused_row = fused.agg(F.count(F.lit(1)).alias("n_fused"))
    picks_row = picks.join(
        F.broadcast(fused10.select("doc_id")), "doc_id", "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_sel_in_fused"))
    return (
        lex_row.join(F.broadcast(sem_row))
        .join(F.broadcast(overlap))
        .join(F.broadcast(fused_row))
        .join(F.broadcast(picks_row))
        .select(
            "lex_top_docs",
            "n_lex",
            (F.col("n_sem") == K_EACH).alias("sem_full"),
            (
                (F.col("n_fused") >= K_EACH) & (F.col("n_fused") <= 2 * K_EACH)
            ).alias("fused_in_bounds"),
            (F.col("n_sel_in_fused") == K_OUT).alias("selected_complete"),
            (F.col("n_overlap") >= F.lit(int(0.4 * K_EACH))).alias(
                "sem_recall_floor_met"
            ),
        )
    )


@register(
    "op_sim_hard_negatives",
    tags=("llm", "retrieval", "training"),
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id < 4
        ),
        scored AS (
            SELECT query_id, vec_id AS doc_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 4) AS cos
            FROM embeddings, q WHERE vec_id >= 4
        ),
        ranked AS (
            SELECT query_id, doc_id, cos,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, doc_id) AS INT) AS rk
            FROM scored
        ),
        pos AS (
            SELECT query_id, doc_id AS pos_id, cos AS pos_cos
            FROM ranked WHERE rk = 1
        ),
        negs AS (
            SELECT r.query_id, p.pos_id, r.doc_id, r.cos
            FROM ranked r JOIN pos p USING (query_id)
            WHERE r.rk > 1 AND r.rk <= 21 AND r.cos < p.pos_cos * 0.95
        )
        SELECT query_id, pos_id, neg_id, neg_cos, neg_rank FROM (
            SELECT query_id, pos_id, doc_id AS neg_id, cos AS neg_cos,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, doc_id) AS INT) AS neg_rank
            FROM negs
        ) WHERE neg_rank <= 5
    """,
)
def op_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training data (the DPR /
    RocketQA construction): per query, the positive is the exact
    top-1 neighbor and the hard negatives are the next-ranked
    candidates — similar enough to be informative gradients — after a
    DENOISING margin drops candidates with cos >= 0.95 * positive's
    (too close to the positive to trust as negatives: at training
    scale those are mostly unlabeled positives, and training on them
    actively hurts — the RocketQA denoised-negative observation).
    Emits (query_id, pos_id, neg_id, neg_cos, neg_rank), 5 negatives
    per query from the rank-2..21 band (measured 18-20 margin
    survivors per query at every SF, so the top-5 cut never starves).

    Scale shape: this exact-scoring form ranks the corpus per query —
    the ORACLE-replayable yardstick (4dp-rounded cosine, doc_id tie
    breaks, so DuckDB replays the identical ranking). At 100 TB the
    candidate band comes from the persisted ANN index instead
    (ann_sem_ranked's probe -> ADC -> exact-rerank chain) and the
    same margin + re-rank runs on the BOUNDED shortlist — mining cost
    per query drops from O(n) to O(shortlist), which is how
    production miners (FAISS-backed) actually run."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm_expr(F.col("embedding")).alias("qn"),
    )
    cos = F.round(
        dot_expr(F.col("embedding"), F.col("qe")) / (norm_expr(F.col("embedding")) * F.col("qn")),
        4,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "doc_id")
    ranked = (
        emb.filter(F.col("vec_id") >= 4)
        .join(F.broadcast(queries))
        .select("query_id", F.col("vec_id").alias("doc_id"), cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 21)
    )
    pos = ranked.filter(F.col("rk") == 1).select(
        "query_id", F.col("doc_id").alias("pos_id"), F.col("cos").alias("pos_cos")
    )
    negs = (
        ranked.filter(F.col("rk") > 1)
        .join(F.broadcast(pos), "query_id")
        .filter(F.col("cos") < F.col("pos_cos") * 0.95)
    )
    w_neg = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "doc_id")
    return (
        negs.withColumn("neg_rank", F.row_number().over(w_neg).cast("int"))
        .filter(F.col("neg_rank") <= 5)
        .select(
            "query_id",
            "pos_id",
            F.col("doc_id").alias("neg_id"),
            F.col("cos").alias("neg_cos"),
            "neg_rank",
        )
    )


@register(
    "op_sim_filtered_topk",
    tags=("llm", "retrieval", "similarity"),
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id < 4
        ),
        allowed AS (
            SELECT doc_id FROM documents WHERE lang = 'de'
        ),
        scored AS (
            SELECT query_id, vec_id AS neighbor_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 4) AS cos
            FROM embeddings, q
            WHERE vec_id >= 4 AND vec_id IN (SELECT doc_id FROM allowed)
        )
        SELECT query_id, neighbor_id, cos, rank FROM (
            SELECT query_id, neighbor_id, cos,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
)
def op_sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED vector search — the query shape every
    production vector store must answer ("nearest neighbors WHERE
    lang='de'") and the classic pre/post-filter trade-off:

    - PRE-FILTER (this op): apply the predicate first (a semi-join of
      the vectors against the metadata side, reading only doc_id +
      the filter column) and score ONLY survivors. Correct for any
      selectivity, never starves, and with a ~14% selective predicate
      scores ~7x fewer vectors; the right default whenever the
      predicate is cheap to evaluate against the metadata table.
    - POST-FILTER: over-fetch k' > k unfiltered ANN results, then
      filter — cheap for permissive predicates but STARVES on
      selective ones (a top-50 shortlist may contain zero 'de' docs);
      the failure mode op_sim_filtered_ann_serve audits.
    - FILTERED-ANN (op_sim_filtered_ann_serve): push the predicate
      into the index scan — semi-join the cent_id-pruned postings
      against the allowed set BEFORE ADC, so per-query work stays
      probes/k * selectivity. The composition the cent_id-partitioned
      postings layout was designed for.

    This exact pre-filter form is fully value-oracled (4dp cosine,
    neighbor_id tie-breaks, DuckDB replays the identical ranking)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    allowed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "de")
        .select(F.col("doc_id").alias("vec_id"))
    )
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm_expr(F.col("embedding")).alias("qn"),
    )
    cos = F.round(
        dot_expr(F.col("embedding"), F.col("qe"))
        / (norm_expr(F.col("embedding")) * F.col("qn")),
        4,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        emb.filter(F.col("vec_id") >= 4)
        .join(allowed, "vec_id", "left_semi")
        .join(F.broadcast(queries))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
    )


def _filtered_ann_topk(
    spark: SparkSession, sf_dir: str, *, probes: int, k: int = 5
) -> tuple[DataFrame, DataFrame]:
    """(topk, n_scanned): filtered-ANN against the persisted index —
    probe the top-``probes`` coarse cells per query (vec_id < 4),
    semi-join the cell-matched postings against the allowed metadata
    set BEFORE ADC (filter pushed into the index scan), shortlist,
    exact-rerank the survivors to top-k as (query_id, neighbor_id,
    rank). ``n_scanned`` is the per-query count of ADC-SCORED
    candidates (post filter+prune, pre shortlist) — the scan-fraction
    audit input."""
    coarse, books, postings = read_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    allowed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "de")
        .select(F.col("doc_id").alias("vec_id"))
    )
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    # the predicate composes by PRE-FILTERING the candidate side before
    # the shared probe/LUT/ADC block scores it
    scored = ivfpq_adc_scored(
        queries,
        postings.filter(F.col("vec_id") >= 4).join(allowed, "vec_id", "left_semi"),
        coarse,
        books,
        probes=probes,
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.col("adc_sqdist").asc(), "vec_id")
    shortlist = scored.withColumn("rk", F.row_number().over(w_adc)).filter(
        F.col("rk") <= IVFPQ_SHORTLIST
    )
    rerank_d = euclidean_expr(F.col("qe"), F.col("embedding"))
    w_rr = Window.partitionBy("query_id").orderBy(F.col("rdist").asc(), "neighbor_id")
    topk = (
        emb.join(F.broadcast(shortlist.select("query_id", "vec_id", "qe")), "vec_id")
        .select("query_id", F.col("vec_id").alias("neighbor_id"), rerank_d.alias("rdist"))
        .withColumn("rank", F.row_number().over(w_rr).cast("int"))
        .filter(F.col("rank") <= k)
    )
    n_scanned = scored.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_scanned"))
    return topk, n_scanned


FILTERED_PROBES = 4  # selective predicates thin each cell's survivors:
                     # double op_sim_ivfpq's 2-of-8 probes (the standard
                     # filtered-search knob) to keep shortlist recall up


@register(
    "op_sim_filtered_ann_serve",
    tags=("llm", "retrieval", "similarity", "index"),
    prepare=(build_ann_index,),
    oracle="""
        WITH allowed AS (
            SELECT doc_id FROM documents WHERE lang = 'de'
        ),
        c AS (
            SELECT vec_id FROM embeddings
            WHERE vec_id >= 4 AND vec_id IN (SELECT doc_id FROM allowed)
        )
        SELECT q.vec_id AS query_id,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_allowed,
               TRUE AS full_k,
               TRUE AS pruned_scan,
               TRUE AS recall_floor_met
        FROM embeddings q WHERE q.vec_id < 4
    """,
)
def op_sim_filtered_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search AGAINST THE PERSISTED INDEX — the
    filtered-ANN strategy op_sim_filtered_topk's docstring lays out:
    the metadata predicate is pushed INTO the index scan (a semi-join
    of the cent_id-pruned postings against the allowed set BEFORE
    ADC), so per-query work is probes/k * selectivity of the corpus —
    never the post-filter strategy's over-fetch-and-hope, never the
    unfiltered corpus.

    Probes double op_sim_ivfpq's (FILTERED_PROBES=4 of k=8): a ~14%
    selective predicate thins every probed cell's survivors, and
    multi-probe is exactly the recall knob real filtered-ANN engines
    turn as selectivity rises (measured filtered top-5 recall at
    probes=2: min 2/5 across SFs; at probes=4: min 3/5).

    Deterministic spine: every query emits a row (left-join from the
    query set) with the SQL-replayable ``n_allowed`` candidate count;
    audits assert ``full_k`` (5 results each — the shortlist never
    starves at this selectivity), ``pruned_scan`` (ADC scored
    strictly fewer than the allowed set — the filter composed WITH
    cell pruning, not instead of it), and ``recall_floor_met`` (>= 2
    of the exact filtered top-5 per query; measured min 3)."""
    ann, n_scanned = _filtered_ann_topk(spark, sf_dir, probes=FILTERED_PROBES, k=5)
    exact = op_sim_filtered_topk(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    allowed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "de")
        .select(F.col("doc_id").alias("vec_id"))
    )
    n_allowed = (
        emb.filter(F.col("vec_id") >= 4)
        .join(allowed, "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_allowed"))
    )
    queries = emb.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("query_id"))
    # both sides are bounded 20-row rank lists, but neither carries
    # stats (window outputs), so without the hint Spark falls back to
    # a SortMergeJoin — the one join strategy this family bans
    hits = ann.join(
        F.broadcast(exact.select("query_id", "neighbor_id")),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    per_q = (
        queries.join(
            F.broadcast(ann.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ret"))),
            "query_id",
            "left",
        )
        .join(
            F.broadcast(hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))),
            "query_id",
            "left",
        )
        .join(F.broadcast(n_scanned), "query_id", "left")
    )
    return per_q.join(F.broadcast(n_allowed)).select(
        "query_id",
        "n_allowed",
        (F.coalesce(F.col("n_ret"), F.lit(0)) == 5).alias("full_k"),
        (F.coalesce(F.col("n_scanned"), F.lit(0)) < F.col("n_allowed")).alias(
            "pruned_scan"
        ),
        (F.coalesce(F.col("n_hit"), F.lit(0)) >= 2).alias("recall_floor_met"),
    )


# nDCG@10 discount table as INTEGER constants (round(1e6/log2(r+1))):
# Spark's and DuckDB's libm log2 disagree by ulps on ranks 8-11 and 16
# (probed 2026-08-15), so the discounts are precomputed literals shared
# by both engines and the DCG dot product runs in exact integer
# arithmetic — order-independent, no float summation anywhere.
DCG_DISC = [1000000, 630930, 500000, 430677, 386853, 356207, 333333, 315465, 301030, 289065]
# sum of (11-i) * DCG_DISC[i-1] for i in 1..10 — the ideal DCG for the
# graded 10-label set (rel = 11 - label_rank), a shared constant
IDCG_INT = 29966114


@register(
    "op_retrieval_eval_metrics",
    tags=("llm", "retrieval", "eval"),
    oracle=_text.BM25_CTES
    + """,
        labels AS (
            SELECT doc_id, CAST(11 - sem_rank AS BIGINT) AS rel FROM (
                SELECT vec_id AS doc_id,
                       ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS sem_rank
                FROM (
                    SELECT e.vec_id,
                           ROUND(list_cosine_similarity(
                               CAST(e.embedding AS DOUBLE[]),
                               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
                           ), 4) AS cos
                    FROM embeddings e WHERE e.vec_id != 0
                )
            ) WHERE sem_rank <= 10
        ),
        disc(rank, d) AS (
            VALUES (1, 1000000), (2, 630930), (3, 500000), (4, 430677),
                   (5, 386853), (6, 356207), (7, 333333), (8, 315465),
                   (9, 301030), (10, 289065)
        ),
        sys_bm25 AS (
            SELECT 'bm25' AS system, doc_id, rank FROM (
                SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank
                FROM bm
            ) WHERE rank <= 10
        ),
        sys_cos AS (
            SELECT 'cosine' AS system, doc_id,
                   CAST(11 - rel AS INT) AS rank
            FROM labels
        ),
        sys_rrf AS (
            SELECT 'rrf' AS system, doc_id, CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank
            FROM (
                SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
                       ROUND(COALESCE(1.0 / (60 + l.rank), 0.0)
                             + COALESCE(1.0 / (60 + s.rank), 0.0), 6) AS rrf
                FROM (SELECT doc_id, rank FROM sys_bm25) l
                FULL OUTER JOIN (SELECT doc_id, CAST(11 - rel AS INT) AS rank FROM labels) s
                  ON l.doc_id = s.doc_id
            )
            QUALIFY rank <= 10
        ),
        ranked AS (
            SELECT * FROM sys_bm25
            UNION ALL SELECT * FROM sys_cos
            UNION ALL SELECT * FROM sys_rrf
        ),
        scoredm AS (
            SELECT r.system, r.rank, COALESCE(l.rel, 0) AS rel, d.d
            FROM ranked r
            LEFT JOIN labels l ON r.doc_id = l.doc_id
            JOIN disc d ON r.rank = d.rank
        )
        SELECT system,
               FLOOR((CAST(SUM(rel * d) AS DOUBLE) / 29966114) * 1000000 + 0.5) / 1000000
                   AS ndcg10,
               COALESCE(FLOOR((1.0 / MIN(CASE WHEN rel > 0 THEN rank END)) * 1000000 + 0.5)
                        / 1000000, 0.0) AS mrr10,
               CAST(COUNT(*) FILTER (WHERE rel > 0) AS DOUBLE) / 10 AS recall10
        FROM scoredm
        GROUP BY system
    """,
)
def op_retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative IR evaluation — nDCG@10, MRR@10, recall@10 for
    three rankers (BM25, exact cosine, their RRF fusion) against
    graded relevance labels, the measurement loop any retrieval /
    training-data stack needs before swapping rankers. Labels are the
    exact cosine top-10 for query vec 0 with graded rel = 11 - rank
    (so the 'cosine' row scores a perfect 1.0/1.0/1.0 — the built-in
    sanity anchor), 'bm25' measures lexical-vs-semantic agreement,
    and 'rrf' shows what fusion recovers.

    Cross-engine float discipline (the interesting part): Spark's and
    DuckDB's libm log2 DISAGREE BY ULPS on ranks 8-11 and 16 (probed
    on this host), so the DCG discounts are precomputed 1e6-scaled
    INTEGER literals shared by both engines and the DCG dot product
    is exact integer arithmetic — order-independent under any
    partitioning, no float summation. The only float ops are three
    single divisions of identical values, floor-rounded at 6dp per
    the registry's ratio discipline.

    Scale shape: each ranker reduces to a bounded top-10 (heap-based
    TakeOrderedAndProject / the K-list rank trick); labels broadcast;
    the metric aggregate touches 30 rows. At 100 TB the label set
    comes from human judgments or the exact scorer run offline on the
    query sample — either way bounded — and the same integer-DCG
    aggregate evaluates any ranker's output stream."""
    emb = load_table(spark, sf_dir, "embeddings")
    labels = (
        _ranked(
            _cosine_to_query0(emb)
            .drop("embedding")
            .orderBy(F.desc("cos"), "doc_id")
            .limit(10),
            "cos",
            "sem_rank",
        )
        .select("doc_id", (11 - F.col("sem_rank")).cast("long").alias("rel"))
        .localCheckpoint()
    )
    bm_top = (
        _text.op_text_bm25(spark, sf_dir).orderBy(F.desc("bm25"), "doc_id").limit(10)
    )
    sys_bm25 = _ranked(bm_top, "bm25", "rank").select(
        F.lit("bm25").alias("system"), "doc_id", "rank"
    )
    sys_cos = labels.select(
        F.lit("cosine").alias("system"),
        "doc_id",
        (11 - F.col("rel")).cast("int").alias("rank"),
    )
    fused = fuse_rrf(
        sys_bm25.select("doc_id", F.col("rank").alias("lex_rank")),
        sys_cos.select("doc_id", F.col("rank").alias("sem_rank")),
    )
    sys_rrf = _ranked(
        fused.orderBy(F.desc("rrf"), "doc_id").limit(10), "rrf", "rank"
    ).select(F.lit("rrf").alias("system"), "doc_id", "rank")

    disc = F.array(*[F.lit(d) for d in DCG_DISC])
    ranked = sys_bm25.unionByName(sys_cos).unionByName(sys_rrf)
    scored = (
        ranked.join(F.broadcast(labels), "doc_id", "left")
        .select(
            "system",
            "rank",
            F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
            F.element_at(disc, F.col("rank")).cast("long").alias("d"),
        )
    )
    sixdp = lambda c: F.floor(c * 1_000_000 + 0.5) / 1_000_000  # noqa: E731
    return scored.groupBy("system").agg(
        sixdp(F.sum(F.col("rel") * F.col("d")).cast("double") / IDCG_INT).alias("ndcg10"),
        F.coalesce(
            sixdp(1.0 / F.min(F.when(F.col("rel") > 0, F.col("rank")))), F.lit(0.0)
        ).alias("mrr10"),
        (F.count(F.when(F.col("rel") > 0, 1)).cast("double") / 10).alias("recall10"),
    )


@register(
    "q_retrieval_pipeline_served",
    tags=("llm", "retrieval", "pipeline", "index"),
    prepare=(build_lex_index, build_ann_index),
    oracle=_text.BM25_CTES
    + """,
        lex AS (
            SELECT doc_id, lex_rank FROM (
                SELECT doc_id,
                       CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
                FROM bm
                WHERE doc_id IN (SELECT vec_id FROM embeddings)
            ) WHERE lex_rank <= 20
        )
        SELECT string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY lex_rank) AS lex_top_docs,
               CAST(COUNT(*) AS BIGINT) AS n_lex,
               TRUE AS sem_full,
               TRUE AS fused_in_bounds,
               TRUE AS selected_complete,
               TRUE AS matches_inline_pipeline
        FROM lex
    """,
)
def q_retrieval_pipeline_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPSTONE query path: the whole retrieval stack served from
    persisted indexes — lexical candidates from the inverted index
    (op_text_bm25_serve, bit-equal to the corpus-scan scorer by its
    shared oracle), dense candidates from the IVF-PQ index
    (ann_sem_ranked) — fused with RRF and diversified with MMR. At
    query time NO document text is read anywhere in the chain: the
    only corpus-shaped touches are pruned posting lookups, cell-
    pruned code reads, and the bounded embedding fetches for
    rerank/MMR. This is what the 100 TB steady state actually
    executes per query.

    Oracle: the lexical spine value-hashes against DuckDB exactly as
    q_retrieval_pipeline_ann's does (the served lexical scores are
    bit-equal to inline, so the same SQL holds), plus
    ``matches_inline_pipeline`` — an in-query audit joining this
    pipeline's MMR selections against q_retrieval_pipeline_ann's
    (identical candidate semantics, different physical path: any
    divergence means the served lexical index drifted from the
    corpus-scan scorer INSIDE the composition)."""
    from game_data_etl_pipeline_spark.llmdata.lex_index import op_text_bm25_serve

    emb = load_table(spark, sf_dir, "embeddings")
    embk = emb.select(F.col("vec_id").alias("doc_id"))
    lex_top = (
        op_text_bm25_serve(spark, sf_dir)
        .join(embk, "doc_id", "left_semi")
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(K_EACH)
    )
    lex = _ranked(lex_top, "bm25", "lex_rank").localCheckpoint()
    sem = ann_sem_ranked(spark, sf_dir).localCheckpoint()
    fused = fuse_rrf(lex, sem)
    fused10, picks = _mmr_over_fused(fused, emb.select("vec_id", "embedding"))

    lex_row = lex.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lex_rank", "doc_id"))),
                lambda s: s["doc_id"].cast("string"),
            ),
            ",",
        ).alias("lex_top_docs"),
        F.count(F.lit(1)).alias("n_lex"),
    )
    sem_row = sem.agg(F.count(F.lit(1)).alias("n_sem"))
    fused_row = fused.agg(F.count(F.lit(1)).alias("n_fused"))
    picks_row = picks.join(
        F.broadcast(fused10.select("doc_id")), "doc_id", "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_sel_in_fused"))
    # cross-path audit: rebuild the INLINE-lexical fused selection and
    # require identical MMR picks (same sel_rank -> same doc).
    # inline_lex has exactly ONE consumer (the fuse), so no checkpoint
    # (r16, guide §5: checkpoint only what two consumers read)
    inline_lex = lex_ranked(spark, sf_dir)
    inline_fused = fuse_rrf(inline_lex, sem)
    _, inline_mmr = _mmr_over_fused(inline_fused, emb.select("vec_id", "embedding"))
    agree = (
        picks.select("sel_rank", "doc_id")
        .join(
            F.broadcast(inline_mmr.select("sel_rank", F.col("doc_id").alias("d2"))),
            "sel_rank",
        )
        .agg(
            F.count(F.lit(1)).alias("n_cmp"),
            F.sum(F.when(F.col("doc_id") == F.col("d2"), 1).otherwise(0)).alias(
                "n_same"
            ),
        )
    )
    return (
        lex_row.join(F.broadcast(sem_row))
        .join(F.broadcast(fused_row))
        .join(F.broadcast(picks_row))
        .join(F.broadcast(agree))
        .select(
            "lex_top_docs",
            "n_lex",
            (F.col("n_sem") == K_EACH).alias("sem_full"),
            (
                (F.col("n_fused") >= K_EACH) & (F.col("n_fused") <= 2 * K_EACH)
            ).alias("fused_in_bounds"),
            (F.col("n_sel_in_fused") == K_OUT).alias("selected_complete"),
            (
                (F.col("n_cmp") == K_OUT) & (F.col("n_same") == K_OUT)
            ).alias("matches_inline_pipeline"),
        )
    )


# ---------------------------------------------------------------------------
# Batched retrieval: the composed pipeline generalized to a QUERY BATCH
# ---------------------------------------------------------------------------

# the batch's (query vector, query terms) pairs: query_id i uses vec i
# as its dense query and its own lexical term set. Everything below —
# the Spark plan AND the DuckDB oracle — is generated from a dict of
# this shape, so batch construction is N-ary (round-9 verdict task:
# the batch size is a loop bound, not a literal); the 3-query fixture
# stays the compatibility anchor (its q0 == the single-query pipeline,
# pinned in pytest) and the 8-query fixture measures the amortization
# curve's next point.
BATCH_QUERY_TERMS = {
    0: ("vector", "stream", "spark"),
    1: ("join", "hash", "merge"),
    2: ("filter", "scan", "column"),
}
# size of the 3-query compatibility fixture above (consumed by the
# pytest plan contracts), NOT of the 8-query dict below
N_BATCH_QUERIES = len(BATCH_QUERY_TERMS)
# 8 queries over the fixture vocabulary, with deliberate term overlap
# across queries (0-2 repeat the 3-batch sets): shared terms are
# scored once and fanned out, the per-term amortization the batch
# form exists for.
BATCH_QUERY_TERMS_8 = {
    **BATCH_QUERY_TERMS,
    3: ("sort", "window", "group"),
    4: ("table", "row", "batch"),
    5: ("key", "value", "data"),
    6: ("query", "fast", "slow"),
    7: ("agg", "order", "part"),
}


def _mmr_grouped_steps_sql(steps: int = 5) -> str:
    """The unrolled greedy MMR steps PER QUERY — _MMR_STEPS_SQL with
    every argmax turned into a ROW_NUMBER() OVER (PARTITION BY
    query_id ...) = 1 pick and every selected-set membership test
    correlated on query_id. Generated from one loop so the N-step
    unroll cannot drift between steps."""
    parts = [
        """
        sel1 AS (
            SELECT query_id, doc_id, rel, 0.5 * rel AS m FROM (
                SELECT query_id, doc_id, rel,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY rel DESC, doc_id) AS rn
                FROM cands
            ) WHERE rn = 1
        )"""
    ]
    for step in range(2, steps + 1):
        sel_docs = "\n                          UNION ".join(
            f"SELECT s{i}.doc_id FROM sel{i} s{i} WHERE s{i}.query_id = c.query_id"
            for i in range(1, step)
        )
        parts.append(
            f""",
        rem{step} AS (
            SELECT c.query_id, c.doc_id, c.rel,
                   0.5 * c.rel - 0.5 * (SELECT MAX(p.sim) FROM pairs p
                                        WHERE p.query_id = c.query_id
                                          AND p.d1 = c.doc_id
                                          AND p.d2 IN ({sel_docs})) AS m
            FROM cands c
            WHERE c.doc_id NOT IN ({sel_docs})
        ),
        sel{step} AS (
            SELECT query_id, doc_id, rel, m FROM (
                SELECT query_id, doc_id, rel, m,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY m DESC, doc_id) AS rn
                FROM rem{step}
            ) WHERE rn = 1
        )"""
        )
    return "".join(parts)


_BATCH_FINAL_UNION_SQL = "\n            UNION ALL ".join(
    f"SELECT query_id, {i} AS sel_rank, doc_id, m FROM sel{i}" for i in range(1, K_OUT + 1)
)


def lex_ranked_batch(
    spark: SparkSession,
    sf_dir: str,
    query_terms: dict[int, tuple[str, ...]] = BATCH_QUERY_TERMS,
) -> DataFrame:
    """Per-query BM25 top-20 for the whole batch from ONE corpus scan:
    the scan collapses each document to (doc_id, dl, hits among the
    UNION of all queries' terms) and is materialized once (the
    op_text_bm25 barrier); per-(doc, term) scores are computed once —
    a term's tf/df/idf do not depend on which query asked — then the
    broadcast (query_id, term) mapping fans each scored term out to
    its queries and a groupBy sums per (query_id, doc). Candidate
    lists rank per query via a window PARTITIONED BY query_id over
    the scored rows (never a global window). Batching cost over the
    single-query form: the scan is shared, the per-term score is
    shared for shared terms, only the fan-out rows scale with
    |queries|."""
    all_terms = tuple(sorted({t for ts in query_terms.values() for t in ts}))
    docs = load_table(spark, sf_dir, "documents")
    base = widen_narrow_scan(
        docs.select(
            "doc_id",
            F.size(_text._terms()).alias("dl"),
            F.filter(_text._terms(), lambda t: t.isin(*all_terms)).alias("hits"),
        ),
        spark,
    ).localCheckpoint()
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot_dl")
    )
    tf = (
        base.select("doc_id", "dl", F.explode("hits").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return _lex_ranked_batch_tail(spark, sf_dir, query_terms, tf, dfq, stats)


def lex_ranked_batch_served(
    spark: SparkSession,
    sf_dir: str,
    query_terms: dict[int, tuple[str, ...]] = BATCH_QUERY_TERMS,
) -> DataFrame:
    """lex_ranked_batch from the PERSISTED inverted index — query time
    touches zero corpus: the union of all queries' terms resolves to
    its term buckets once (the memoized bounded job), the postings and
    df scans prune to those partition directories, and the shared
    scoring tail — identical IEEE expression, identical fan-out —
    produces the same per-query rank lists bit for bit. The index's
    (term, doc_id, dl, tf) postings ARE the scan path's tf frame and
    its per-term df / corpus stats are the same exact integers, so
    the equivalence is structural, not approximate — which is what
    lets q_retrieval_pipeline_batch_served keep the machine-generated
    batch oracle VERBATIM."""
    from game_data_etl_pipeline_spark.llmdata.lex_index import resolve_term_buckets

    path = build_lex_index(spark, sf_dir)
    all_terms = tuple(sorted({t for ts in query_terms.values() for t in ts}))
    buckets = resolve_term_buckets(spark, all_terms)
    tf = (
        spark.read.parquet(os.path.join(path, "postings"))
        .filter(F.col("term_bucket").isin(buckets) & F.col("term").isin(*all_terms))
        .select("doc_id", "dl", "term", "tf")
    )
    dfq = (
        spark.read.parquet(os.path.join(path, "df"))
        .filter(F.col("term_bucket").isin(buckets) & F.col("term").isin(*all_terms))
        .select("term", "df")
    )
    stats = spark.read.parquet(os.path.join(path, "stats"))
    return _lex_ranked_batch_tail(spark, sf_dir, query_terms, tf, dfq, stats)


def _lex_ranked_batch_tail(
    spark: SparkSession,
    sf_dir: str,
    query_terms: dict[int, tuple[str, ...]],
    tf: DataFrame,
    dfq: DataFrame,
    stats: DataFrame,
) -> DataFrame:
    """The shared batch-BM25 scoring tail: per-(doc, term) score from
    (tf, df, stats) parts — computed once regardless of how many
    queries share the term — fanned out by the broadcast (query_id,
    term) mapping, summed per (query_id, doc), ranked per query by a
    window PARTITIONED BY query_id. One body serves both the
    corpus-scan parts (lex_ranked_batch) and the index-read parts
    (lex_ranked_batch_served), so the two paths cannot drift."""
    k1, b = 1.2, 0.75
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    score = idf * (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * ((1.0 - b) + b * F.col("dl") * F.col("n_docs") / F.col("tot_dl"))
    )
    qt = spark.createDataFrame(
        [(q, t) for q, ts in sorted(query_terms.items()) for t in ts],
        "query_id long, term string",
    )
    bm = (
        tf.join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", F.round(score, 4).alias("s"))
        .join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("s"), 4).alias("bm25"))
    )
    embk = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), "doc_id")
    return (
        bm.join(embk, "doc_id", "left_semi")
        .withColumn("lex_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("lex_rank") <= K_EACH)
        .select("query_id", "doc_id", "lex_rank")
    )


def fuse_rrf_grouped(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """fuse_rrf keyed by (query_id, doc_id): union + groupBy over the
    batch's bounded rank lists."""
    rrf = F.round(
        F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (60 + F.col("sem_rank")), F.lit(0.0)),
        6,
    )
    both = lex.withColumn("sem_rank", F.lit(None).cast("int")).unionByName(
        sem.withColumn("lex_rank", F.lit(None).cast("int"))
    )
    return (
        both.groupBy("query_id", "doc_id")
        .agg(F.max("lex_rank").alias("lex_rank"), F.max("sem_rank").alias("sem_rank"))
        .select("query_id", "doc_id", "lex_rank", "sem_rank", rrf.alias("rrf"))
    )


def _batch_lex_ctes(query_terms: dict[int, tuple[str, ...]]) -> str:
    """The per-query batch-BM25 CTE prefix (qt VALUES fan-out through
    the per-query lexical top-K), machine-generated from the (query_id
    -> terms) dict — shared by the full exact batch oracle and the
    batch-ANN oracle so the lexical spine is defined once."""
    qt_values = ", ".join(
        f"({q}, '{t}')" for q, ts in sorted(query_terms.items()) for t in ts
    )
    all_terms = sorted({t for ts in query_terms.values() for t in ts})
    terms_sql = ", ".join(f"'{t}'" for t in all_terms)
    return f"""
        WITH qt(query_id, term) AS (VALUES {qt_values}),
        t AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS dl,
                   UNNEST(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM t
            WHERE term IN ({terms_sql})
            GROUP BY doc_id, dl, term
        ),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        st AS (
            SELECT COUNT(*) AS n_docs,
                   SUM(len(string_split(text, ' '))) AS tot_dl
            FROM documents
        ),
        bm AS (
            SELECT qt.query_id, tf.doc_id,
                   ROUND(SUM(ROUND(
                       LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * dl * n_docs / tot_dl)),
                   4)), 4) AS bm25
            FROM tf JOIN dfq USING (term) JOIN qt USING (term), st
            GROUP BY qt.query_id, tf.doc_id
        ),
        lex AS (
            SELECT query_id, doc_id, lex_rank FROM (
                SELECT query_id, doc_id,
                       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                               ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
                FROM bm
                WHERE doc_id IN (SELECT vec_id FROM embeddings)
            ) WHERE lex_rank <= {K_EACH}
        )"""


def _batch_oracle_sql(query_terms: dict[int, tuple[str, ...]]) -> str:
    """The full batch-pipeline DuckDB oracle generated from the SAME
    (query_id -> terms) dict the Spark form runs, for ANY batch size:
    the VALUES fan-out table, the union-of-terms scan filter, the
    query-vector id list, and the K_OUT unrolled per-query MMR steps
    are all loop-emitted, so Spark and oracle cannot drift and N is a
    parameter, not a literal."""
    qids_sql = ", ".join(str(q) for q in sorted(query_terms))
    return _batch_lex_ctes(query_terms) + f""",
        q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id IN ({qids_sql})
        ),
        scoredsem AS (
            SELECT query_id, vec_id AS doc_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 4) AS cos
            FROM embeddings, q WHERE vec_id != query_id
        ),
        sem AS (
            SELECT query_id, doc_id, sem_rank FROM (
                SELECT query_id, doc_id,
                       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                               ORDER BY cos DESC, doc_id) AS INT) AS sem_rank
                FROM scoredsem
            ) WHERE sem_rank <= {K_EACH}
        ),
        fused AS (
            SELECT COALESCE(lex.query_id, sem.query_id) AS query_id,
                   COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
                   ROUND(COALESCE(1.0 / (60 + lex_rank), 0.0)
                         + COALESCE(1.0 / (60 + sem_rank), 0.0), 6) AS rrf
            FROM lex FULL OUTER JOIN sem
              ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id
        ),
        cands AS (
            SELECT query_id, doc_id, lex_rank, sem_rank, rrf, rrf * 60 AS rel FROM (
                SELECT query_id, doc_id, lex_rank, sem_rank, rrf,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY rrf DESC, doc_id) AS rn
                FROM fused
            ) WHERE rn <= {K_FUSED}
        ),
        pairs AS (
            SELECT c1.query_id, c1.doc_id AS d1, c2.doc_id AS d2,
                   ROUND(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])), 4) AS sim
            FROM cands c1
            JOIN cands c2 ON c2.query_id = c1.query_id AND c2.doc_id != c1.doc_id
            JOIN embeddings a ON a.vec_id = c1.doc_id
            JOIN embeddings b ON b.vec_id = c2.doc_id
        ),{_mmr_grouped_steps_sql(K_OUT)}
        SELECT CAST(s.query_id AS BIGINT) AS query_id,
               CAST(s.sel_rank AS INT) AS sel_rank, s.doc_id,
               c.lex_rank, c.sem_rank, c.rrf,
               ROUND(s.m, 6) + 0.0 AS mmr
        FROM (
            {_BATCH_FINAL_UNION_SQL}
        ) s
        JOIN cands c ON s.query_id = c.query_id AND s.doc_id = c.doc_id
    """


def retrieval_pipeline_batch(
    spark: SparkSession,
    sf_dir: str,
    query_terms: dict[int, tuple[str, ...]],
    *,
    served: bool = False,
) -> DataFrame:
    """The N-ary batch-pipeline core shared by the registered 3- and
    8-query fixtures (and any external batch): see
    q_retrieval_pipeline_batch for the plan narrative. Nothing in the
    chain depends on |batch| except the bounded fan-out frames.
    ``served=True`` swaps the lexical side to the persisted inverted
    index (bit-equal by construction — see lex_ranked_batch_served),
    leaving ZERO documents scans in the query-time plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    lexer = lex_ranked_batch_served if served else lex_ranked_batch
    lex = lexer(spark, sf_dir, query_terms).localCheckpoint()
    sem = exact_sem_ranked_batch(emb, sorted(query_terms))
    fused, cands, picks = batch_fuse_mmr(emb, lex, sem)
    return picks.join(
        F.broadcast(cands.select("query_id", "doc_id", "lex_rank", "sem_rank", "rrf")),
        ["query_id", "doc_id"],
    ).select(
        "query_id",
        "sel_rank",
        "doc_id",
        "lex_rank",
        "sem_rank",
        "rrf",
        (F.round(F.col("m"), 6) + 0.0).alias("mmr"),
    )


def exact_sem_ranked_batch(
    emb: DataFrame, qids: list[int], rank_name: str = "sem_rank"
) -> DataFrame:
    """Per-query exact-cosine top-K_EACH for the batch from ONE
    embeddings scan (query rows broadcast against it; ranks as windows
    PARTITIONED BY query_id). The one exact dense scorer shared by the
    batch pipeline's candidate side and the batch-ANN op's in-query
    recall yardstick, so the two cannot drift."""
    qs = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm_expr(F.col("embedding")).alias("qn"),
    )
    cos = F.round(
        dot_expr(F.col("embedding"), F.col("qe"))
        / (norm_expr(F.col("embedding")) * F.col("qn")),
        4,
    )
    w_sem = Window.partitionBy("query_id").orderBy(F.desc("cos"), "doc_id")
    return (
        emb.join(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("doc_id"), cos.alias("cos"))
        .withColumn(rank_name, F.row_number().over(w_sem).cast("int"))
        .filter(F.col(rank_name) <= K_EACH)
        .select("query_id", "doc_id", rank_name)
    )


def batch_fuse_mmr(
    emb: DataFrame, lex: DataFrame, sem: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared post-candidate batch tail: RRF fusion keyed by
    (query_id, doc_id), fused top-K_FUSED per query, the bounded
    embedding/pairs materializations, and the grouped greedy MMR.
    Returns (fused, cands, picks) so callers can attach provenance or
    audits. One body serves the exact, served, and ANN batch forms —
    a change to K handling or rel scaling propagates to all three."""
    fused = fuse_rrf_grouped(lex, sem)
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    cands = (
        fused.withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= K_FUSED)
        .drop("rn")
        .withColumn("rel", F.col("rrf") * 60)
        .localCheckpoint()
    )
    # r16: the per-query pairwise matrices fold in-expression off the
    # ONE grouped collect (mmr_select_grouped_embedded), so with_emb
    # has a single consumer — its checkpoint and the broadcast pair
    # self-join are gone and the whole batch MMR tail is one job
    # (guide §1.2). Every candidate doc_id has an embedding row (the
    # lexical side is embk-semi-joined, the dense side IS vec_ids), so
    # the joined candidate set equals cands exactly.
    with_emb = (
        emb.select(F.col("vec_id").alias("doc_id"), "embedding")
        .join(F.broadcast(cands.select("query_id", "doc_id", "rel")), "doc_id")
        .select("query_id", "doc_id", "rel", "embedding")
    )
    picks = mmr_select_grouped_embedded(with_emb, steps=K_OUT, lam=0.5)
    return fused, cands, picks


@register(
    "q_retrieval_pipeline_batch",
    tags=("llm", "retrieval", "pipeline"),
    oracle=_batch_oracle_sql(BATCH_QUERY_TERMS),
)
def q_retrieval_pipeline_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_retrieval_pipeline generalized to a QUERY BATCH — the serving
    shape a real stack runs (queries arrive in batches; per-query
    chains waste the constant fusion/MMR tail |queries| times over):
    3 queries, each with its own dense vector (vec 0/1/2) and lexical
    term set, flow through ONE shared chain — one documents scan
    scores all queries' BM25 (the per-term work is shared across
    queries that share terms), one embeddings scan scores all dense
    sides (3 broadcast query rows against the scan), fusion groups by
    (query_id, doc_id), and the greedy MMR tail runs ONCE as a single
    per-query-array fold job — the mmr_select_grouped form — so its
    constant cost amortizes
    across the batch instead of multiplying by it. bench.py carries
    the entry; measured sf0.1 (probe-matched bench run, same
    session): 4.33 s median for the 3-query batch vs 2.84 s for the
    single-query form — 1.44 s/query vs 2.84 s/query, a 2x per-query
    amortization that grows with |batch| since the scans and the MMR
    tail are both shared.

    VALUE-ORACLED END TO END for ALL queries: the DuckDB oracle
    replays the whole batch — per-query BM25 from a (query_id, term)
    VALUES table, per-query cosine ranks, per-query RRF, and the
    5 unrolled MMR steps with every argmax and membership test
    correlated on query_id (machine-generated alongside the Spark
    form from one K_OUT loop). 15 output rows (3 queries x 5 picks),
    each carrying full provenance (lex_rank, sem_rank, rrf, mmr).

    Scale shape: candidate generation per query stays top-K bounded
    (batch windows partition by query_id — partition count =
    |queries|, partition size = the per-query scored set, never
    global); all post-candidate frames are |queries| * K rows,
    materialized once; document text is read exactly once for the
    whole batch. At 100 TB with large batches the same plan holds:
    the scans stay corpus-shaped (shared), everything downstream
    scales with |batch| * K, not the corpus."""
    return retrieval_pipeline_batch(spark, sf_dir, BATCH_QUERY_TERMS)


@register(
    "q_retrieval_pipeline_batch8",
    tags=("llm", "retrieval", "pipeline"),
    oracle=_batch_oracle_sql(BATCH_QUERY_TERMS_8),
)
def q_retrieval_pipeline_batch8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch pipeline at N=8 — the next point on the amortization
    curve (round-9 verdict: generalize batch construction to N and
    measure per-query cost continuing to fall). Identical plan to the
    3-query form — same two corpus scans, same broadcast fan-out,
    same grouped-MMR tail — only the bounded fan-out frames grow, so
    per-query cost falls as the constant chain splits 8 ways instead
    of 3 (bench.py carries both entries; SCALE.md records the
    s/query curve at N ∈ {1, 3, 8}). Query sets deliberately overlap
    terms with the 3-batch (queries 0-2 are identical) so shared-term
    scoring amortizes across queries, not just scans. Fully
    value-oracled: the oracle is machine-generated from the SAME
    8-entry dict (VALUES table, union-of-terms filter, 8-way
    correlated MMR unroll) — 40 output rows, full provenance."""
    return retrieval_pipeline_batch(spark, sf_dir, BATCH_QUERY_TERMS_8)


@register(
    "q_retrieval_pipeline_batch_served",
    tags=("llm", "retrieval", "pipeline", "index"),
    prepare=(build_lex_index,),
    # the 3-query batch oracle VERBATIM: serving the lexical side from
    # the persisted index is bit-equal to the corpus-scan side (same
    # integers, same IEEE expression), so the whole batch output —
    # every rank, fusion score, and MMR pick — must hash identically
    oracle=_batch_oracle_sql(BATCH_QUERY_TERMS),
)
def q_retrieval_pipeline_batch_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch pipeline SERVED — the lexical side reads the
    persisted inverted index instead of scanning documents, which
    removes the last corpus-text read from the query-time plan: the
    batch's union-of-terms resolves to its term buckets once, the
    postings/df scans prune to those partition directories, and the
    dense side stays the one embeddings scan. ZERO documents scans
    anywhere in the plan (plan-pinned — the unserved batch op's
    contract allows one scan behind the barrier; this op's allows
    none), which is the actual multi-tenant serving shape at 100 TB:
    per-batch cost is O(terms' posting lists) + one embeddings pass +
    the bounded fan-out frames, and the corpus text is never touched
    after the index build.

    Held to the STRONGEST composed gate in the registry: the
    machine-generated 3-query batch oracle VERBATIM, because the
    index-read parts (tf, df, n_docs, tot_dl) are the same exact
    integers the scan path derives and the scoring tail is shared
    code (_lex_ranked_batch_tail) — so index-served BM25, fusion,
    and all 15 MMR picks must match the corpus-scan pipeline value
    for value, not merely in rank order. A pytest additionally pins
    this op's output row-identical to q_retrieval_pipeline_batch's,
    making build/serve consistency a structural fact the driver
    re-proves every window."""
    return retrieval_pipeline_batch(spark, sf_dir, BATCH_QUERY_TERMS, served=True)


@register(
    "q_retrieval_pipeline_batch_served8",
    tags=("llm", "retrieval", "pipeline", "index"),
    prepare=(build_lex_index,),
    # the 8-query batch oracle VERBATIM (machine-generated from the
    # same dict as q_retrieval_pipeline_batch8): the index-served
    # lexical side is bit-equal to the scan side at any N
    oracle=_batch_oracle_sql(BATCH_QUERY_TERMS_8),
)
def q_retrieval_pipeline_batch_served8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVED batch pipeline at N=8 — the missing point on the
    serve-path amortization curve (round-10 verdict task 4: the
    N=1/3/8 curve was measured only for the scan-based batch, and the
    served path's constant tail — bucket resolution, postings reads —
    differs from the scan path's, so its curve must be measured, not
    inferred). Identical plan to q_retrieval_pipeline_batch_served —
    ZERO documents scans, the batch's union-of-terms resolved to its
    partition buckets once, one embeddings pass on the dense side —
    with only the bounded fan-out frames growing 8/3x, so s/query
    keeps falling as the postings reads and the grouped-MMR tail
    split 8 ways (bench.py carries the entry; SCALE.md records the
    served s/query at N ∈ {3, 8} next to the scan curve). Held to the
    machine-generated 8-query batch oracle VERBATIM: all 40 MMR picks
    with full provenance, value-hashed."""
    return retrieval_pipeline_batch(spark, sf_dir, BATCH_QUERY_TERMS_8, served=True)


def ann_sem_ranked_batch(
    spark: SparkSession,
    sf_dir: str,
    query_terms: dict[int, tuple[str, ...]] = BATCH_QUERY_TERMS,
) -> DataFrame:
    """Per-query dense top-20 for the whole batch from the PERSISTED
    IVF-PQ index — ann_sem_ranked generalized the batch way: ALL
    queries' probe cells resolve in one pass over the broadcast
    centroids, the postings scan prunes to the UNION of probed cells
    (shared across queries probing the same cell — the batch
    amortization on the vector side), ADC scores per (query, posting)
    pair, and the shortlist/rerank windows PARTITION BY query_id.
    Returns (query_id, doc_id, sem_rank)."""
    coarse, books, postings = read_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qids = sorted(query_terms)
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    scored = ivfpq_adc_scored(
        queries, postings, coarse, books, probes=IVFPQ_PROBES
    ).filter(F.col("vec_id") != F.col("query_id"))
    w_adc = Window.partitionBy("query_id").orderBy(F.col("adc_sqdist").asc(), "vec_id")
    shortlist = (
        scored.withColumn("rk", F.row_number().over(w_adc))
        .filter(F.col("rk") <= IVFPQ_SHORTLIST)
        .select("query_id", "vec_id", "qe")
    )
    rerank_d = euclidean_expr(F.col("qe"), F.col("embedding"))
    w_rr = Window.partitionBy("query_id").orderBy(F.col("rdist").asc(), "doc_id")
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select("query_id", F.col("vec_id").alias("doc_id"), rerank_d.alias("rdist"))
        .withColumn("sem_rank", F.row_number().over(w_rr).cast("int"))
        .filter(F.col("sem_rank") <= K_EACH)
        .select("query_id", "doc_id", "sem_rank")
    )


def _batch_ann_oracle_sql(query_terms: dict[int, tuple[str, ...]]) -> str:
    """The batch-ANN oracle: the machine-generated per-query lexical
    spine (shared CTE prefix) value-hashed per query, plus the audit
    literals — ANN membership depends on trained codebooks DuckDB
    cannot replay (the q_retrieval_pipeline_ann discipline), so the
    approximate side is held by in-query audits instead."""
    return _batch_lex_ctes(query_terms) + """
        SELECT query_id,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY lex_rank)
                   AS lex_top_docs,
               CAST(COUNT(*) AS BIGINT) AS n_lex,
               TRUE AS sem_full,
               TRUE AS fused_in_bounds,
               TRUE AS selected_complete,
               TRUE AS sem_recall_floor_met
        FROM lex
        GROUP BY query_id
    """


@register(
    "q_retrieval_pipeline_batch_ann",
    tags=("llm", "retrieval", "pipeline", "index"),
    prepare=(build_lex_index, build_ann_index),
    oracle=_batch_ann_oracle_sql(BATCH_QUERY_TERMS),
)
def q_retrieval_pipeline_batch_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fully-served batch at N=3 — see retrieval_pipeline_batch_ann
    (the shared N-ary body) for the plan narrative and gate design."""
    return retrieval_pipeline_batch_ann(spark, sf_dir, BATCH_QUERY_TERMS)


@register(
    "q_retrieval_pipeline_batch_ann8",
    tags=("llm", "retrieval", "pipeline", "index"),
    prepare=(build_lex_index, build_ann_index),
    # the batch-ANN oracle machine-generated from the 8-query dict:
    # per-query lexical spines value-hashed, approximate side held by
    # the per-query in-query audits
    oracle=_batch_ann_oracle_sql(BATCH_QUERY_TERMS_8),
)
def q_retrieval_pipeline_batch_ann8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULLY-SERVED batch at N=8 — the last cell of the
    (scan / lex-served / fully-served) × (N=1 / 3 / 8) serving matrix
    (round 11: the served amortization curve exists for the lexical
    side; this measures it when BOTH candidate generators read
    persisted indexes). Same plan as q_retrieval_pipeline_batch_ann —
    zero corpus scans at query time, all 8 queries' probe cells
    resolved in one pass with postings reads shared across queries
    probing the same cells — with only the bounded fan-out frames
    growing. Gate: 8 per-query rows, each lexical spine value-hashed
    via the machine-generated oracle, each ANN audit held per query
    (the left-join spine keeps degenerate queries visible as FALSE
    rather than dropped)."""
    return retrieval_pipeline_batch_ann(spark, sf_dir, BATCH_QUERY_TERMS_8)


def retrieval_pipeline_batch_ann(
    spark: SparkSession,
    sf_dir: str,
    query_terms: dict[int, tuple[str, ...]],
) -> DataFrame:
    """THE FULLY-SERVED BATCH — both retrieval sides read persisted
    indexes for the whole query batch, which is the complete 100 TB
    serving shape (q_retrieval_pipeline_served's composition times
    the batch amortization): the lexical side is
    lex_ranked_batch_served (bucket-pruned inverted-index lookups,
    zero documents scans), the dense side is ann_sem_ranked_batch
    (all queries probe the IVF-PQ index in one chain; postings reads
    shared across queries probing the same cells), and fusion + the
    grouped-MMR tail run once for the batch. Per-batch marginal cost:
    O(terms' posting lists) + O(probed cells' postings) + the bounded
    fan-out frames — NEITHER corpus is scanned at query time (the one
    embeddings pass left is the audit yardstick plus the bounded
    rerank/pairs lookups).

    Oracle discipline (q_retrieval_pipeline_ann's, batched): ANN
    membership depends on trained codebooks no SQL engine can replay,
    so the driver hash-verifies the deterministic PER-QUERY lexical
    spine (each query's top-20 doc ids in rank order, machine-
    generated from the same dict as the Spark form) and the
    approximate side is held by per-query in-query audits —
    ``sem_full`` (a full ANN top-20 per query), ``fused_in_bounds``
    (20..40 fused candidates per query), ``selected_complete``
    (exactly K_OUT MMR picks per query, all from that query's fused
    top-10), ``sem_recall_floor_met`` (each query's ANN top-20
    recalls >= 40% of its exact cosine top-20, computed in-query as
    the yardstick). N output rows, one per query — a per-query gate
    where the single-query op has one global row."""
    emb = load_table(spark, sf_dir, "embeddings")
    lex = lex_ranked_batch_served(spark, sf_dir, query_terms).localCheckpoint()
    sem = ann_sem_ranked_batch(spark, sf_dir, query_terms).localCheckpoint()
    fused, cands, picks = batch_fuse_mmr(emb, lex, sem)

    # audit yardstick: per-query exact cosine top-20, one embeddings
    # scan for the whole batch (exists to VERIFY, not to serve) — the
    # batch pipeline's own exact scorer, shared code
    exact_sem = exact_sem_ranked_batch(
        emb, sorted(query_terms), rank_name="x_rank"
    ).select("query_id", "doc_id")

    lex_rows = lex.groupBy("query_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lex_rank", "doc_id"))),
                lambda s: s["doc_id"].cast("string"),
            ),
            ",",
        ).alias("lex_top_docs"),
        F.count(F.lit(1)).alias("n_lex"),
    )
    sem_rows = sem.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_sem"))
    overlap = (
        sem.join(F.broadcast(exact_sem), ["query_id", "doc_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    fused_rows = fused.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_fused"))
    picks_rows = (
        picks.join(
            F.broadcast(cands.select("query_id", "doc_id")),
            ["query_id", "doc_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_sel_in_fused"))
    )
    # lex_rows is the spine (it matches the oracle's GROUP BY over the
    # lexical side); every audit frame LEFT-joins onto it with its
    # count coalesced to 0, so a query whose ANN side degenerates
    # (zero overlap with exact, zero scored candidates) still emits
    # its row with the audit boolean FALSE instead of silently
    # vanishing — the dropped-row failure mode the ivfpq serve chain's
    # left-join spine exists to prevent (round-7 advice)
    return (
        lex_rows.join(F.broadcast(sem_rows), "query_id", "left")
        .join(F.broadcast(overlap), "query_id", "left")
        .join(F.broadcast(fused_rows), "query_id", "left")
        .join(F.broadcast(picks_rows), "query_id", "left")
        .select(
            "query_id",
            "lex_top_docs",
            "n_lex",
            (F.coalesce(F.col("n_sem"), F.lit(0)) == K_EACH).alias("sem_full"),
            (
                (F.coalesce(F.col("n_fused"), F.lit(0)) >= K_EACH)
                & (F.coalesce(F.col("n_fused"), F.lit(0)) <= 2 * K_EACH)
            ).alias("fused_in_bounds"),
            (F.coalesce(F.col("n_sel_in_fused"), F.lit(0)) == K_OUT).alias(
                "selected_complete"
            ),
            (
                F.coalesce(F.col("n_overlap"), F.lit(0)) >= F.lit(int(0.4 * K_EACH))
            ).alias("sem_recall_floor_met"),
        )
    )


# --- late-interaction SERVED from the persisted token index ----------

# token-postings artifact format version (the LEX_INDEX_VERSION
# discipline: bump on any layout change so stale trees are re-keyed)
LATE_INDEX_VERSION = 1

# how many term-hash buckets the unigram postings are sharded into:
# serving filters to the query terms' buckets, so the candidate scan
# prunes to n_query_term_buckets/LATE_BUCKETS of the posting files
LATE_BUCKETS = 32

# query-term -> bucket ids, memoized per process (the lex_index
# _BUCKET_CACHE discipline: xxhash64 lives JVM-side, so resolving the
# registered query set's buckets costs one bounded 9-row job, once)
_LATE_BUCKET_CACHE: dict[tuple[str, ...], list[int]] = {}


def _late_bucket(term_col):
    return F.pmod(F.xxhash64(term_col), F.lit(LATE_BUCKETS)).cast("int")


def build_late_index(spark: SparkSession, sf_dir: str) -> str:
    """Tokenize the corpus ONCE and persist the late-interaction token
    index (idempotent per corpus fingerprint; staged + atomically
    renamed, the build_ann_index discipline). Three artifacts:

    - ``unigrams/`` (doc_id, dterm), PARTITIONED BY term-hash bucket —
      the candidate stage's inverted file: a query's scan prunes to
      its terms' buckets at storage level (the lex_index layout);
    - ``ctx_postings/`` (doc_id, dkey) — the contextualized-token
      postings the MaxSim rerank joins BY DOC over the shortlist,
      repartitioned on doc_id so one doc's tokens co-locate;
    - ``vocab/`` (key, tv, tn) — every distinct context key's
      md5-derived sub-vector and norm, precomputed once at build time
      (bigram-vocabulary-bounded; serving never re-derives a doc-side
      vector).

    Cost shape: one corpus scan feeds all three writes; everything
    downstream of the scan is (doc_id, token)-narrow — document
    bodies are read once per corpus snapshot and never again."""
    from game_data_etl_pipeline_spark.catalog import load_table as _load
    from game_data_etl_pipeline_spark.llmdata.artifacts import persist
    from game_data_etl_pipeline_spark.llmdata.similarity import (
        _ctx_keys_expr,
        norm_expr as _norm,
        token_vec_expr,
    )

    def write(staging: str) -> None:
        docs = _load(spark, sf_dir, "documents")
        du = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("dterm")
        ).distinct()
        (
            du.withColumn("b", _late_bucket(F.col("dterm")))
            .repartition("b")
            .write.mode("overwrite")
            .partitionBy("b")
            .parquet(os.path.join(staging, "unigrams"))
        )
        dk = docs.select(
            "doc_id", F.explode(_ctx_keys_expr(F.col("text"))).alias("dkey")
        ).distinct()
        dk.repartition("doc_id").write.mode("overwrite").parquet(
            os.path.join(staging, "ctx_postings")
        )
        vocab = dk.select(F.col("dkey").alias("key")).distinct()
        (
            vocab.select("key", token_vec_expr(F.col("key")).alias("tv"))
            .select("key", "tv", _norm(F.col("tv")).alias("tn"))
            .write.mode("overwrite")
            .parquet(os.path.join(staging, "vocab"))
        )

    return persist(
        "late_index", "", LATE_INDEX_VERSION, sf_dir, "documents.parquet",
        marker="meta.json", meta={"buckets": LATE_BUCKETS}, write=write,
    )


def _late_query_buckets(spark: SparkSession) -> list[int]:
    """Bucket ids of the registered query set's unigram terms — one
    bounded 9-row JVM job, memoized per process, feeding the literal
    partition-pruning filter of the served candidate scan."""
    from game_data_etl_pipeline_spark.llmdata.similarity import LATE_QUERIES

    terms = tuple(sorted({t for _i, q in LATE_QUERIES for t in q.split(" ")}))
    if terms not in _LATE_BUCKET_CACHE:
        rows = (
            spark.range(1)
            .select(
                F.explode(F.array(*[F.lit(t) for t in terms])).alias("term")
            )
            .select(_late_bucket(F.col("term")).alias("b"))
            .distinct()
            .collect()
        )  # bounded: one row per distinct query term
        _LATE_BUCKET_CACHE[terms] = sorted(int(r["b"]) for r in rows)
    return _LATE_BUCKET_CACHE[terms]


@register(
    "op_sim_late_interaction_served",
    tags=("llm", "similarity", "retrieval", "index"),
    prepare=(build_late_index,),
    # op_sim_late_interaction's oracle VERBATIM (one shared string):
    # serving from the persisted token index must reproduce the
    # from-scratch values exactly — a stale vocab row, a lost posting,
    # or a drifted bucket layout flips the value hash itself, the
    # op_sim_ivfpq_serve_merged contract applied to the lexical side.
    oracle=LATE_INTERACTION_ORACLE,
)
def op_sim_late_interaction_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION SERVING — op_sim_late_interaction's build/
    serve split (the op_text_bm25_serve precedent): the from-scratch
    op tokenizes the corpus inside every query; a serving tier
    instead reads the persisted token index (``build_late_index``:
    term-bucketed unigram postings, doc-located contextualized
    postings, precomputed vocabulary vectors) and runs ONLY the
    serving stages — candidate gen pruned to the query terms'
    partition buckets, MaxSim rerank over the shortlist with every
    doc-side vector looked up, never re-derived. Query-side tokens
    and vectors are computed inline from the LATE_QUERIES literals
    (9 rows — what an external query batch would bring along).

    The documents table appears NOWHERE in the serve plan (pinned by
    tests/test_plans.py::test_late_interaction_served_plan_contract:
    the plan reads the late_index warehouse path and never the
    documents parquet; a second serve in-process must not rebuild).
    Values are hash-compared against the SAME oracle as the
    from-scratch op — the persisted index must be invisible to
    results, visible only to cost.

    At 100 TB this split is the difference between re-reading the
    corpus per query batch and a bounded bucket-pruned posting scan:
    build cost amortizes across every query the snapshot serves."""
    from game_data_etl_pipeline_spark.llmdata.similarity import (
        late_maxsim_rank,
        late_query_frames,
        late_shortlist,
    )

    path = build_late_index(spark, sf_dir)
    qt, qk = late_query_frames(spark)
    buckets = _late_query_buckets(spark)
    du = (
        spark.read.parquet(os.path.join(path, "unigrams"))
        .filter(F.col("b").isin(*buckets))
        .select("doc_id", "dterm")
    )
    dk = spark.read.parquet(os.path.join(path, "ctx_postings")).select(
        "doc_id", "dkey"
    )
    # doc-side vectors come from the artifact; the 9 query keys may be
    # absent from the corpus vocabulary, so their vectors are computed
    # inline and unioned in (bounded literal side)
    from game_data_etl_pipeline_spark.llmdata.similarity import (
        norm_expr as _norm,
        token_vec_expr,
    )

    qvec = (
        qk.select(F.col("qkey").alias("key"))
        .distinct()
        .select("key", token_vec_expr(F.col("key")).alias("tv"))
        .select("key", "tv", _norm(F.col("tv")).alias("tn"))
    )
    vec = spark.read.parquet(os.path.join(path, "vocab")).unionByName(qvec).dropDuplicates(["key"])
    short = late_shortlist(du, qt)
    return late_maxsim_rank(dk, short, qk, vec)
