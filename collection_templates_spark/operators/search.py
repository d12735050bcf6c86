"""Batch search analogue of the serving-side ES query (SURVEY §2.10).

The reference serves name-discovery from Elasticsearch (multi_match over
name/keyword fields + rank_feature boosts + LTR rescore — research/
learning-to-rank/search.py:14-94). The engine-side batch equivalent scores
a query against the corpus with TF-IDF (BM25-ish) over tokenized text plus
a log-rank feature boost, then takes a deterministic top-k. Useful for
correctness demos and offline relevance evaluation; not a serving system.

All scoring is native column expressions: per-term regexp counts (TF),
one small aggregation for document frequencies (IDF, broadcast back), and a
single window for top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _term_tf(text: F.Column, term: str) -> F.Column:
    """Occurrences of term as a whole token (space-tokenized count)."""
    return F.size(
        F.filter(F.split(F.lower(text), " "), lambda t: t == F.lit(term))
    )


def search_corpus(
    docs: DataFrame,
    query: str,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    rank_col: str | None = None,
    rank_boost: float = 0.1,
) -> DataFrame:
    """Top-k docs for a whitespace-tokenized query.

    score = Σ_t tf(t, doc) · round(ln((N+1)/(df_t+1)), 9)
            [+ rank_boost · log2(1+rank)]
    Deterministic: idf is rounded 9dp before the tf product (as in
    :func:`search_tfidf_cosine`, so libm and java.lang.Math log agree);
    ranking on 6dp-rounded score with id tie-break.
    """
    terms = [t for t in query.lower().split() if t]

    # N and the document frequencies ride as ONE broadcast 1-row
    # aggregate joined in-plan (the Q11 broadcast-scalar shape, r15) —
    # previously a docs.count() plus a .collect()[0] driver action per
    # invocation (×2 retrievals inside search_rrf_fusion), i.e. two
    # serialized driver jobs before the scoring job could even be
    # submitted (guide §5.3). idf moves from a Python-math literal to
    # the same in-plan F.log over exact integers the (externally green)
    # stemmed and cosine retrievers already use.
    stats = docs.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum((_term_tf(F.col(text_col), t) > 0).cast("long")).alias(
                f"__df_{i}"
            )
            for i, t in enumerate(terms)
        ],
    )

    score = None
    for i, t in enumerate(terms):
        idf_t = F.round(
            F.log(
                (F.col("__n").cast("double") + F.lit(1.0))
                / (F.col(f"__df_{i}").cast("double") + F.lit(1.0))
            ),
            9,
        )
        part = _term_tf(F.col(text_col), t) * idf_t
        score = part if score is None else score + part
    if rank_col is not None:
        score = score + F.lit(rank_boost) * F.log2(F.col(rank_col) + 1)

    # orderBy+limit compiles to TakeOrderedAndProject (per-partition top-k,
    # no global sort); the row_number window then runs over only k rows.
    top = (
        docs.join(F.broadcast(stats))
        .withColumn("score", F.round(score, 6))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
    # global window over ≤ k rows (the limit above): one partition is
    # correct and cheap. WindowExec logs its no-partition warning for any
    # global window — a foldable lit(0) key is constant-folded away and
    # does NOT silence it (r4 verdict #5) — but the window input here is
    # k rows, not the corpus, so the warning is cosmetic.
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col, "rank", "score"
    )


#: one tokenizer convention for the stemmed analyzer, shared with the
#: oracle SQL (standard-tokenizer + lowercase analog; langmodel uses the
#: same class of split)
ANALYZER_SPLIT_RE = "[^a-z0-9']+"


def analyze_query_terms(query: str) -> list[str]:
    """Sorted distinct stemmed terms of ``query`` under the SAME analyzer
    as the corpus (ANALYZER_SPLIT_RE split → lowercase → stem).

    r4 advice: a whitespace split left punctuated query terms (e.g.
    'hash-join') unable to match ANY analyzer token — ES would split them
    the same way the field analyzer does, so the query must too. Shared
    with the generated oracle SQL so both engines see identical terms."""
    import re

    from collection_templates_spark.functions.stemming import suffix_stem_py

    return sorted(
        {suffix_stem_py(t) for t in re.split(ANALYZER_SPLIT_RE, query.lower()) if t}
    )


def search_corpus_stemmed(
    docs: DataFrame,
    query: str,
    k: int = 20,
    rescore_window: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    feature_cols: tuple[str, ...] = (),
    k1: float = 1.2,
    rescore_weights: dict[str, float] | None = None,
) -> DataFrame:
    """§2.10 analyzer-grade batch search: stemmed BM25 (b=0) + rank_feature
    saturation + a linear top-``rescore_window`` rescore.

    Parity targets (research/learning-to-rank/populate.py:86-153 and
    search.py:14-94):
    - analyzer: standard-tokenizer → lowercase → stem. Stemming is the
      shared SUFFIX_RULES table (functions/stemming.py) as staged native
      CASE chains with the stabilize-or-leave guard — no UDF, and the
      oracle SQL is generated from the same table.
    - similarity "BM25_b0": per stemmed term,
      idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
      tf_sat = tf·(k1+1)/(tf + k1)  (b = 0 ⇒ no length normalization,
      exactly the reference's "document length doesn't matter").
    - rank_feature clauses: each feature scores x/(x + pivot) with pivot =
      the field's geometric mean over positive values (ES's default pivot),
      boost 1 — computed as one tiny aggregate, broadcast back.
    - LTR rescore: the reference rescores its top-50 with an ``sltr``
      stored model at query_weight 0 (search.py:78-94). The model file is
      an external artifact; the analogue is a linear model over the logged
      feature vector (bm25 + saturated features), weights in
      ``rescore_weights`` — applied to the top-``rescore_window`` only,
      and final ranking uses the rescore score alone (query_weight=0).

    Scale: tokens explode once; df/N/pivots are vocabulary- or 1-row-sized
    broadcasts; the only wide shuffles are the per-(doc,term) and per-doc
    aggregations, partial-combined; the rescore touches ``rescore_window``
    rows. No driver actions in plan building.
    """
    from collection_templates_spark.functions.udfs import suffix_stem_udf

    terms = analyze_query_terms(query)
    if rescore_weights is None:
        rescore_weights = {"bm25": 1.0, **{f: 2.0 for f in feature_cols}}

    toks = docs.select(
        F.col(id_col).alias("___id"),
        F.explode(
            F.split(F.lower(F.col(text_col)), ANALYZER_SPLIT_RE)
        ).alias("___tok"),
    ).filter(F.col("___tok") != "")
    # Stem the DISTINCT vocabulary, not the token stream: the stabilized
    # stemmer is applied through the quarantined UDF (optimizer-opaque
    # and marked nondeterministic, see functions/udfs) because with a
    # native stem expression here InferFiltersFromConstraints rewrites
    # the `term IN terms` filter through the alias + join equality into
    # a per-row filter over the fully inlined CASE chains on the ENTIRE
    # token stream (measured 1.45 s → 24 s at sf0.1). The UDF runs |V|
    # times, and the surviving (tok → term) map — at most
    # |terms| × preimage, query-sized — broadcast-joins back.
    #
    # Aggregation order: tf by RAW token first, so (a) the explode runs
    # once — both the vocab branch and the join branch hang off the same
    # (id, tok) Exchange, which ReuseExchange dedups — and (b) the vocab
    # distinct aggregates |doc·vocab| pre-combined rows, not the raw
    # token stream. The per-term tf is then the sum over the (few)
    # matching raw tokens.
    tf_raw = toks.groupBy("___id", "___tok").agg(F.count("*").alias("___tfr"))
    # repartition between the distinct and the UDF projection: AQE
    # coalesces the distinct's shuffle output by BYTES, and a large
    # vocabulary of short strings fits one partition — which would
    # serialize the CPU-bound pandas stem on a single core (the repo's
    # r4 rule; same pathology as the factory's namehash stage).
    vocab_terms = (
        tf_raw.select("___tok")
        .distinct()
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select("___tok", suffix_stem_udf(F.col("___tok")).alias("___term"))
        .filter(F.col("___term").isin(terms))
    )
    # tf per (doc, term); df per term; N — all from one exploded pass.
    # Eager DISK_ONLY lineage cut on tf (r15): it feeds BOTH the df
    # aggregate and the per-term scoring join, and the stem UDF above is
    # nondeterministic (the quarantine convention), so the two consumers
    # can NOT share the subtree via runtime exchange reuse — without the
    # cut the corpus explode, the (id, tok) aggregation AND the Python
    # stem all ran twice (16 Scan-parquet before-plan, r15). tf is
    # O(matching docs × |query terms|) — query-result-sized, far smaller
    # than the token stream it derives from; DISK_ONLY by the round's
    # storage rule for corpus-proportional checkpoints.
    from pyspark import StorageLevel as _SL

    tf = (
        tf_raw.join(F.broadcast(vocab_terms), "___tok")
        .groupBy("___id", "___term")
        .agg(F.sum("___tfr").alias("___tf"))
        .localCheckpoint(eager=True, storageLevel=_SL.DISK_ONLY)
    )
    df_t = tf.groupBy("___term").agg(F.count("*").alias("___df"))
    # ONE corpus-stats aggregate carries N and every feature pivot (the
    # old shape scanned docs once for N and once more for the pivots).
    # Eagerly checkpointed — it is ONE row, and its two broadcast
    # consumers project different columns, so they could not share a
    # BroadcastExchange otherwise (r15, guide §2.2).
    n_docs = docs.agg(
        F.count("*").alias("___n"),
        *[
            F.exp(
                F.avg(
                    F.when(F.col(c) > 0, F.log(F.col(c).cast("double")))
                )
            ).alias(f"___pivot_{c}")
            for c in feature_cols
        ],
    ).localCheckpoint(eager=True)

    idf = F.log(
        F.lit(1.0)
        + (F.col("___n") - F.col("___df") + 0.5) / (F.col("___df") + 0.5)
    )
    # per-term score rounded 9dp before the sum, the sum rounded 6dp — so
    # fp association order can't flip the cross-engine hash (repo-wide
    # convention, see langmodel.score_names)
    per_term = (
        tf.join(F.broadcast(df_t), "___term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "___s",
            F.round(
                idf
                * (F.col("___tf") * (k1 + 1.0))
                / (F.col("___tf") + F.lit(k1)),
                9,
            ),
        )
    )
    bm25 = per_term.groupBy("___id").agg(
        F.round(F.sum("___s"), 6).alias("bm25")
    )

    # rank_feature saturation: pivot = geometric mean of positive values
    scored = docs.select(F.col(id_col), *feature_cols).join(
        bm25.withColumnRenamed("___id", id_col), id_col, "inner"
    )
    if feature_cols:
        scored = scored.join(
            F.broadcast(n_docs.select(*[f"___pivot_{c}" for c in feature_cols]))
        )
        for c in feature_cols:
            scored = scored.withColumn(
                f"sat_{c}",
                F.round(
                    F.when(
                        F.col(c) > 0,
                        F.col(c) / (F.col(c) + F.col(f"___pivot_{c}")),
                    ).otherwise(F.lit(0.0)),
                    9,
                ),
            )
    es_score = F.round(
        F.col("bm25")
        + sum(
            (F.col(f"sat_{c}") for c in feature_cols), F.lit(0.0)
        ),
        6,
    )

    # first-pass top-window (TakeOrderedAndProject — no global sort), then
    # the linear rescore re-ranks only those rows (query_weight = 0)
    top = (
        scored.withColumn("es_score", es_score)
        .orderBy(F.desc("es_score"), F.asc(id_col))
        .limit(rescore_window)
    )
    ltr = F.round(
        F.lit(rescore_weights.get("bm25", 0.0)) * F.col("bm25")
        + sum(
            (
                F.lit(rescore_weights.get(c, 0.0)) * F.col(f"sat_{c}")
                for c in feature_cols
            ),
            F.lit(0.0),
        ),
        6,
    )
    # global window over the rescore_window rows only — see the warning
    # note on the first-pass window above
    w = Window.orderBy(F.desc("ltr_score"), F.asc(id_col))
    return (
        top.withColumn("ltr_score", ltr)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "ltr_score", "bm25")
    )


def token_frequencies(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """A10 (collections-preprocessing token counts): per-group token
    frequency table via explode + count."""
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"),
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("grp", "token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )


def phrase_match(
    docs: DataFrame,
    phrase: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact multi-token phrase search via positional adjacency — the
    batch analogue of a positional inverted index lookup (Lucene's
    PhraseQuery with slop 0): tokens keep their stream position, a
    lead-window checks the next len(phrase)−1 tokens, and matching
    anchors roll up per document. Unlike substring LIKE/regex, this
    respects token boundaries and is the shape a real index serves
    ("new york" must not match "renew yorkshire").

    Output: (doc, n_matches, first_pos) for documents with ≥1 match
    (first_pos is the 0-based token position of the earliest anchor).
    All counts/positions integers — nothing to round.

    Scale shape: tokenization (the dedup normalize convention:
    whitespace split of the trimmed, space-collapsed lowercase text) +
    ONE per-doc window shuffle + a map-side-combined doc rollup. On an
    indexed system the anchor scan is served by postings; this operator
    IS the semantics the index must reproduce.
    """
    from pyspark.sql import Window

    from collection_templates_spark.operators.dedup import normalize_text

    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.split(normalize_text(F.col(text_col)), " ")
        ).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc").orderBy("pos")
    cond = F.col("tok") == phrase[0]
    cur = toks
    for k, word in enumerate(phrase[1:], start=1):
        cur = cur.withColumn(f"___n{k}", F.lead("tok", k).over(w))
        cond = cond & (F.col(f"___n{k}") == word)
    anchors = cur.filter(cond)
    return anchors.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("pos").cast("long").alias("first_pos"),
    )


def search_tfidf_cosine(
    docs: DataFrame,
    query: str,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Vector-space-model retrieval: cosine similarity between the
    query and each document under tf·idf weighting — the classic IR
    baseline next to :func:`search_corpus`'s raw tf·idf sum (cosine
    normalizes away document length, so a short focused doc can
    outrank a long one that merely repeats a term; Salton's SMART
    lnc.ltc family, public method).

    w(t, d) = tf(t, d) · idf_t with idf_t = ln((N+1)/(df_t+1)) rounded
    9dp; score(d) = Σ_{t∈q} w(t,d)·w(t,q) / (‖d‖·‖q‖) with
    ‖d‖ = sqrt(Σ_t w(t,d)²) over ALL the doc's terms.

    Determinism: idf is rounded 9dp before any product; the per-doc
    norm accumulates 6dp-rounded w² terms in DECIMAL(38,6)
    (order-independent — the anova_oneway convention); the ≤|q|-term
    dot product accumulates 9dp-rounded products in DECIMAL(38,9);
    the final ratio is rounded 6dp with an id tie-break.

    Scale shape: ONE tokenize+explode pass feeds both the df/idf
    aggregate and the per-(doc, term) tf table (the perplexity-family
    shuffle profile, keyed on token then doc); the query vector is |q|
    rows joined by token. No all-pairs anything; top-k is
    TakeOrderedAndProject.
    """
    import re

    terms = sorted({t for t in re.split(ANALYZER_SPLIT_RE, query.lower()) if t})
    if not terms:
        raise ValueError("query has no analyzable terms")

    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), ANALYZER_SPLIT_RE),
                lambda t: t != F.lit(""),
            )
        ).alias("token"),
    )
    # tf feeds BOTH the idf aggregate and the weight table, and w is
    # consumed by norms AND dots — without a lineage cut the
    # tokenize+explode scan runs four times (the RAKE lesson, r11
    # memory). One eager localCheckpoint on the per-(doc, term) table
    # collapses every consumer onto one materialization; at 100 TB
    # this is the posting-list relation a real engine would persist
    # anyway (it IS the inverted index).
    # DISK_ONLY storage: the posting list is O(doc × term) — the
    # corpus-sized checkpoint class (r15 rule: deserialized heap
    # residency is for entity-sized iterative state, not exploded
    # corpus relations).
    from pyspark import StorageLevel as _SL

    tf = toks.groupBy("doc", "token").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=True, storageLevel=_SL.DISK_ONLY)
    # N rides as a broadcast 1-row count aggregate (guide §5.3) — a
    # docs.count() here was a serialized driver job before any scoring
    # work could be submitted. Counting docs, not distinct tf.doc:
    # token-less documents still belong in N.
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    # idf is also dual-consumed (weight join + query vector) but its
    # recompute from the checkpointed tf is one cheap aggregate — a
    # second eager cut here MEASURED SLOWER (6.3 s → 7.5 s at sf1)
    idf = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df_t")
    ).join(F.broadcast(n_docs)).select(
        "token",
        F.round(
            F.log(
                (F.col("__n").cast("double") + F.lit(1.0))
                / (F.col("df_t").cast("double") + F.lit(1.0))
            ),
            9,
        ).alias("idf"),
    )
    w = tf.join(idf, "token").select(
        "doc",
        "token",
        (F.col("tf").cast("double") * F.col("idf")).alias("w"),
    )
    norms = w.groupBy("doc").agg(
        F.sqrt(
            F.sum(
                F.round(F.col("w") * F.col("w"), 6).cast(
                    "decimal(38,6)"
                )
            ).cast("double")
        ).alias("norm_d")
    )
    # query vector: tf = 1 per distinct term; ‖q‖ from the same idf
    qv = idf.filter(F.col("token").isin(terms))
    q_norm = qv.groupBy().agg(
        F.sqrt(
            F.sum(
                F.round(F.col("idf") * F.col("idf"), 6).cast(
                    "decimal(38,6)"
                )
            ).cast("double")
        ).alias("norm_q")
    )
    dots = (
        w.join(qv.select("token", F.col("idf").alias("w_q")), "token")
        .groupBy("doc")
        .agg(
            F.sum(
                F.round(F.col("w") * F.col("w_q"), 9).cast(
                    "decimal(38,9)"
                )
            ).alias("dot")
        )
    )
    scored = (
        dots.join(norms, "doc")
        .join(F.broadcast(q_norm))
        .select(
            F.col("doc").alias(id_col),
            F.round(
                F.try_divide(
                    F.col("dot").cast("double"),
                    F.col("norm_d") * F.col("norm_q"),
                ),
                6,
            ).alias("score"),
        )
        .filter(F.col("score") > 0)
    )
    top = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    w_rank = Window.orderBy(F.desc("score"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w_rank)).select(
        id_col, "rank", "score"
    )


def search_rrf_fusion(
    docs: DataFrame,
    query: str,
    k: int = 10,
    pool: int = 20,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of the two
    lexical retrievers: the raw tf·idf ranking (:func:`search_corpus`)
    and the SMART lnc.ltc cosine ranking (:func:`search_tfidf_cosine`)
    each contribute 1/(rrf_k + rank) for their top-``pool`` docs, and
    the fused top-``k`` is returned — the standard score-free way to
    combine rankers whose score scales don't compare (the ES/OpenSearch
    hybrid-search default, rrf_k = 60 per the paper).

    Determinism: fusion reads only the integer ranks of two already
    deterministic rankings; each contribution is one double division of
    exact integers and the fused score a sum of ≤ 2 such terms —
    identical in both engines; (score DESC, id ASC) total order,
    rounded 6dp.

    Scale shape: the two retriever plans are unchanged (their top-pool
    results are k-row tables); the fusion itself is a full-outer join
    of two k-row inputs — driver-trivial at any corpus size.
    """
    lhs = search_corpus(
        docs, query, k=pool, id_col=id_col, text_col=text_col
    ).select(id_col, F.col("rank").alias("rank_tfidf"))
    rhs = search_tfidf_cosine(
        docs, query, k=pool, id_col=id_col, text_col=text_col
    ).select(id_col, F.col("rank").alias("rank_cosine"))
    contrib = (
        lambda c: F.when(
            F.col(c).isNotNull(),
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(c).cast("double")),
        ).otherwise(F.lit(0.0))
    )
    fused = (
        lhs.join(rhs, id_col, "full_outer")
        .select(
            id_col,
            "rank_tfidf",
            "rank_cosine",
            F.round(
                contrib("rank_tfidf") + contrib("rank_cosine"), 6
            ).alias("rrf_score"),
        )
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    top = fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(k)
    return top.withColumn("fused_rank", F.row_number().over(w))
