"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:
- Exact dedup is one hash-groupBy (map-side combine, one shuffle on the
  normalized-text hash — never on the text itself).
- All-pairs similarity is never computed: candidates come from inverted
  shingle index (small corpora), LSH band buckets (MinHash), or band-chunk
  exact-match blocking (SimHash). Each is a bucket-collect on a short key:
  ONE shuffle of the postings, pairs enumerated inside each bucket — so
  the heavy upstream aggregation (signatures/fingerprints/prefixes) runs
  once, where a bucket self-join would re-run it per join side.
- Hot shingles (stopword trigrams) and degenerate LSH buckets are the skew
  risk: ``max_bucket_size`` drops such buckets exactly like a salting
  guard would (B² pairs per bucket no matter how they're enumerated).

The reference's only dedup is keep-first-by-name (SURVEY §2.5 O6 / §2.4 A7);
this module is the LLM-corpus extension suite.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


_INFER_GENERATE_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)

#: Embedder opt-out for the session-level optimizer-rule exclusion below.
#: Set ``spark.conf.set(AUTO_EXCLUDE_CONF, "false")`` BEFORE building any
#: dedup plan and the library will never touch
#: ``spark.sql.optimizer.excludedRules`` on your session — results are
#: identical either way (the rule is a pure pre-shuffle pruning
#: micro-optimization); the HOF-heavy dedup plans just run ~12x slower on
#: narrow inputs when the rule re-derives the shingle chain below the
#: fan-out exchange.
AUTO_EXCLUDE_CONF = "spark.collectionTemplates.autoExcludeInferGenerate"


def ensure_infer_generate_excluded(spark) -> None:
    """Session-level defensive exclusion of InferFiltersFromGenerate
    (honoring :data:`AUTO_EXCLUDE_CONF`): shared by every operator that
    relies on a Generate BARRIER to evaluate an interpreted expression
    chain once per row (_spread's shingle fan-out, heaps_fit's and
    quality_classifier's single-element-array explodes). On a vanilla
    driver session the rule would synthesize a size()>0/isnotnull
    filter BELOW the Generate, re-deriving the chain the barrier exists
    to protect. Appends to — never clobbers — existing exclusions;
    results are identical either way (see _spread's docstring)."""
    if str(spark.conf.get(AUTO_EXCLUDE_CONF, "true")).lower() != "false":
        excluded = spark.conf.get("spark.sql.optimizer.excludedRules", None)
        if not excluded:
            spark.conf.set(
                "spark.sql.optimizer.excludedRules", _INFER_GENERATE_RULE
            )
        elif _INFER_GENERATE_RULE not in excluded:
            spark.conf.set(
                "spark.sql.optimizer.excludedRules",
                excluded + "," + _INFER_GENERATE_RULE,
            )


def _spread(df: DataFrame) -> DataFrame:
    """Fan a narrow input out to the session's full parallelism before
    CPU-heavy per-row expression evaluation (the shingle chains are
    higher-order functions — interpreted, ~1ms/doc). A small-file scan
    (one row-group → one task) would otherwise serialize that work on a
    single core; at 100 TB inputs arrive in thousands of splits and this
    is a no-op. Same pattern as multimodal's pre-decode repartition.

    Also excludes Spark's InferFiltersFromGenerate rule for this session
    (appending to — never clobbering — any exclusions already present):
    it infers ``size(sh) > 0 AND isnotnull(sh)`` from the downstream
    explode and pushes it below this very repartition, re-evaluating the
    whole interpreted shingle chain twice per row on the narrow
    pre-fan-out side (measured: explode of the expression 4.2s vs 0.33s
    from materialized data at sf0.1). The rule is a pre-shuffle pruning
    micro-optimization; explode semantics are identical without it.

    The mutation is SESSION-GLOBAL and deliberate: the exclusion must be
    in force when the lazy plan is OPTIMIZED (at action time), so a
    save/restore around plan construction would silently re-enable the
    pathology. Embedders who do not want a library touching their session
    config opt out via :data:`AUTO_EXCLUDE_CONF` — see its docstring; a
    regression test pins that the opt-out leaves the session conf
    untouched.
    """
    spark = df.sparkSession
    ensure_infer_generate_excluded(spark)
    sc = spark.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _bucket_pairs(grouped: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Explode each bucket's member list into its ordered pairs.

    ``grouped`` is (bucket-key…, ``ms``: array of member structs, each with
    a ``doc`` field). Produces columns ``a``/``b`` (member structs, a.doc <
    b.doc). This is the shuffle-once alternative to a bucket self-join:
    the upstream aggregation runs ONCE instead of once per join side, at
    the cost of materializing each bucket's pair list row-locally — which
    is why every caller must bound bucket size (``max_bucket_size``, or a
    structural cap like prefix filtering); a degenerate bucket is
    quadratic in EITHER formulation, the cap is what saves 100 TB runs.
    """
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ms") <= max_bucket_size)
    # sort ONCE in a projection; the pair expression then slices the
    # already-sorted column (referencing array_sort(...) inside the nested
    # lambda would re-sort the bucket once per member)
    sorted_ms = grouped.filter(F.size("ms") >= 2).withColumn(
        "ms", F.array_sort("ms")
    )
    ms = F.col("ms")
    pairs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + F.lit(2), F.greatest(F.size(ms) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return sorted_ms.select(F.explode(pairs).alias("p")).select("p.a", "p.b")

#: SimHash fingerprint width. 62 (not 64) because the per-shingle hash is two
#: independent 31-bit polynomial hashes packed side by side — every bit is
#: uniformly distributed, whereas a 64-bit layout would leave 2 constant bits
#: whose blocking chunks degenerate into everyone-collides hot buckets.
SIMHASH_BITS = 62
_HASH_MOD = 2147483647  # 2^31 - 1 (Mersenne; products stay < 2^62, no overflow)


def _poly_hash(col: F.Column, base: int) -> F.Column:
    """h = fold(h*base + codepoint) mod 2^31-1 — pure integer arithmetic,
    reproducible in any engine (same scheme as text_analysis.poly_fingerprint)."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % _HASH_MOD,
    )


def portable_shingle_hash(col: F.Column) -> F.Column:
    """62-bit engine-portable shingle hash: poly(base 31) << 31 | poly(base 37).

    Deliberately NOT xxhash64: the DuckDB oracle must reproduce the exact
    fingerprints, and polynomial folds are the only hash both engines can
    express natively (see the text_fingerprint oracle)."""
    return _poly_hash(col, 31) * F.lit(2147483648).cast("long") + _poly_hash(col, 37)


def normalize_text(text: F.Column) -> F.Column:
    return F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_keys: bool = True,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """Exact duplicate detection on normalized text: every row keeps its
    group's canonical (min) id and a duplicate flag.

    Default (``hash_keys=True``): shuffle on ``xxhash64(norm)`` — an 8-byte
    key regardless of document size — then window over ``(hash, norm)``.
    The explicit hash repartition already satisfies the window's clustering
    requirement (hash ⊂ {hash, norm}), so the plan has exactly ONE exchange
    and full-text sort comparisons happen only locally, and only between
    rows whose 64-bit hashes already collide: true duplicates, or
    astronomically-rare hash collisions, which the norm in the window key
    then separates — the output is EXACT either way (pinned by the forced
    total-collision test). ``hash_keys=False`` keeps the raw-text shuffle
    for engines/tests that need a hash-free plan. ``hash_fn`` is
    injectable so tests can force collisions.
    """
    norm = normalize_text(F.col(text_col))
    d = df.withColumn("___norm", norm)
    if hash_keys:
        d = d.withColumn("___h", hash_fn(F.col("___norm"))).repartition("___h")
        w = Window.partitionBy("___h", "___norm")
    else:
        w = Window.partitionBy("___norm")
    return (
        d.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", (F.col(id_col) != F.col("canonical_id")).cast("int"))
        .drop("___norm", "___h")
    )


def word_shingles(text: F.Column, n: int = 3) -> F.Column:
    """Distinct word n-grams of normalized text (empty array if < n words)."""
    toks = F.split(normalize_text(text), " ")
    # sequence(1, 0) would DESCEND in Spark — short docs need an explicit
    # empty-array branch, not a clamped bound.
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """n-gram-set Jaccard pairs ≥ threshold. Columns: doc1 < doc2,
    jaccard (rounded 6dp).

    Uses **prefix filtering** (AllPairs/PPJoin family): per doc, only the
    ⌊(1-τ)·n⌋+1 globally-rarest shingles are indexed. Any pair with
    J ≥ τ must overlap within both prefixes (pigeonhole on the shared
    frequency order), so candidate generation joins tiny prefixes instead
    of full inverted lists — the hot-shingle quadratic blowup (stopword
    trigrams) never materializes. Verification computes the exact Jaccard
    from the full shingle sets via array_intersect.

    ``max_bucket_size`` (default 1000) drops shingles appearing in more
    than that many docs from the candidate index, bounding any one join
    bucket at max_bucket_size² candidate pairs regardless of corpus size —
    the guard that keeps a stopword-heavy 100 TB corpus from going
    quadratic. The result is EXACT whenever no capped shingle would land
    in a doc's prefix (capped shingles are the globally hottest, so they
    sort last and only enter a prefix when a doc has fewer than
    ⌊(1-τ)·n⌋+1 uncapped shingles); the PPJoin positional filter stays
    conservative under the cap by crediting each pair with the maximum
    possible overlap among its capped (index-invisible) shingles — see
    the bound derivation at the filter below. A pair of docs built almost
    entirely of ultra-hot shingles can be missed under the cap; pass
    ``None`` for strictly-exact output. At the repo's test scales the
    hottest shingle df is ~25, so the default cap never triggers there.

    Session side effect: the first call excludes Spark's
    ``InferFiltersFromGenerate`` optimizer rule for the WHOLE session
    (idempotent; see ``_spread`` for why — ~25× cheaper plans for these
    interpreted HOF chains). A caller relying on that rule elsewhere in
    the same session inherits the exclusion.
    """
    # The hashed shingle sets feed four branches (df-counts, prefix, both
    # verify sides). Deliberately NOT persisted: each branch recomputes the
    # normalize→split→shingle→hash chain from the columnar scan, which at
    # 100 TB is the right trade — caching terabytes of shingle arrays
    # evicts everything else, while a pruned parquet re-scan is cheap and
    # an unpersist()-less cache would leak across a long-lived session
    # (r3 verdict). Callers that know the corpus is small can cache the
    # INPUT df themselves; the chain recompute is branch-local either way.
    # NO size(sh)>0 filter here: empty-shingle docs vanish at the explode,
    # and only candidate docs (which have shingles) reach verification —
    # while a Filter over this higher-order-function chain forces ~25×
    # slower interpreted per-row evaluation than the same chain in a
    # Project (measured; predicate pushdown re-derives it per row).
    sets = _spread(df).select(
        F.col(id_col).alias("doc"),
        F.transform(
            word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
        ).alias("sh"),
    )

    idx = sets.select("doc", F.size("sh").alias("n"), F.explode("sh").alias("shingle"))
    df_counts = idx.groupBy("shingle").agg(F.count("*").alias("df"))
    if max_bucket_size is not None:
        df_counts = df_counts.filter(F.col("df") <= max_bucket_size)
    # per doc: order shingles rarest-first (global df, then hash for a total
    # order shared by every doc), keep the prefix WITH each shingle's
    # position — positions feed the PPJoin bounds below
    prefix_len = F.floor(F.lit(1.0 - threshold) * F.col("n")).cast("int") + 1
    prefix = (
        idx.join(df_counts, "shingle")
        .groupBy("doc", "n")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("shingle")))
            ).alias("ordered")
        )
        .select(
            "doc",
            "n",
            F.size("ordered").alias("n_surv"),
            F.posexplode(F.slice(F.col("ordered"), F.lit(1), prefix_len)).alias(
                "pos0", "s"
            ),
        )
        .select(
            "doc",
            "n",
            "n_surv",
            (F.col("pos0") + 1).alias("pos"),
            F.col("s.shingle").alias("shingle"),
        )
    )
    # bucket-collect pair generation: ONE shuffle of the prefix postings and
    # ONE computation of the (join + groupBy + slice) prefix plan — a
    # self-join would run that whole subtree once per side. Bucket size is
    # already structurally capped by the df_counts ≤ max_bucket_size filter
    # above, so no second cap here.
    #
    # Candidate pruning before the (expensive) verification joins — both
    # bounds are conservative, so pruning only removes pairs that provably
    # cannot reach τ; verification stays exact:
    # - length filter: J ≥ τ requires min(nx,ny) ≥ τ·max(nx,ny);
    # - PPJoin positional filter: positions/counts are over the SURVIVING
    #   (uncapped) shingles only, but the true overlap may also include
    #   shingles dropped by ``max_bucket_size`` — invisible to the index
    #   yet shared. So the bound adds the maximum possible capped overlap:
    #   for a shared surviving shingle at sorted positions (px, py),
    #     overlap ≤ 1 + min(nx_surv − px, ny_surv − py)
    #                 + min(nx − nx_surv, ny − ny_surv),
    #   and the pair must reach α = ceil(τ/(1+τ)·(nx+ny)). Taking the
    #   FIRST common surviving shingle (no common surviving shingle
    #   precedes it in the shared rarest-first order): common surviving ≤
    #   1 + min(remaining), common capped ≤ min(capped counts) — so a true
    #   pair always has one shared row passing, and keeping a pair when
    #   ANY shared row passes is complete. With max_bucket_size=None the
    #   capped term is identically 0 and this is the textbook PPJoin
    #   bound. (Omitting the capped term pruned TRUE pairs whose shared
    #   shingles were mostly hot — e.g. two identical docs with 9 capped +
    #   11 rare shingles — which the verification stage never saw.)
    #   The 1e-9 slack makes fp ceil/multiply errors err toward KEEPING.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("a.n") + F.col("b.n"))
        - F.lit(1e-9)
    )
    candidates = (
        _bucket_pairs(
            prefix.groupBy("shingle").agg(
                F.collect_list(
                    F.struct(F.col("doc"), F.col("n"), F.col("n_surv"), F.col("pos"))
                ).alias("ms")
            ),
            None,
        )
        .filter(
            F.least("a.n", "b.n")
            >= F.lit(threshold) * F.greatest("a.n", "b.n") - F.lit(1e-9)
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("a.n_surv") - F.col("a.pos"),
                F.col("b.n_surv") - F.col("b.pos"),
            )
            + F.least(
                F.col("a.n") - F.col("a.n_surv"),
                F.col("b.n") - F.col("b.n_surv"),
            )
            >= alpha
        )
        .select(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))
        .distinct()
    )
    s1 = sets.select(F.col("doc").alias("doc1"), F.col("sh").alias("sh1"))
    s2 = sets.select(F.col("doc").alias("doc2"), F.col("sh").alias("sh2"))
    n_common = F.size(F.array_intersect("sh1", "sh2"))
    jaccard = F.round(n_common / (F.size("sh1") + F.size("sh2") - n_common), 6)
    return (
        candidates.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


def hashed_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(doc, sh: array<long>) — xxhash64'd word shingles; the shared
    input of minhash signature generation AND exact-Jaccard candidate
    verification (minhash_lsh_pairs inline, incremental_dedup persisted).
    Session side effect: excludes InferFiltersFromGenerate (``_spread``).
    """
    return _spread(df).select(
        F.col(id_col).alias("doc"),
        F.transform(
            word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
        ).alias("sh"),
    )


def lsh_band_table(
    sets: DataFrame, num_hashes: int = 64, rows_per_band: int = 2
) -> DataFrame:
    """(doc, band_idx, band_hash) from hashed shingle sets: the banded
    minhash signature exploded to one row per band — the LSH candidacy
    key (and the exact table ``incremental_dedup`` persists as the
    probe-able corpus index)."""
    idx = sets.select("doc", F.explode("sh").alias("shingle"))
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = (
        idx.groupBy("doc")
        .agg(*mins)
        .select(
            "doc",
            F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias(
                "signature"
            ),
        )
    )
    return sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            *[
                                F.col("signature")[i]
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ]
                        ).alias("band_hash"),
                    )
                    for b in range(num_hashes // rows_per_band)
                ]
            )
        ).alias("band"),
    ).select("doc", "band.band_idx", "band.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
    min_band_collisions: int = 2,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, verified with exact Jaccard.

    banding: signature split into b = num_hashes / rows_per_band bands; docs
    colliding on ≥ ``min_band_collisions`` full bands become candidates
    (shuffle key = (band_idx, band_hash) — short and uniform). Candidates
    are then *verified* with exact n-gram Jaccard so the output has no
    false positives.

    ``min_band_collisions`` (r5 verdict #6): profiling the 100k→200k
    stress tail showed candidate VERIFICATION, not bucket growth, as the
    superlinear stage — the exact-jaccard join ships two ~1.2 KB shingle
    arrays per candidate pair, and with any-single-band candidacy the
    false-positive ratio was ~150:1 (4.4 M candidates → 29.5 k real
    pairs; 71 of 83 verify seconds were pure array shuffle). A pair at
    jaccard j collides per band with p = j^r, so requiring ≥ 2 of the 32
    bands suppresses chance collisions ~p-fold while moving the miss
    probability at exactly j = 0.5 from (1−p)^32 ≈ 1e-4 to
    + 32p(1−p)^31 ≈ 1.2e-3 — and leaving it ≈ 0 for the j ≥ 0.7 regime
    near-dup dedup actually targets (j = 0.9 → ~1e-22). Set to 1 to
    restore any-band candidacy.

    ``max_bucket_size`` drops band buckets larger than the cap before pair
    generation — the hot-bucket guard every production LSH needs (a
    degenerate bucket of B docs is B² candidate pairs no matter how pairs
    are enumerated). Near-identical docs collide on MANY of the 32 bands,
    so a pair lost to one hot bucket is almost surely recovered from
    another; pass ``None`` to disable the cap.

    Session side effect: excludes ``InferFiltersFromGenerate`` for the
    session on first call (see ``_spread`` / ngram_jaccard_pairs).
    """
    # The HASHED shingle sets serve signature generation AND candidate
    # verification; the per-seed minhash functions re-hash the 64-bit
    # shingle hash, which is statistically equivalent to hashing the
    # shingle string. Not persisted — see the ngram_jaccard_pairs note:
    # at 100 TB recompute-from-scan beats caching terabytes of arrays,
    # and a persist with no unpersist leaks across a long session. No
    # size(sh)>0 filter — see the same note (Filter over a HOF chain is
    # ~25× slower than Project; empty docs vanish at the explode anyway).
    sets = hashed_shingle_sets(df, id_col, text_col, n)
    bands = lsh_band_table(sets, num_hashes, rows_per_band)
    # bucket-collect pair generation: the full signature aggregation (64
    # mins over every shingle) runs ONCE — a band self-join would compute
    # it once per side, doubling the most expensive stage in the plan.
    pair_stream = _bucket_pairs(
        bands.groupBy("band_idx", "band_hash").agg(
            F.collect_list(F.struct(F.col("doc"))).alias("ms")
        ),
        max_bucket_size,
    ).select(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))
    if min_band_collisions > 1:
        # count collisions instead of distinct: same shuffle (map-side
        # partial count), and the filter kills the 1-band chance pairs
        # BEFORE the array-shipping verify join
        candidates = (
            pair_stream.groupBy("doc1", "doc2")
            .agg(F.count("*").alias("___nb"))
            .filter(F.col("___nb") >= min_band_collisions)
            .select("doc1", "doc2")
        )
    else:
        candidates = pair_stream.distinct()
    # Verify per-candidate with array_intersect on the two shingle sets —
    # linear in |candidates|, unlike the exact inverted-index pair join
    # (which is quadratic in hot-bucket sizes). This is why LSH is the
    # 100 TB path: candidate generation AND verification both stay cheap.
    #
    # (Profiled and rejected at 200k stress docs: a candidate-doc
    # semi-join prune of the verify sides recomputed the candidate chain
    # per consumer — ReuseExchange does not dedupe across the three uses
    # — and a lazy localCheckpoint to share it still measured slower than
    # this plain form, 111–134 s vs 102 s. The simple shape wins because
    # with min_band_collisions=2 the pair join ships almost no arrays.)
    s1 = sets.select(F.col("doc").alias("doc1"), F.col("sh").alias("sh1"))
    s2 = sets.select(F.col("doc").alias("doc2"), F.col("sh").alias("sh2"))
    n_common = F.size(F.array_intersect("sh1", "sh2"))
    jaccard = F.round(
        n_common / (F.size("sh1") + F.size("sh2") - n_common), 6
    )
    return (
        candidates.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Packed SimHash fingerprint per doc: ``(doc, fp: long)``.

    Per-bit vote = Σ over distinct shingles of ±1 by that bit of the portable
    shingle hash; fingerprint bit = vote > 0. Fully JVM-side: explode shingles,
    hash once per shingle, then ``bits`` conditional-sum aggregates in ONE
    groupBy pass (map-side partial aggregation — shuffle volume is docs × bits
    ints, never the shingles). Docs with < n words produce no shingles and are
    absent from the output, mirroring the other dedup operators.

    Session side effect (also via simhash_pairs): excludes
    ``InferFiltersFromGenerate`` for the session on first call (see
    ``_spread`` / ngram_jaccard_pairs).
    """
    hashed = _spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), n)).alias("s"),
    ).select("doc", portable_shingle_hash(F.col("s")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    packed = reduce(
        operator.add,
        [
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            for b in range(bits)
        ],
    )
    return hashed.groupBy("doc").agg(*votes).select("doc", packed.alias("fp"))


def _chunk_layout(bits: int, bands: int) -> list[tuple[int, int]]:
    """(offset, width) per band, widths as even as possible over ``bits``."""
    base, rem = divmod(bits, bands)
    widths = [base + 1] * rem + [base] * (bands - rem)
    offsets, off = [], 0
    for w in widths:
        offsets.append((off, w))
        off += w
    return offsets


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bits: int = SIMHASH_BITS,
    max_hamming: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """EXACT SimHash near-dup pairs: every pair of docs whose fingerprints are
    within hamming distance ≤ ``max_hamming``. Columns: doc1 < doc2, hamming.

    Blocking (multi-index hashing, Norouzi et al.): split the fingerprint into
    ``bands`` bit-chunks; by pigeonhole a pair differing in ≤ bands-1 bits
    shares at least one identical chunk, so candidate generation is an
    equi-join on (chunk_idx, chunk_val) — short uniform keys, never all-pairs.
    ``bands`` defaults to ``max_hamming + 1``, the minimum that makes the
    guarantee hold; passing fewer bands raises rather than silently dropping
    pairs. Verification is native ``bit_count(xor)`` on the packed longs —
    100% recall by construction, zero false positives after the filter.

    Scale note: chunk width = bits/bands. Large max_hamming → narrow chunks →
    bigger candidate buckets (at max_hamming=12 over 62 bits, 4-5-bit chunks
    ≈ N²/32 candidates per chunk): keep max_hamming small at corpus scale or
    pre-partition by length/language before pairing.
    """
    if bands is None:
        bands = max_hamming + 1
    if bands <= max_hamming:
        raise ValueError(
            f"bands={bands} cannot guarantee recall for max_hamming={max_hamming}: "
            "pigeonhole requires bands >= max_hamming + 1"
        )
    if bands > bits:
        raise ValueError(f"bands={bands} exceeds fingerprint width {bits}")
    # Each chunk row carries the full 8-byte fingerprint, so verification is
    # inline arithmetic on the bucketed pair — the fingerprint aggregation
    # (62 conditional sums over every shingle) runs exactly ONCE, where the
    # previous self-join + two verify-side joins plan computed it four
    # times. Shuffle volume grows by 8 bytes/chunk row; at 100 TB that is
    # noise next to three extra corpus-wide aggregations.
    fps = simhash_fingerprints(df, id_col, text_col, n, bits)
    chunks = fps.select(
        "doc",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright(F.col("fp"), off)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("chunk_val"),
                    )
                    for i, (off, w) in enumerate(_chunk_layout(bits, bands))
                ]
            )
        ).alias("c"),
    ).select("doc", "fp", "c.chunk_idx", "c.chunk_val")
    # no bucket cap: dropping a bucket would break the pigeonhole recall
    # guarantee (see the scale note above for the narrow-chunk caveat)
    pairs = _bucket_pairs(
        chunks.groupBy("chunk_idx", "chunk_val").agg(
            F.collect_list(F.struct(F.col("doc"), F.col("fp"))).alias("ms")
        ),
        None,
    )
    hamming = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).cast("int")
    return (
        pairs.select(
            F.col("a.doc").alias("doc1"),
            F.col("b.doc").alias("doc2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def blocked_levenshtein_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    name_col: str = "text",
    block_cols: tuple[str, ...] = (),
    max_distance: int = 3,
    max_block_size: int | None = 1000,
) -> DataFrame:
    """Blocked fuzzy name matching — the record-linkage primitive
    (Fellegi & Sunter 1969 blocking + edit distance): candidate pairs
    come ONLY from equal blocking keys (the name's first token plus any
    ``block_cols``), then exact Levenshtein filters to ``max_distance``.
    Returns (id_a, id_b, name_a, name_b, distance [, block cols]).

    Levenshtein is JVM-built-in in Spark and identically defined in
    DuckDB (unit-cost insert/delete/substitute), so the pairs are fully
    oracle-replayable — no portable re-implementation needed.

    Scale shape: bucket-collect over the blocking key (never all-pairs,
    and the upstream scan runs once instead of once per self-join side);
    ``max_block_size`` drops degenerate blocks before pair generation —
    the same hot-bucket guard as ``minhash_lsh_pairs``'s
    ``max_bucket_size`` (r7 verdict #4: a corpus where many names share
    a first token within one block otherwise reintroduces an uncapped
    quadratic term). Unlike LSH there is no second band to recover a
    dropped pair, so a dropped block is a documented recall cut on a
    block the caller should re-key anyway (phonetic or
    sorted-neighborhood keys for skewed corpora); pass ``None`` to
    disable.

    Reference relation: the reference matches names only after exact
    normalization (create_merged.py); fuzzy matching is
    beyond-reference surface for near-duplicate name curation.
    """
    blk = F.split(F.col(name_col), " ").getItem(0).alias("___blk")
    b = df.select(
        F.col(id_col).alias("___id"),
        F.col(name_col).alias("___name"),
        blk,
        *[F.col(c) for c in block_cols],
    )
    # Blocking is EQUALITY on the keys: a NULL key can never equal
    # another NULL under join semantics (and the DuckDB oracle's
    # equality self-join agrees), but groupBy would bucket NULLs
    # together — drop NULL-keyed rows so bucket-collect keeps the
    # equi-join contract.
    b = b.filter(
        F.col("___blk").isNotNull()
        & reduce(
            lambda acc, c: acc & F.col(c).isNotNull(),
            block_cols,
            F.lit(True),
        )
    )
    # member struct leads with ___id so _bucket_pairs' array_sort orders
    # pairs by id and (a, b) slicing yields id_a < id_b directly
    grouped = b.groupBy("___blk", *block_cols).agg(
        F.collect_list(
            F.struct(
                F.col("___id"),
                F.col("___name"),
                *[F.col(c) for c in block_cols],
            )
        ).alias("ms")
    )
    pairs = _bucket_pairs(grouped, max_block_size)
    return (
        pairs.select(
            F.col("a.___id").alias("id_a"),
            F.col("b.___id").alias("id_b"),
            F.col("a.___name").alias("name_a"),
            F.col("b.___name").alias("name_b"),
            *[F.col(f"a.{c}").alias(c) for c in block_cols],
        )
        .withColumn(
            "distance", F.levenshtein(F.col("name_a"), F.col("name_b"))
        )
        .filter(F.col("distance") <= max_distance)
        .select("id_a", "id_b", "name_a", "name_b", "distance", *block_cols)
    )


def paragraph_dedup_stats(
    docs: DataFrame,
    chunk_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    drop_threshold: float = 0.6,
) -> DataFrame:
    """Paragraph-level exact dedup (the Dolma / RefinedWeb passage pass):
    documents are split into non-overlapping ``chunk_tokens``-token
    windows (last partial window kept); a chunk INSTANCE is duplicated if
    its exact text also occurs in at least one OTHER document. Returns
    one row per doc: ``n_chunks``, ``n_dup_chunks``, ``dup_ratio``
    (rounded 6dp) and ``drop_doc`` = 1 when the rounded ratio reaches
    ``drop_threshold`` — the per-document decision a corpus-cleaning
    pipeline feeds into its filter stage.

    Plan shape: one explode (~n_tokens/chunk_tokens rows per doc), one
    groupBy on (chunk_text, id) with map-side combine, a count window
    re-using the chunk_text clustering, and a final per-doc aggregate.
    The shuffled key is the chunk text itself — bounded at
    ``chunk_tokens`` words, and any exact text-equality pass must move
    the corpus bytes at least once; cross-doc multiplicity is decided by
    per-(chunk, doc) GROUPS, so a doc repeating its own chunk never
    counts as duplicated. The reference has no passage-level pass (its
    dedup is keep-first-by-name, SURVEY §2.4 A7); this is part of the
    LLM-corpus extension suite.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(chunk_tokens)
    )
    chunks = _spread(docs).select(
        F.col(id_col),
        F.explode(
            F.transform(
                starts,
                lambda s: F.concat_ws(" ", F.slice(toks, s, chunk_tokens)),
            )
        ).alias("chunk_text"),
    )
    per_doc_chunk = chunks.groupBy("chunk_text", id_col).agg(
        F.count(F.lit(1)).alias("n_inst")
    )
    w = Window.partitionBy("chunk_text")
    flagged = per_doc_chunk.withColumn("n_docs", F.count(F.lit(1)).over(w))
    out = flagged.groupBy(id_col).agg(
        F.sum("n_inst").cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("n_docs") > 1, F.col("n_inst")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_dup_chunks"),
    )
    out = out.withColumn(
        "dup_ratio", F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6)
    )
    return out.withColumn(
        "drop_doc",
        (F.col("dup_ratio") >= F.lit(drop_threshold)).cast("int"),
    )
