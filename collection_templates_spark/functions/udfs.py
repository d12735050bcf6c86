"""Pandas-UDF wrappers for the Python-only scalar functions, plus the
distinct→compute→join helper (Opt-6) that replaces the reference's RocksDB
memoization caches (create_merged.py:29-31, :44-79).

Every UDF here is Arrow-batched; none belongs in a hot path without going
through ``compute_on_distinct`` first.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from collection_templates_spark.functions.normalize import curate_member, curate_name
from collection_templates_spark.functions.scoring import (
    banner_image,
    interesting_score_stub,
    log_probability_stub,
)

CURATED_TYPE = StructType(
    [
        StructField("curated", StringType()),
        StructField("tokenized", ArrayType(StringType())),
    ]
)


@F.pandas_udf(CURATED_TYPE)
def curate_member_udf(s: pd.Series) -> pd.DataFrame:
    out = [curate_member(v) if v is not None else None for v in s]
    return pd.DataFrame(
        {
            "curated": [o[0] if o else None for o in out],
            "tokenized": [o[1] if o else None for o in out],
        }
    )


@F.pandas_udf(StringType())
def curate_name_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: curate_name(v) if v is not None else None)


@F.pandas_udf(StringType())
def namehash_udf(s: pd.Series) -> pd.Series:
    # whole-batch vectorized keccak (numpy Keccak-f over all labels at
    # once) — ~100× the per-row scalar chain
    from collection_templates_spark.functions.hashing import namehash_batch

    return pd.Series(namehash_batch(list(s)), index=s.index)


@F.pandas_udf(ArrayType(LongType()))
def rolling_hash_udf(texts: pd.Series, ks: pd.Series) -> pd.Series:
    """Karp-Rabin rolling k-char hashes — numpy-vectorized, value-identical
    to text_analysis.rolling_shingle_hashes (base-31 poly mod 2^31-1).

    The native HOF form evaluates an interpreted per-position aggregate
    (~2 s for 500×15k-char docs); here each doc is one
    sliding_window_view + k vectorized Horner steps (codepoints via a
    utf-32 reinterpret, no per-char Python). Used by the winnowing
    operators where the hash array is the dominant cost; ``ks`` is a
    lit() column (pandas UDFs take no scalar args).
    """
    import numpy as np

    MOD = 2147483647
    out = []
    for t, k in zip(texts, ks):
        if t is None:
            out.append([])
            continue
        k = int(k)
        codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
        if len(codes) < k:
            out.append([])
            continue
        win = np.lib.stride_tricks.sliding_window_view(codes, k)
        h = np.zeros(len(win), dtype=np.int64)
        for j in range(k):
            h = (h * 31 + win[:, j]) % MOD
        out.append(h.tolist())
    return pd.Series(out, index=texts.index)


@F.pandas_udf(StringType())
def _suffix_stem_pd(s: pd.Series) -> pd.Series:
    from collection_templates_spark.functions.stemming import suffix_stem_py

    return s.map(lambda v: suffix_stem_py(v) if v is not None else None)


#: Stabilized suffix stem for VOCABULARY-side use (distinct tokens, then
#: broadcast-join back — never the raw token stream). Marked
#: nondeterministic on purpose: the stem IS deterministic, but the mark
#: stops Catalyst from (a) pushing an `IN terms` filter on the stem below
#: the projection and (b) propagating it through the join equality onto
#: the full token stream as an inferred per-row filter over the whole
#: inlined CASE chain — the constraint-inference analogue of the r4
#: computed-column-filter trap, measured 17× on search_stemmed_ltr.
suffix_stem_udf = _suffix_stem_pd.asNondeterministic()


@F.pandas_udf(DoubleType())
def interesting_score_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: interesting_score_stub(v)[0] if v is not None else None)


@F.pandas_udf(DoubleType())
def log_probability_udf(s: pd.Series) -> pd.Series:
    return s.map(
        lambda v: log_probability_stub(v.lower().split(" ")) if v is not None else None
    )


# -- corpus-model-backed variants (F9/F10/F11 real scoring) -----------------
# The model's {token: count} dict travels as a SparkContext broadcast; the
# UnigramModel object (cost table for the DP splitter) is rebuilt at most
# once per executor process via this cache. Keys are driver-assigned uuids
# stamped into the broadcast value by ``broadcast_model`` — never object
# identity, which CPython can reuse after a GC'd earlier broadcast. The
# cache is bounded: a long-lived executor serving many pipelines keeps only
# the most recent few models.
_MODEL_CACHE: dict[str, object] = {}
_MODEL_CACHE_MAX = 4


def broadcast_model(sc, freqs: dict) -> "object":
    """Broadcast a {token: count} model dict tagged with a driver-assigned
    uuid, so per-executor model caches have a collision-free stable key."""
    import uuid

    return sc.broadcast((uuid.uuid4().hex, freqs))


def _model_for(freqs_bc):
    from collection_templates_spark.functions.langmodel import UnigramModel

    val = freqs_bc.value
    if isinstance(val, tuple):  # broadcast_model-tagged (the default path)
        key, freqs = val
    else:  # plain-dict broadcast from a direct caller: no stable key, so
        # rebuild each time rather than risk a stale id()-keyed hit
        return UnigramModel(val)
    m = _MODEL_CACHE.get(key)
    if m is None:
        if len(_MODEL_CACHE) >= _MODEL_CACHE_MAX:
            _MODEL_CACHE.pop(next(iter(_MODEL_CACHE)))
        m = UnigramModel(freqs)
        _MODEL_CACHE[key] = m
    return m


def interesting_score_udf_for(freqs_bc):
    """Real F10: geometric-mean token probability from a corpus model."""

    @F.pandas_udf(DoubleType())
    def _udf(s: pd.Series) -> pd.Series:
        m = _model_for(freqs_bc)
        return s.map(
            lambda v: m.interesting_score(v)[0] if v is not None else None
        )

    return _udf


def log_probability_udf_for(freqs_bc):
    """Real F9: Laplace-smoothed unigram sequence log-probability of the
    space-split lowercase name (create_merged.py:942-943 call shape)."""

    @F.pandas_udf(DoubleType())
    def _udf(s: pd.Series) -> pd.Series:
        m = _model_for(freqs_bc)
        return s.map(
            lambda v: m.log_probability([t for t in v.lower().split(" ") if t])
            if v is not None
            else None
        )

    return _udf


def wordsplit_udf_for(freqs_bc):
    """Real F11: wordninja-DP split of a simple token."""

    @F.pandas_udf(ArrayType(StringType()))
    def _udf(s: pd.Series) -> pd.Series:
        m = _model_for(freqs_bc)
        return s.map(lambda v: m.split(v) if v is not None else None)

    return _udf


@F.pandas_udf(StringType())
def banner_image_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: banner_image(v) if v is not None else None)


def compute_on_distinct(
    df: DataFrame, in_col: str, fn: Callable[[Column], Column], out_col: str
) -> DataFrame:
    """Apply an expensive function to DISTINCT values of ``in_col`` (a
    column name, nested ``"m.curated"`` included) and join the result back
    (broadcast when small); returns ``df`` plus ``out_col``.

    ``fn`` builds the compute column from the input column (a pandas UDF
    is such a function). The join is a plain equality, so a null input
    always gets a null output.

    The reference memoizes per-process in RocksDB; here distinctness IS the
    cache, and the compute parallelizes over the cluster.

    The repartition after distinct is deliberate: AQE coalesces the
    distinct's shuffle output by BYTES, and a few million short strings
    easily fit one partition — which would serialize the (CPU-bound,
    Python) compute on a single core. Same measured pathology as the
    factory's namehash stage (42s → 1.9s once spread).
    """
    computed = (
        df.select(F.col(in_col).alias("___v"))
        .distinct()
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select("___v", fn(F.col("___v")).alias(out_col))
    )
    return df.join(computed, F.col(in_col) == F.col("___v"), "left").drop("___v")
