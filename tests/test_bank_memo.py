"""The query bank's one fill-or-hit (``testdata_queries._memo``) and the
memo-backed row family derived from it. No Spark session: ``_memo`` only
reads the session's applicationId and the tables' file fingerprints."""

import os
import types

import pyarrow as pa
import pyarrow.parquet as pq

from collection_templates_spark.plans import testdata_queries as tq

# The bank benchmark samples its memo family from this list, so a change
# to it changes a workload: it must be a deliberate edit here.
MEMO_BACKED = [
    "ann_cosine_topk", "ann_incremental_topk", "ann_index_delete",
    "ann_ivf_recall", "ann_ivf_topk", "ann_ivfpq_topk", "ann_knn_accuracy",
    "ann_lsh_recall", "ann_lsh_topk", "ann_pq_recall", "ann_pq_rerank",
    "ann_pq_topk", "ann_respq_recall", "ann_respq_topk", "ann_sq8_recall",
    "bpe_train_merges", "decontaminate_fuzzy", "dedup_cluster_report",
    "dedup_clusters", "dedup_incremental", "dedup_index_delete",
    "dedup_keep_best", "dedup_semantic", "delta_pipeline",
    "recsys_als_eval", "recsys_als_factors", "scalar_log_probability",
    "text_perplexity", "text_perplexity_bigram", "text_perplexity_kn",
    "text_tfidf_top_terms", "text_token_pmi", "text_word_model",
    "text_zipf_fit",
]


def _session(app_id):
    return types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId=app_id)
    )


def _touch(path):
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def test_memo_hits_and_misses(tmp_path):
    sf = str(tmp_path)
    for name in ("lineitem", "orders"):
        pq.write_table(pa.table({"k": [1, 2, 3]}), f"{sf}/{name}.parquet")
    calls = []

    def fill():
        calls.append(1)
        return object()

    memo = {}
    spark = _session("app-1")

    def get(tables=("lineitem",)):
        return tq._memo(memo, spark, sf, ("t",), tables, fill)

    first = get()
    assert get() is first and len(calls) == 1

    _touch(f"{sf}/lineitem.parquet")
    second = get()
    assert second is not first and len(calls) == 2

    both = get(("lineitem", "orders"))
    assert get(("lineitem", "orders")) is both and len(calls) == 3
    for name in ("orders", "lineitem"):
        _touch(f"{sf}/{name}.parquet")
        n = len(calls)
        get(("lineitem", "orders"))
        assert len(calls) == n + 1

    live = len(memo)
    spark.sparkContext.applicationId = "app-2"
    fresh = get()
    assert fresh is not second and len(calls) == 6
    # the new session's miss evicted every entry of the dead one
    assert live > 1 and list(memo.values()) == [fresh]
    assert all(k[-1] == "app-2" for k in memo)


def test_memo_backed_queries_pinned():
    assert tq.memo_backed_queries() == MEMO_BACKED
