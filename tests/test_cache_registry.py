"""Gate for the session memo registry (cache.py): prefix release drops
exactly the entries under the prefix, a failed build stores nothing,
and releasing the e2e index memo removes its temp directory."""

from __future__ import annotations

import os

import pytest
from conftest import SF0001 as SF

from distributed_graph_coloring_with_pyspark_spark.cache import _STORE, memo, release
from distributed_graph_coloring_with_pyspark_spark.operators import similarity as S
from distributed_graph_coloring_with_pyspark_spark.operators import text_dedup as TD


def _keys(spark) -> set[tuple]:
    return set(_STORE.get(id(spark), {}))


def _is_persisted(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_tier_release_keeps_other_tier_and_namespaces(spark):
    """bench.py prices one near-dup pair tier by releasing only that
    tier: the other tier's frame and every other namespace stay."""
    release(spark)
    exact = S.neardup_pair_frame_cached(spark, SF, "exact")
    lsh = S.neardup_pair_frame_cached(spark, SF, "lsh")
    TD.shingle_frame(spark, SF)
    memo(spark, ("unigram_models", SF), lambda: {"a": 1.0})
    before = _keys(spark)

    assert release(spark, "neardup_pairs", "lsh") == {"neardup_pairs": 1}
    assert _keys(spark) == before - {("neardup_pairs", "lsh", SF)}
    assert not _is_persisted(lsh)
    assert _is_persisted(exact)
    assert S.neardup_pair_frame_cached(spark, SF, "exact") is exact
    release(spark)


def test_ivf_release_keeps_pq_codebooks(spark):
    release(spark)
    S.ann_ivf_topk(spark, SF).count()
    S.ann_pq_topk(spark, SF).count()
    books = memo(spark, ("pq_codebooks", SF), lambda: pytest.fail("PQ memo lost"))

    assert release(spark, "ivf_centroids") == {"ivf_centroids": 1}
    assert not any(k[0] == "ivf_centroids" for k in _keys(spark))
    assert memo(spark, ("pq_codebooks", SF), lambda: pytest.fail("PQ memo lost")) is books
    release(spark)


def test_failed_build_stores_nothing(spark):
    release(spark)

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        memo(spark, ("classifier", "probe", SF), boom)
    assert ("classifier", "probe", SF) not in _keys(spark)
    # the next call builds afresh instead of reading a stale entry
    assert memo(spark, ("classifier", "probe", SF), lambda: 7) == 7
    with pytest.raises(KeyError):
        memo(spark, ("no_such_namespace",), lambda: 0)
    release(spark)


def test_e2e_index_dir_removed_on_release(spark):
    release(spark)
    TD.dedup_incremental_e2e(spark, SF).count()
    tmp = memo(
        spark, ("e2e_index_dirs", SF), lambda: pytest.fail("e2e memo missing")
    )
    assert os.path.isdir(os.path.join(tmp.name, "index"))

    assert release(spark, "e2e_index_dirs") == {"e2e_index_dirs": 1}
    assert not os.path.exists(tmp.name)
