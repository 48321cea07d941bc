"""The session memo registry: every artifact this engine reuses inside
one SparkSession lives here, under one explicit lifetime.

``memo(spark, key, build)`` returns the value stored under ``key`` for
this session, calling ``build()`` on a miss (a ``build`` that raises
stores nothing).  ``key[0]`` names one of ``NAMESPACES`` — the trained
quantizers, the shared pair/shingle/edge frames, the tokenizer and
classifier models, the decontamination drop sets, the e2e index temp
dirs, and the ad-hoc ``persist_tracked`` frames.  ``release(spark,
*prefix)`` drops every entry whose key starts with ``prefix`` (all of
the session's entries when no prefix is given): DataFrame values are
unpersisted, ``TemporaryDirectory`` values removed, and the count per
namespace returned.

Ad-hoc tracked persists: several queries persist an intermediate that
two or more subtrees of ONE action consume (MinHash's shingle
projection, SimHash's signature frame, the curation funnel's survivor
frames), but cannot unpersist it inside the lazy plan it backs.
``persist_tracked`` registers such a frame so the release point drops
it; Spark's LRU storage eviction bounds the damage in between.

Lifetime: explicit release is the only mechanism.  A cached DataFrame
strongly references its SparkSession, so no keying scheme — weak or
otherwise — could expire an entry when the session is dropped.  Keys
are ``id(session)``, and the registry pins the session object while it
has entries, so an id cannot be recycled onto another session's state
(non-frame values such as centroids do not reference the session).
``session.release_session_caches`` is the release point the bench and
serve loops call between query families.

The registry takes no lock: every caller runs on the driver thread
(``foreachBatch`` callbacks run while that thread waits in the query).
"""

from __future__ import annotations

import tempfile
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

NAMESPACES = (
    "customer_graph",
    "ivf_centroids",
    "pq_codebooks",
    "shingles",
    "jaccard_pairs",
    "neardup_pairs",
    "ann_topk",
    "e2e_index_dirs",
    "bpe_models",
    "unigram_models",
    "classifier",
    "decon_drop_sets",
    "tracked_frames",
)

_STORE: dict[int, dict[tuple, object]] = {}
_SESSIONS: dict[int, SparkSession] = {}  # pins each id while it has entries


def memo(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """The session's value under ``key``, built (and stored) on a miss."""
    if key[0] not in NAMESPACES:
        raise KeyError(f"unknown memo namespace {key[0]!r}")
    entries = _STORE.get(id(spark), {})
    if key in entries:
        return entries[key]
    value = build()
    _STORE.setdefault(id(spark), {})[key] = value
    _SESSIONS[id(spark)] = spark
    return value


def persist_tracked(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for bulk release."""
    return memo(spark, ("tracked_frames", id(df)), df.persist)


def release(spark: SparkSession, *prefix) -> dict[str, int]:
    """Drop this session's entries whose key starts with ``prefix``;
    returns {namespace: entries released} — every namespace when no
    prefix is given, else just ``prefix[0]``.  Idempotent."""
    released = dict.fromkeys(prefix[:1] or NAMESPACES, 0)
    entries = _STORE.get(id(spark), {})
    for key in [k for k in entries if k[: len(prefix)] == prefix]:
        _dispose(entries.pop(key))
        released[key[0]] += 1
    if not entries:
        _STORE.pop(id(spark), None)
        _SESSIONS.pop(id(spark), None)
    return released


def _dispose(value: object) -> None:
    if isinstance(value, tuple):
        for v in value:
            _dispose(v)
    elif isinstance(value, DataFrame):
        try:
            value.unpersist(False)
        except Exception:  # session already stopped: JVM cache is gone
            pass
    elif isinstance(value, tempfile.TemporaryDirectory):
        value.cleanup()
