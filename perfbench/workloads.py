"""The benchmark's workloads: inputs, one measured cycle, and the output
checks, all from outside the program.

Each workload has a ``prepare`` step (generate inputs from the seed)
and a ``cycle`` that calls the package's public functions one at a time
through ``Tracer.call``, which times every call and records it as a
span for the event-log attribution.  Checks are independent of the
program: they read what it wrote or returned and
compare it with what the generator knows (adjacency, planted pairs, the
raw vectors), and they run outside the timed calls.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

import gen

# Sizes.
COLOR_VERTICES = 20_000
COLOR_AVG_DEGREE = 10
CORPUS_DOCS = 1_000
GATE_SLICES = 2  # arrival slices through the near-dup gate
VECTORS = 4_000
VECTOR_SLICES = 1  # arrival slices after the 3/4 base
TOP_K = 5
N_PROBES = 20  # the serve's probes are vec_id < 20 (operators/similarity.py)
# Quality floors.  On every seed tried the gate rejected every planted
# near-duplicate and the serve's recall@5 was 0.66-0.83; a broken gate,
# quantizer or ingest falls far below these.
GATE_RECALL_FLOOR = 0.95
RECALL_AT_5_FLOOR = 0.5


@dataclass
class Span:
    layer: str
    name: str
    start_ms: float
    end_ms: float


@dataclass
class Tracer:
    """Times each call into a layer and keeps it as a span.  Calls are
    made one at a time from this thread, so spans never overlap."""

    spans: list[Span] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        self.attempted += 1
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            self.spans.append(Span(layer, name, t0 * 1e3, time.time() * 1e3))

    def check(self, name: str, passed: bool, detail: str = "") -> bool:
        """An output check counts as an attempted operation."""
        self.attempted += 1
        if not passed:
            self.failed += 1
            self.errors.append(f"check {name} failed {detail}".strip())
        return passed

    def elapsed(self, first: int) -> float:
        """Seconds spent inside the calls recorded from span ``first`` on:
        the program's time, without the benchmark's own work between
        calls."""
        return sum(s.end_ms - s.start_ms for s in self.spans[first:]) / 1e3


def _dir_files(path: str) -> list[str]:
    """Data files under ``path``, skipping hidden and underscore files
    (Spark's markers, the index sidecar and checkpoints)."""
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [os.path.join(d, f) for f in files if not f.startswith(("_", "."))]
    return out


def _bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _dir_files(path))


def release(spark, tr: Tracer) -> None:
    from distributed_graph_coloring_with_pyspark_spark.session import release_session_caches

    tr.call("session", "release_session_caches", release_session_caches, spark)


# --- color ---------------------------------------------------------------


def prepare_color(rng, root: str) -> dict:
    g = gen.write_graph_json(rng, COLOR_VERTICES, COLOR_AVG_DEGREE, os.path.join(root, "graph.json"))
    sizes = {
        "vertices": g.n,
        "edges": g.n_edges,
        "graph_json_bytes": os.path.getsize(g.path),
        "first_fit_colors": g.first_fit_colors(),
    }
    return {"graph": g, "sizes": sizes}


def _read_coloring(out_dir: str, n: int) -> np.ndarray:
    colors = np.full(n, -2, dtype=np.int64)
    for f in glob.glob(os.path.join(out_dir, "part-*")):
        opener = gzip.open if f.endswith(".gz") else open
        with opener(f, "rt") as fh:
            for line in fh:
                r = json.loads(line)
                colors[r["id"]] = r["color"]
    return colors


def color_cycle(spark, tr: Tracer, inputs: dict, work: str) -> dict:
    """read_graph_json -> minimal_coloring -> validate_coloring ->
    write_coloring_jsonl, then check the written file with numpy."""
    from distributed_graph_coloring_with_pyspark_spark.operators.coloring import (
        minimal_coloring,
        validate_coloring,
    )
    from distributed_graph_coloring_with_pyspark_spark.sources.graph_json import (
        read_graph_json,
        write_coloring_jsonl,
    )

    g = inputs["graph"]
    out_dir = os.path.join(work, "coloring")
    n0 = len(tr.spans)
    read = tr.call("sources.graph_json", "read_graph_json", read_graph_json, spark, g.path)
    if read is None:
        return {}
    nodes, edges = read
    res = tr.call("operators.coloring", "minimal_coloring", minimal_coloring, nodes, edges)
    if res is None:
        return {}
    valid = tr.call("operators.coloring", "validate_coloring", validate_coloring, res.vertices, edges)
    tr.call("sources.graph_json", "write_coloring_jsonl", write_coloring_jsonl, res.vertices, out_dir)
    color_s = tr.elapsed(n0)

    colors = _read_coloring(out_dir, g.n)
    complete = bool((colors >= 0).all())
    proper = bool((colors[g.src] != colors[g.dst]).all())
    n_used = int(colors.max()) + 1 if complete else -1
    first_fit = inputs["sizes"]["first_fit_colors"]
    tr.check("coloring_complete", complete, f"{int((colors < 0).sum())} uncolored")
    tr.check("coloring_proper", proper, f"{int((colors[g.src] == colors[g.dst]).sum())} conflicts")
    tr.check("colors_used_matches", n_used == res.minimal_colors, f"{n_used} vs {res.minimal_colors}")
    tr.check(
        "colors_within_first_fit",
        0 < res.minimal_colors <= first_fit,
        f"{res.minimal_colors} colors, sequential first-fit uses {first_fit}",
    )
    tr.check("validate_coloring_agrees", bool(valid and valid[0]), str(valid))
    return {
        "color_s": color_s,
        "colors_used": res.minimal_colors,
        "rounds": sum(r for _, _, r in res.attempts),
        "attempts": len(res.attempts),
    }


# --- corpus --------------------------------------------------------------


def prepare_corpus(rng, root: str) -> dict:
    c = gen.write_corpus(rng, CORPUS_DOCS, os.path.join(root, "corpus"))
    vd = os.path.join(root, "vectors")
    vecs = gen.write_vectors(rng, VECTORS, vd)
    sizes = {
        "docs": CORPUS_DOCS,
        "embeddings": c.n_embeddings,
        "planted_near_dups": len(c.planted),
        "planted_share": len(c.planted) / CORPUS_DOCS,
        "corpus_bytes": _bytes(c.sf_dir),
        "vectors": VECTORS,
        "dim": gen.DIM,
        "vectors_bytes": _bytes(vd),
    }
    return {"corpus": c, "vectors": (vd, vecs), "sizes": sizes}


def _slice_bounds(n: int, slices: int) -> list[tuple[int, int]]:
    return [(i * n // slices, (i + 1) * n // slices) for i in range(slices)]


def corpus_cycle(spark, tr: Tracer, inputs: dict, work: str) -> dict:
    """Arrival slices through ``streaming_neardup_gate`` (same state and
    checkpoint each call); the curation funnel with cleared memos; then
    the vector index: a base build on 3/4 of the vectors, the rest
    streamed in as arrival slices, each epoch followed by an indexed
    top-5 serve, checked against a numpy brute force over every vector."""
    from distributed_graph_coloring_with_pyspark_spark.operators.curation import (
        curation_pipeline_e2e,
    )

    c = inputs["corpus"]
    out = _gate(spark, tr, c, os.path.join(work, "gate"), GATE_SLICES)

    release(spark, tr)
    n0 = len(tr.spans)
    manifest = tr.call("operators.curation", "curation_pipeline_e2e", lambda: curation_pipeline_e2e(spark, c.sf_dir).collect())
    out["curate_s"] = tr.elapsed(n0)
    if manifest is not None:
        _check_manifest(tr, c, manifest)

    vecs_out, top = _vector_index(spark, tr, inputs, os.path.join(work, "vectors"))
    out.update(vecs_out)
    _, vecs = inputs["vectors"]
    if top is not None:
        truth = brute_force_topk(vecs, np.arange(len(vecs)))
        got: dict[int, set[int]] = {}
        for r in top:
            got.setdefault(r.probe_id, set()).add(r.neighbor_id)
        tr.check("serve_returns_k_per_probe", all(len(got.get(p, ())) == TOP_K for p in truth), "")
        recall = sum(len(got.get(p, set()) & t) for p, t in truth.items()) / (TOP_K * N_PROBES)
        tr.check("recall_at_5_floor", recall >= RECALL_AT_5_FLOOR, f"{recall} < {RECALL_AT_5_FLOOR}")
        out["recall_at_5"] = recall
    return out


def _gate(spark, tr: Tracer, c: gen.Corpus, work: str, slices: int) -> dict:
    """Arrival slices through ``streaming_neardup_gate``, one call per
    slice with the same state and checkpoint directories."""
    from distributed_graph_coloring_with_pyspark_spark.streaming.ingest import (
        streaming_neardup_gate,
    )

    src, state, ckpt = (os.path.join(work, d) for d in ("src", "state", "ckpt"))
    os.makedirs(src)
    out: dict = {"gate_epoch_s": []}
    rows = None
    for i, (lo, hi) in enumerate(_slice_bounds(len(c.texts), slices)):
        gen.write_parquet_slice(
            pa.table({"doc_id": pa.array(np.arange(lo, hi), pa.int64()), "text": c.texts[lo:hi]}),
            os.path.join(src, f"slice{i}.parquet"),
        )
        n0 = len(tr.spans)
        rows = tr.call("streaming.ingest", "streaming_neardup_gate",
                       lambda: streaming_neardup_gate(spark, src, state, ckpt).collect())
        out["gate_epoch_s"].append(tr.elapsed(n0))
    out["state_bytes"] = _bytes(state)
    if rows is not None:
        out["gate_dup_recall"] = _check_gate(tr, c, rows)
    return out


PACK_LEN = 512  # the funnel packs its kept token stream into 512-token
FUNNEL_SHARDS = 8  # sequences, sharded by seq_id mod 8 (operators/curation.py)


def _check_manifest(tr: Tracer, c: gen.Corpus, manifest) -> None:
    """The packed-sequence manifest must cut one token stream into full
    512-token sequences (the last may be short), numbered from 0 and
    sharded by seq_id, holding no more tokens than the corpus has."""
    rows = sorted(manifest, key=lambda r: r.seq_id)
    n = len(rows)
    sizes = [r.n_tokens for r in rows]
    corpus_tokens = sum(len(t.split(" ")) for t in c.texts)
    tr.check("manifest_nonempty", n > 0, "")
    tr.check("manifest_seq_ids", [r.seq_id for r in rows] == list(range(n)), "")
    tr.check("manifest_shards", all(r.shard == r.seq_id % FUNNEL_SHARDS for r in rows), "")
    tr.check(
        "manifest_packing",
        all(s == PACK_LEN for s in sizes[:-1]) and 0 < sizes[-1] <= PACK_LEN if n else False,
        str(sizes),
    )
    tr.check("manifest_tokens_from_corpus", sum(sizes) <= corpus_tokens, f"{sum(sizes)} > {corpus_tokens}")
    tr.check("manifest_docs", all(0 <= r.n_full_docs <= r.n_docs for r in rows), "")


def _check_gate(tr: Tracer, c: gen.Corpus, rows) -> float:
    """Every rejection must be a true near-duplicate of the document it
    names (the benchmark's own 3-gram Jaccard), and the gate must reject
    at least ``GATE_RECALL_FLOOR`` of the planted near-duplicates.
    Returns that recall."""
    tr.check("gate_decides_every_doc", len(rows) == len(c.texts), f"{len(rows)} of {len(c.texts)}")
    sh = {}

    def shingle(i: int) -> set[str]:
        if i not in sh:
            sh[i] = gen.shingles(c.texts[i].split(" "))
        return sh[i]

    rejected = [r for r in rows if r.verdict != "novel"]
    bad = [
        (r.doc_id, r.matched_doc)
        for r in rejected
        if r.matched_doc is None
        or gen.jaccard(shingle(r.doc_id), shingle(r.matched_doc)) < gen.JACCARD_THRESHOLD
    ]
    tr.check("gate_rejections_are_near_dups", not bad, f"{len(bad)} pairs, e.g. {bad[:3]}")
    rejected_ids = {r.doc_id for r in rejected}
    hit = sum(1 for d in c.planted if d in rejected_ids)
    recall = hit / len(c.planted) if c.planted else 1.0
    tr.check("gate_dup_recall_floor", recall >= GATE_RECALL_FLOOR, f"{recall} < {GATE_RECALL_FLOOR}")
    return recall


# --- the corpus's vector index -------------------------------------------


def brute_force_topk(vecs: np.ndarray, indexed: np.ndarray) -> dict[int, set[int]]:
    """Exact cosine top-k of each probe over the indexed vectors,
    excluding the probe itself (the serve's contract)."""
    x = vecs.astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out = {}
    for p in range(N_PROBES):
        cand = indexed[indexed != p]
        sims = x[cand] @ x[p]
        order = np.lexsort((cand, -np.round(sims, 6)))
        out[p] = set(cand[order[:TOP_K]].tolist())
    return out


def _vector_index(spark, tr: Tracer, inputs: dict, work: str):
    """The base build on the first 3/4 of the vectors, then for each
    arrival slice of the rest one ingest epoch (its report must count
    the slice) and one indexed top-5 serve.  Returns the samples and the
    last serve's rows (None if a call failed)."""
    from pyspark.sql import functions as F

    from distributed_graph_coloring_with_pyspark_spark.operators.similarity import (
        ann_ivfpq_topk_indexed,
    )
    from distributed_graph_coloring_with_pyspark_spark.sources.tables import load_table
    from distributed_graph_coloring_with_pyspark_spark.streaming.vector_ingest import (
        build_streaming_ivfpq_base,
        streaming_vector_index_ingest,
    )

    sf_dir, vecs = inputs["vectors"]
    n_base = len(vecs) * 3 // 4
    src, idx, ckpt = (os.path.join(work, d) for d in ("src", "index", "ckpt"))
    os.makedirs(src)
    out: dict = {"ingest_epoch_s": [], "serve_s": [], "files_per_epoch": []}

    def build():
        rows = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        return build_streaming_ivfpq_base(spark, sf_dir, idx, rows.filter(F.col("vec_id") < n_base))

    n0 = len(tr.spans)
    if tr.call("streaming.vector_ingest", "build_streaming_ivfpq_base", build) is None:
        return out, None
    out["index_build_s"] = tr.elapsed(n0)
    top = None
    for i, (lo, hi) in enumerate(_slice_bounds(len(vecs) - n_base, VECTOR_SLICES)):
        lo, hi = lo + n_base, hi + n_base
        gen.write_parquet_slice(
            pa.table(
                {
                    "vec_id": pa.array(np.arange(lo, hi), pa.int64()),
                    "embedding": pa.array(list(vecs[lo:hi]), pa.list_(pa.float32())),
                }
            ),
            os.path.join(src, f"slice{i}.parquet"),
        )
        before = len(_dir_files(idx))
        n0 = len(tr.spans)
        report = tr.call("streaming.vector_ingest", "streaming_vector_index_ingest",
                         lambda: streaming_vector_index_ingest(spark, src, idx, ckpt).collect())
        out["ingest_epoch_s"].append(tr.elapsed(n0))
        out["files_per_epoch"].append(len(_dir_files(idx)) - before)
        if report is not None:
            landed = sum(r.n_vectors for r in report if r.epoch == i)
            tr.check("ingest_epoch_counts_its_slice", landed == hi - lo, f"epoch {i}: {landed} of {hi - lo}")
        n0 = len(tr.spans)
        top = tr.call("operators.similarity", "ann_ivfpq_topk_indexed",
                      lambda: ann_ivfpq_topk_indexed(spark, sf_dir, idx).collect())
        out["serve_s"].append(tr.elapsed(n0))
    out["index_files"] = len(_dir_files(idx))
    return out, top
