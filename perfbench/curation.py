"""The ``curation`` workload: the LLM-data operators added on top of the
index — a WARC → main text → near-duplicate clusters → keep-list
batch, then vector top-k serving over the ANN stores.

Why this workload: it is the only one that runs ``operators.html_extract``,
``operators.dedup``, ``operators.cc``, ``sinks.ann_index`` and
``operators.graph_ann``; it shares ``sources.warc`` with ``archive``
and nothing else, so a change to the index read path predicts no change
here and a change to the ANN stores none on ``archive``.

Traffic dimensions and why:

* the HTML corpus plants exact copies (10%), near-duplicates with ~2.5%
  of words edited (15%) and boilerplate-only pages (7%): these are
  what a keep list must drop, and the MinHash band self-join is a
  shuffle shape unlike ingest's range sort;
* vectors are 64-d in 8 Gaussian clusters, with an integer ``label``
  attribute tied to the cluster (as language or topic is in real
  corpora), so a filtered request can find few or no matching rows
  in the cells it probes;
* one client sends single top-k requests in a fixed cycle over IVF
  flat, IVF-SQ8, IVF-PQ with flat refine (twice the others' share) and
  the graph store, three in ten filtered with ``where``; after every
  two passes of that cycle, four rounds of two batches of 8 queries, one through the
  flat and one through the PQ-refined batch path (the exact and the
  compressed end).
"""

from __future__ import annotations

import os
import random
import statistics
import time

from . import gen
from .archive import _dir_bytes

N_DOCS = 200
DOC_FILES = 8
N_VECTORS = 1500
DIM = 64
N_CLUSTERS = 8
N_CELLS = 8
N_QUERIES = 400
GRAPH_BASE = 250  # the graph store indexes ids < GRAPH_BASE
K = 10
NPROBE = 4
BATCH_SIZE = 8
CODECS = ("flat", "sq8", "pq", "graph")
#: one cycle of single requests: (store, filtered).  PQ with refine
#: (the compressed store a large deployment serves from) has twice the
#: others' share; three requests in ten are filtered with ``where``.
SINGLE_CYCLE = (
    ("flat", False), ("pq", False), ("sq8", False), ("pq", False), ("graph", False),
    ("flat", True), ("pq", False), ("sq8", True), ("pq", True), ("graph", False),
)
BATCH_CODECS = ("flat", "pq")
#: a window cycle: SINGLE_CYCLE twice (the latencies fall in clusters
#: by store; with 20 samples their median is not at a cluster's edge),
#: and ROUNDS_PER_CYCLE batch rounds spread evenly among them (a run's
#: batch rate is their median, sampled over the whole window)
SINGLE_PASSES = 2
ROUNDS_PER_CYCLE = 4


class Inputs:
    """Everything the workload feeds the program, written to disk
    before the JVM starts, with the answers it must give."""

    def __init__(self, root: str, seed: int):
        import numpy as np
        import pandas as pd

        rng = random.Random(seed)
        self.docs = gen.curate_corpus(rng, N_DOCS)
        self.manifest = gen.write_warcs(
            os.path.join(root, "html"), self.docs.records, DOC_FILES, "html"
        )
        self.docs.records = []  # on disk now
        x, attr, q = gen.vectors(seed, N_VECTORS, DIM, N_CLUSTERS, N_QUERIES)
        self.attr, self.q = attr, q
        self.vec_path = os.path.abspath(os.path.join(root, "vectors.parquet"))
        pd.DataFrame({
            "vec_id": np.arange(N_VECTORS, dtype=np.int64),
            "embedding": list(x.astype(np.float64)),
            "label": attr,
        }).to_parquet(self.vec_path, index=False)
        # the request plan: (store, label filter or None, query row)
        self.singles = []
        for i in range(N_QUERIES):
            codec, filtered = SINGLE_CYCLE[i % len(SINGLE_CYCLE)]
            self.singles.append((codec, rng.randrange(4) if filtered else None, i))
        self.batches = [[rng.randrange(N_QUERIES) for _ in range(BATCH_SIZE)]
                        for _ in range(len(BATCH_CODECS) * ROUNDS_PER_CYCLE * N_QUERIES
                                       // (SINGLE_PASSES * len(SINGLE_CYCLE)))]
        # exact top-10 over each store's base (the graph store indexes
        # ids < GRAPH_BASE), and every query-to-vector cosine
        self.truth = {}
        for name, mask in (("all", None), ("graph", np.arange(N_VECTORS) < GRAPH_BASE)):
            self.truth[name], self.truth[name + "_sims"] = gen.brute_topk(x, q, K, mask)


# ---------------------------------------------------------------------------
# curation batch (ingest side)
# ---------------------------------------------------------------------------


def curate(spark, tr, manifest: str, out: str) -> dict:
    """WARC → main text → MinHash-LSH pairs → connected components →
    keep list (one document per cluster).  Each step is materialized
    to parquet under ``out`` so its cost is attributable."""
    from pyspark.sql import functions as F

    from webarchive_indexing_spark.operators.cc import connected_components
    from webarchive_indexing_spark.operators.dedup import minhash_lsh_pairs
    from webarchive_indexing_spark.operators.html_extract import extract_main_content
    from webarchive_indexing_spark.sources.warc import index_warcs

    docs_p, pairs_p, keep_p = (os.path.join(out, n) for n in ("docs", "pairs", "keep"))
    steps = {}
    t0 = time.perf_counter()
    with tr.span("html_extract.extract"):
        m = spark.read.text(manifest).select(F.col("value").alias("path"))
        cdx = index_warcs(spark, m, keep_payload=("text/html",))
        (
            extract_main_content(cdx, keys=("url",))
            .select(F.xxhash64("url").alias("doc_id"), "url", "status", "main_text")
            .write.mode("overwrite").parquet(docs_p)
        )
    steps["extract"] = time.perf_counter() - t0
    with tr.span("dedup.lsh"):
        docs = spark.read.parquet(docs_p).filter(F.col("status") == "ok")
        minhash_lsh_pairs(docs, id_col="doc_id", text_col="main_text").write.mode(
            "overwrite"
        ).parquet(pairs_p)
    steps["lsh"] = time.perf_counter() - t0 - steps["extract"]
    with tr.span("cc.components"):
        comps = connected_components(
            spark.read.parquet(pairs_p), "a_id", "b_id",
            nodes=spark.read.parquet(docs_p)
            .filter(F.col("status") == "ok")
            .select(F.col("doc_id").alias("node")),
        )
        comps.write.mode("overwrite").parquet(os.path.join(out, "comps"))
        (
            spark.read.parquet(os.path.join(out, "comps"))
            .filter(F.col("node") == F.col("comp"))
            .join(spark.read.parquet(docs_p).select(F.col("doc_id").alias("node"), "url"), "node")
            .select("url")
            .write.mode("overwrite").text(keep_p)
        )
    t = time.perf_counter() - t0
    steps["cc"] = t - steps["extract"] - steps["lsh"]
    return {"t": t, "out": out, "steps": {k: round(v, 3) for k, v in steps.items()}}


def check_curate(spark, inp: Inputs, res: dict) -> tuple[list[str], dict]:
    """Boilerplate pages must extract empty and every other page ok;
    every planted exact copy must share its source's cluster; no two
    distinct articles may share one; the keep list holds exactly one
    url per cluster.  Returns (mismatches, counts)."""
    out = res["out"]
    d = inp.docs
    docs = spark.read.parquet(os.path.join(out, "docs")).select("doc_id", "url", "status").collect()
    url_of = {r["doc_id"]: r["url"] for r in docs}
    status = {r["url"]: r["status"] for r in docs}
    comp = {
        url_of[r["node"]]: r["comp"]
        for r in spark.read.parquet(os.path.join(out, "comps")).collect()
    }
    keep = [r["value"] for r in spark.read.text(os.path.join(out, "keep")).collect()]
    n_pairs = spark.read.parquet(os.path.join(out, "pairs")).count()
    bad = []
    if len(status) != d.n_docs:
        bad.append(f"{len(status)} documents extracted, expected {d.n_docs}")
    for u, s in status.items():
        want = "empty" if u in d.boilerplate_urls else "ok"
        if s != want:
            bad.append(f"{u} extracted {s}, expected {want}")
    for a, b in d.exact_dup_pairs:
        if comp.get(a) is None or comp.get(a) != comp.get(b):
            bad.append(f"exact copy {b} not clustered with {a}")
    seen: dict = {}
    for u in d.originals:
        c = comp.get(u)
        if c in seen:
            bad.append(f"distinct articles {seen[c]} and {u} share a cluster")
        seen[c] = u
    n_clusters = len(set(comp.values()))
    doc_id = {u: i for i, u in url_of.items()}
    if len(keep) != n_clusters or any(comp.get(u) != doc_id.get(u) for u in keep):
        bad.append(f"keep list has {len(keep)} urls for {n_clusters} clusters")
    found = sum(1 for a, b in d.near_dup_pairs if comp.get(a) is not None and comp.get(a) == comp.get(b))
    counts = {
        "near_dup_recall": found / max(1, len(d.near_dup_pairs)),
        "docs_kept_ratio": len(keep) / d.n_docs,
        "lsh_pairs_out": n_pairs,
    }
    return bad, counts


# ---------------------------------------------------------------------------
# vector stores and serving
# ---------------------------------------------------------------------------


def build_stores(spark, tr, vec_path: str, out: str, graph_base: int) -> dict:
    from webarchive_indexing_spark.operators.graph_ann import write_knn_graph
    from webarchive_indexing_spark.sinks.ann_index import (
        write_ivf_index,
        write_ivfpq_index,
        write_ivfsq_index,
    )

    emb = spark.read.parquet(vec_path)
    paths = {c: os.path.join(out, c) for c in CODECS}
    builds = {
        "flat": ("ann_index.write.flat", lambda p: write_ivf_index(
            emb, p, n_cents=N_CELLS, train_iters=2, dim=DIM)),
        "sq8": ("ann_index.write.sq8", lambda p: write_ivfsq_index(
            emb, p, n_cents=N_CELLS, train_iters=2, dim=DIM, attrs=["label"])),
        "pq": ("ann_index.write.pq", lambda p: write_ivfpq_index(
            emb, p, n_cells=N_CELLS, n_sub=4, k_codes=8, train_iters=2,
            dim=DIM, refine="flat", attrs=["label"])),
        "graph": ("graph_ann.write", lambda p: write_knn_graph(
            emb, p, k_neighbors=12, n_base=graph_base, attrs=("label",))),
    }
    each = {}
    for codec, (span, build) in builds.items():
        t0 = time.perf_counter()
        with tr.span(span):
            build(paths[codec])
        each[codec] = round(time.perf_counter() - t0, 2)
    return {"t": sum(each.values()), "paths": paths, "each": each}


def _probe(spark, paths, codec, qv, where):
    from webarchive_indexing_spark.operators.graph_ann import graph_beam_topk
    from webarchive_indexing_spark.sinks.ann_index import (
        ivf_index_probe_topk,
        ivfpq_refined_topk,
        ivfsq_index_probe_topk,
    )

    if codec == "flat":
        return ivf_index_probe_topk(spark, paths[codec], qv, k=K, nprobe=NPROBE, where=where)
    if codec == "sq8":
        return ivfsq_index_probe_topk(spark, paths[codec], qv, k=K, nprobe=NPROBE, where=where)
    if codec == "pq":
        return ivfpq_refined_topk(spark, paths[codec], None, qv, k=K, nprobe=NPROBE, where=where)
    return graph_beam_topk(spark, paths[codec], qv, k=K, where=where)


def _batch(spark, paths, codec, qvs):
    from webarchive_indexing_spark.sinks.ann_index import (
        ivf_index_probe_batch_topk,
        ivfpq_refined_batch_topk,
    )

    if codec == "flat":
        return ivf_index_probe_batch_topk(spark, paths[codec], qvs, k=K, nprobe=NPROBE)
    return ivfpq_refined_batch_topk(spark, paths[codec], qvs, k=K, nprobe=NPROBE)


def check_topk(inp: Inputs, codec: str, qi: int, label, rows) -> tuple[list[str], float | None]:
    """Exact checks on one top-k answer, and its recall@10 against
    brute force (None for filtered requests).  Ids must be distinct,
    inside the store's base and the filter; scores must be the exact
    cosine (SQ8: the dequantized one, within quantization error) and
    ranked best first."""
    import numpy as np

    n_base = GRAPH_BASE if codec == "graph" else N_VECTORS
    sims = inp.truth["graph_sims" if codec == "graph" else "all_sims"][qi]
    bad = []
    ids = [int(r[0]) for r in rows]
    scores = [float(r[1]) for r in rows]
    if len(ids) > K or len(set(ids)) != len(ids):
        bad.append(f"{codec} q{qi}: {len(ids)} ids, {len(set(ids))} distinct")
    tol = 0.02 if codec == "sq8" else 2e-6
    for i, s in zip(ids, scores):
        if not 0 <= i < n_base:
            bad.append(f"{codec} q{qi}: id {i} outside the store")
            continue
        if label is not None and int(inp.attr[i]) != label:
            bad.append(f"{codec} q{qi}: id {i} fails label = {label}")
        if abs(float(np.round(sims[i], 6)) - s) > tol:
            bad.append(f"{codec} q{qi}: id {i} score {s} vs exact {sims[i]:.6f}")
    if any(a < b for a, b in zip(scores, scores[1:])):
        bad.append(f"{codec} q{qi}: scores not ranked")
    if codec == "flat" and label is None and len(ids) != K:
        bad.append(f"flat q{qi}: {len(ids)} rows, expected {K}")
    recall = None
    if label is None:
        truth = inp.truth["graph" if codec == "graph" else "all"][qi]
        recall = len(set(ids) & set(truth)) / K
    return bad, recall


class Server:
    """The closed-loop client: one top-k request at a time, checked
    before the next is sent."""

    def __init__(self, spark, tr, inp: Inputs, paths: dict):
        self.spark, self.tr, self.inp, self.paths = spark, tr, inp, paths
        self.s = {"lat_ms": [], "batch_rates": [], "batch_q": 0, "attempted": 0,
                  "failed": 0, "bad": [], "recall": [], "errors": {},
                  "by_codec": {}, "recall_by_codec": {}}

    def _qv(self, i: int) -> list[float]:
        return [float(v) for v in self.inp.q[i]]

    def _error(self, key: str, timed: bool) -> None:
        self.s["failed"] += timed
        self.s["errors"][key] = self.s["errors"].get(key, 0) + 1

    def single(self, codec: str, label, qi: int, timed: bool = True) -> None:
        s = self.s
        where = None if label is None else f"label = {label}"
        s["attempted"] += timed
        t0 = time.perf_counter()
        try:
            with self.tr.span("graph_ann.walk" if codec == "graph"
                              else f"ann_index.probe.{codec}"):
                rows = _probe(self.spark, self.paths, codec, self._qv(qi), where).collect()
        except Exception as e:  # noqa: BLE001 - a failed request is counted
            self._error(f"{codec}{'+where' if where else ''}: {type(e).__name__}", timed)
            return
        dt = (time.perf_counter() - t0) * 1e3
        bad, rec = check_topk(self.inp, codec, qi, label,
                              [(r["vec_id"], r["cos_sim"]) for r in rows])
        s["failed"] += timed and bool(bad)
        s["bad"].extend(bad)
        if timed:
            s["lat_ms"].append(dt)
            s["by_codec"].setdefault(codec + ("+where" if where else ""), []).append(dt)
            if rec is not None:
                s["recall"].append(rec)
                s["recall_by_codec"].setdefault(codec, []).append(rec)

    def batch_round(self, rounds: list[list[int]], timed: bool = True) -> None:
        """One batch per ``BATCH_CODECS`` store, back to back; the round's
        rate is its queries over its wall time (no rate when a batch
        raised)."""
        s = self.s
        t0 = time.perf_counter()
        recs, raised = [], False
        for codec, qis in zip(BATCH_CODECS, rounds):
            s["attempted"] += timed
            try:
                with self.tr.span("ann_index.batch"):
                    got = _batch(self.spark, self.paths, codec,
                                 [self._qv(i) for i in qis]).collect()
            except Exception as e:  # noqa: BLE001 - a failed request is counted
                self._error(f"{codec} batch: {type(e).__name__}", timed)
                raised = True
                continue
            per: dict[int, list] = {}
            for r in got:
                per.setdefault(int(r["request_no"]), []).append((r["vec_id"], r["cos_sim"]))
            bad_batch = False
            for n, qi in enumerate(qis):
                rows = sorted(per.get(n, []), key=lambda t: (-t[1], t[0]))
                bad, rec = check_topk(self.inp, codec, qi, None, rows)
                s["bad"].extend(bad)
                bad_batch = bad_batch or bool(bad)
                recs.append(rec)
            s["failed"] += timed and bad_batch
        dt = time.perf_counter() - t0
        if not timed:
            return
        s["recall"].extend(recs)
        if not raised:
            s["batch_rates"].append(sum(len(q) for q in rounds) / dt)
            s["batch_q"] += sum(len(q) for q in rounds)

    def warm_up(self) -> None:
        """Untimed: one request per store and one batch round."""
        for codec in CODECS:
            self.single(codec, None, 0, timed=False)
        self.batch_round([[1, 2], [3, 4]], timed=False)

    def window(self, seconds: float, passes: int, rounds: int) -> None:
        """Whole cycles (``passes`` times the singles of
        ``SINGLE_CYCLE``, and ``rounds`` batch rounds spread evenly
        among them, the last after the last single), at least one,
        until ``seconds`` have passed, so every run's sample has the
        same mix."""
        deadline = time.perf_counter() + seconds
        n = passes * len(SINGLE_CYCLE)
        k = len(BATCH_CODECS)
        for c in range(len(self.inp.singles) // n):
            r = 0
            for p, (codec, label, qi) in enumerate(self.inp.singles[c * n:(c + 1) * n]):
                self.single(codec, label, qi)
                while r < (p + 1) * rounds // n:
                    b = c * rounds + r
                    self.batch_round(self.inp.batches[k * b:k * (b + 1)])
                    r += 1
            if time.perf_counter() >= deadline:
                break


def run(spark, tr, inp: Inputs, work: str, seconds: float, traced: bool,
        light: bool = False) -> dict:
    """Curate, build the stores, check, then serve for ``seconds``;
    ``light`` cycles send one pass of singles and one batch round."""
    # the batch pipeline and the store builds run once, as production
    # batch jobs do, so their first-use costs are part of what they cost
    cur = curate(spark, tr, inp.manifest, os.path.join(work, "cur"))
    st = build_stores(spark, tr, inp.vec_path, os.path.join(work, "ann"), GRAPH_BASE)
    bad, cc = check_curate(spark, inp, cur)
    spark.catalog.clearCache()
    srv = Server(spark, tr, inp, st["paths"])
    if not traced:
        srv.warm_up()
    if light:
        srv.window(seconds, 1, 1)
    else:
        srv.window(seconds, SINGLE_PASSES, ROUNDS_PER_CYCLE)
    s = srv.s
    bad += s["bad"]
    out = {
        "e2e": {
            "ingest_records_per_s": inp.docs.n_docs / cur["t"],
            "index_records_per_s": N_VECTORS / st["t"],
            "bytes_per_record": _dir_bytes(os.path.join(work, "ann")) / N_VECTORS,
            "lookup_samples": s["lat_ms"],
            "batch_lookups_per_s": statistics.median(s["batch_rates"] or [0.0]),
            "recall": statistics.mean(s["recall"]) if s["recall"] else 0.0,
        },
        "report": {
            "curate_docs_per_s": inp.docs.n_docs / cur["t"],
            "curate_steps_s": cur["steps"],
            "near_dup_recall": cc["near_dup_recall"],
            "docs_kept_ratio": cc["docs_kept_ratio"],
            "ann_build_vectors_per_s": N_VECTORS / st["t"],
            "ann_build_s": st["each"],
            "ann_batch_queries": s["batch_q"],
            "ann_batch_rates": [round(r, 2) for r in s["batch_rates"]],
            "ann_recall_at_10": statistics.mean(s["recall"]) if s["recall"] else 0.0,
            "ann_recall_samples": len(s["recall"]),
            "ann_p50_ms_by_request": {k: round(statistics.median(v), 1)
                                      for k, v in s["by_codec"].items()},
            "single_recall_by_codec": {k: round(statistics.mean(v), 3)
                                       for k, v in s["recall_by_codec"].items()},
            "failures_by_kind": s["errors"],
            "docs": inp.docs.n_docs, "vectors": N_VECTORS,
        },
        "attempted": s["attempted"], "failed": s["failed"], "bad": bad, "counts": {},
    }
    if traced:
        out["counts"]["cc.components.docs_kept_ratio"] = cc["docs_kept_ratio"]
        out["counts"]["dedup.lsh.lsh_pairs_out"] = cc["lsh_pairs_out"]
    return out
