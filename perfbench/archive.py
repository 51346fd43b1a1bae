"""The ``archive`` workload: crawl ingest (write path), then pywb-style
cdx-server reads (read path) over what was ingested.

Why this workload: it is where ``sources.warc``, ``functions.surt`` and
the ``sinks.*`` writers do their work, and it reads ``sinks.zipnum``
back through ``operators.cdx_query`` from the same cluster, so a change
that trades write cost against read cost (compaction policy, block
size) shows on both sides of one run.

Traffic dimensions and why:

* hosts follow a Zipf law (s=1.1): real crawls are dominated by a few
  large sites, so prefix and domain requests span many blocks while
  most exact requests touch one;
* a share of recaptures are revisit records: deduplicating crawlers
  write them, and they index with their own mime;
* HTML payload sizes are log-normal: parse and digest cost scale with
  the payload;
* the cluster is written with few lines per block, so ``cluster.idx``
  holds about two thousand blocks and index pruning is real work;
* the epoch store holds one compacted epoch plus a fresh one, so epoch
  reads pay the read amplification that compaction bounds;
* one client sends a fixed cycle of request kinds (``gen.SINGLE_CYCLE``:
  exact hits and misses, prefix, domain, closest+limit,
  collapse+filter, fuzzy, resume_key paging) with two requests to
  ``cdx_query_epochs`` among them, and six batches of 32 exact and
  prefix requests through ``cdx_query_batch_zipnum`` spread evenly
  among them; URLs are drawn by host popularity, so batch members
  overlap in blocks.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from . import gen, trace

CORPUS_RECORDS = 12000
CORPUS_FILES = 16
EPOCH_RECORDS = 1500
EPOCH_BATCHES = 3  # two, a compaction, then one more
NUMLINES = 6  # lines per ZipNum block: ~2000 blocks in cluster.idx
SHARDS = 4
BATCH_SIZE = 32
#: a run's batch rate is the median of this many batches, sent one
#: after every two single requests so that they sample the whole
#: window, not a few seconds of it
BATCHES_PER_CYCLE = 6
WARM_FILES = 4  # the untimed warm-up build reads this many WARC files
EPOCH_AFTER = (3, 7)  # an epoch request after these singles of a cycle


class Inputs:
    """Everything the workload feeds the program, written to disk
    before the JVM starts, with the answers it must give."""

    def __init__(self, root: str, seed: int):
        rng = random.Random(seed)
        space = gen.UrlSpace(rng, n_hosts=300, zipf_s=1.1)
        self.corpus = gen.crawl(rng, space, CORPUS_RECORDS, revisit_share=0.3)
        self.manifest = gen.write_warcs(
            os.path.join(root, "warc"), self.corpus.records, CORPUS_FILES, "crawl"
        )
        self.warm_manifest = os.path.join(root, "warm.manifest")
        with open(self.manifest) as src, open(self.warm_manifest, "w") as dst:
            dst.writelines(src.readlines()[:WARM_FILES])
        self.batches = []
        self.epoch_corpus = gen.Corpus()
        self.compacted_records = 0
        for b in range(EPOCH_BATCHES):
            c = gen.crawl(rng, space, EPOCH_RECORDS, revisit_share=0.3)
            self.batches.append(
                gen.write_warcs(os.path.join(root, f"batch{b}"), c.records, 4, f"b{b}")
            )
            self.epoch_corpus.captures.extend(c.captures)
            if b == 1:
                self.compacted_records = len(self.epoch_corpus.captures)
        self.corpus.records = []  # on disk now
        self.urls = sorted({c.url for c in self.corpus.captures})
        rm = gen.RequestMaker(rng, space, self.corpus)
        self.singles = rm.cycle(gen.SINGLE_CYCLE, 200)
        self.batch_reqs = [rm.cycle(gen.BATCH_CYCLE, BATCH_SIZE)
                           for _ in range(20 * BATCHES_PER_CYCLE)]
        self.epoch_singles = gen.RequestMaker(rng, space, self.epoch_corpus).cycle(
            gen.EPOCH_CYCLE, 40)


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns)
    return total


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


def ingest(spark, tr, inp: Inputs, out: str, warm_up: bool, parquet: bool) -> dict:
    """The ZipNum cluster (after an untimed warm-up build when
    ``warm_up``), the parquet index when ``parquet``, and the epoch
    store: two batches, a compaction, one more batch.  Returns wall
    times and the output paths."""
    from webarchive_indexing_spark.plans.pipeline import (
        build_index,
        build_parquet_index,
        update_index,
    )
    from webarchive_indexing_spark.sinks.zipnum import compact_zipnum_epochs, list_epochs

    os.makedirs(out, exist_ok=True)
    res = {"cluster": os.path.join(out, "cluster"), "append_s": 0.0}
    if warm_up:
        build_index(spark, inp.warm_manifest, os.path.join(out, "warm"), shards=SHARDS,
                    numlines=NUMLINES)
        shutil.rmtree(os.path.join(out, "warm"), ignore_errors=True)
    t0 = time.perf_counter()
    with tr.span("zipnum.write"):
        build_index(spark, inp.manifest, res["cluster"], shards=SHARDS, numlines=NUMLINES)
    res["zipnum_s"] = time.perf_counter() - t0
    if parquet:
        res["parquet"] = os.path.join(out, "parquet")
        t0 = time.perf_counter()
        with tr.span("parquet_index.write"):
            build_parquet_index(spark, inp.manifest, res["parquet"], range_partitions=SHARDS)
        res["parquet_s"] = time.perf_counter() - t0
    store = res["store"] = os.path.join(out, "epochs")
    for i, b in enumerate(inp.batches):
        t0 = time.perf_counter()
        with tr.span("zipnum.epoch_write"):
            update_index(spark, b, store, shards=2, numlines=NUMLINES)
        if i == 1:
            before = set(list_epochs(store))
            with tr.span("zipnum.compact"):
                compact_zipnum_epochs(spark, store, shards=2, numlines=NUMLINES)
            res["append_s"] += time.perf_counter() - t0
            # what the compaction wrote: the epoch it added
            res["bytes_rewritten"] = sum(
                _dir_bytes(e) for e in set(list_epochs(store)) - before)
            continue
        res["append_s"] += time.perf_counter() - t0
    return res


def check_ingest(spark, inp: Inputs, res: dict) -> list[str]:
    """Record counts of every sink against the generator's: the cluster
    and the parquet index hold the corpus, the epoch store the batches,
    and the compacted epoch exactly the first two batches."""
    from webarchive_indexing_spark.sinks.zipnum import (
        list_epochs,
        read_zipnum,
        read_zipnum_epochs,
    )

    n = len(inp.corpus.captures)
    got = {
        "cluster": (read_zipnum(spark, res["cluster"]).count(), n),
        "epoch store": (read_zipnum_epochs(spark, res["store"]).count(),
                        len(inp.epoch_corpus.captures)),
    }
    if "parquet" in res:
        got["parquet index"] = (spark.read.parquet(res["parquet"]).count(), n)
    live = list_epochs(res["store"])
    got["live epochs"] = (len(live), 2)
    if len(live) == 2:
        got["compacted epoch"] = (read_zipnum(spark, live[0]).count(), inp.compacted_records)
    return [f"{k} holds {a}, expected {b}" for k, (a, b) in got.items() if a != b]


def layer_probes(spark, tr, inp: Inputs, res: dict) -> int:
    """Traced run only: calls that isolate layers the pipeline fuses —
    the WARC parse alone, SURT canonicalization alone, and pruned ZipNum
    range reads.  Returns the rows the range reads returned."""
    from pyspark.sql import functions as F

    from webarchive_indexing_spark.functions.surt import surt_urlkey
    from webarchive_indexing_spark.sinks.zipnum import read_zipnum
    from webarchive_indexing_spark.sources.warc import index_warcs

    m = spark.read.text(inp.manifest).select(F.col("value").alias("path"))
    with tr.span("warc.parse"):
        index_warcs(spark, m).write.format("noop").mode("overwrite").save()
    urls = spark.createDataFrame([(u,) for u in inp.urls], "url string")
    with tr.span("surt.canon"):
        urls.select(surt_urlkey("url").alias("k")).write.format("noop").mode(
            "overwrite").save()
    returned = 0
    for req in [r for r in inp.singles if r.kind == "prefix"][:4]:
        with tr.span("zipnum.read"):
            returned += len(read_zipnum(spark, res["cluster"], key_lo=req.key_lo,
                                        key_hi=req.key_hi).collect())
    return returned


# ---------------------------------------------------------------------------
# serving
# ---------------------------------------------------------------------------


def _params(req: gen.Request) -> dict:
    p = dict(req.params)
    if "resume_key" in p:
        p["resume_key"] = tuple(p["resume_key"])
    return p


class Server:
    """The closed-loop client: sends one request, waits for and checks
    the reply, then sends the next."""

    def __init__(self, spark, tr, inp: Inputs, res: dict, traced: bool):
        self.spark, self.tr, self.inp, self.res = spark, tr, inp, res
        self.traced = traced
        self.s = {"lat_ms": [], "call_ms": [], "action_ms": [], "batch_rates": [],
                  "batch_reqs": 0, "attempted": 0, "failed": 0, "bad": [],
                  "blocks": 0, "lookups": 0, "epochs_read": 0, "epoch_lookups": 0,
                  "batch_member_blocks": 0, "rows_expected": 0, "rows_ok": 0,
                  "errors": [], "by_kind": {}}
        if traced:
            from webarchive_indexing_spark.sinks.zipnum import list_epochs

            self.epoch_dirs = list_epochs(res["store"])

    def single(self, req: gen.Request, on_epochs: bool, timed: bool = True) -> None:
        from webarchive_indexing_spark.operators.cdx_query import (
            cdx_query_epochs,
            cdx_query_zipnum,
        )
        from webarchive_indexing_spark.sinks.zipnum import num_pages

        s = self.s
        s["attempted"] += timed
        t0 = time.perf_counter()
        try:
            with self.tr.span("cdx_query.epochs" if on_epochs else "cdx_query.single") as sp:
                if on_epochs:
                    df = cdx_query_epochs(self.spark, self.res["store"], req.url, **_params(req))
                else:
                    df = cdx_query_zipnum(self.spark, self.res["cluster"], req.url,
                                          **_params(req))
                t1 = time.perf_counter()
                got = [(r["urlkey"], r["timestamp"]) for r in df.collect()]
                t2 = time.perf_counter()
                if sp is not None:
                    sp.counts.update(call_ms=(t1 - t0) * 1e3, action_ms=(t2 - t1) * 1e3)
        except Exception as e:  # noqa: BLE001 - a failed request is counted
            s["failed"] += timed
            s["errors"].append(f"{req.kind} {req.url}: {type(e).__name__}")
            return
        if got != req.expected:
            s["failed"] += timed
            s["bad"].append(f"{'epochs ' if on_epochs else ''}{req.kind} {req.url} "
                            f"{req.params}: {len(got)} rows, expected {len(req.expected)}")
        if not timed:
            return
        s["lat_ms"].append((t2 - t0) * 1e3)
        s["by_kind"].setdefault(("epochs " if on_epochs else "") + req.kind, []).append(
            (t2 - t0) * 1e3)
        s["call_ms"].append((t1 - t0) * 1e3)
        s["action_ms"].append((t2 - t1) * 1e3)
        s["rows_expected"] += len(req.expected)
        s["rows_ok"] += len(set(got) & set(req.expected))
        if self.traced and not on_epochs:
            with self.tr.span("zipnum.prune"):
                n = num_pages(self.res["cluster"], key_lo=req.key_lo, key_hi=req.key_hi)
            s["blocks"] += n
            s["lookups"] += 1
        if self.traced and on_epochs:
            s["epochs_read"] += sum(
                1 for d in self.epoch_dirs
                if num_pages(d, key_lo=req.key_lo, key_hi=req.key_hi) > 0)
            s["epoch_lookups"] += 1

    def batch(self, reqs: list[gen.Request], timed: bool = True) -> None:
        from webarchive_indexing_spark.operators.cdx_query import cdx_query_batch_zipnum
        from webarchive_indexing_spark.sinks.zipnum import num_pages

        s = self.s
        s["attempted"] += timed
        t0 = time.perf_counter()
        try:
            with self.tr.span("cdx_query.batch"):
                got = cdx_query_batch_zipnum(
                    self.spark, self.res["cluster"], [{"url": r.url} for r in reqs]
                ).select("request_no", "urlkey", "timestamp").collect()
        except Exception as e:  # noqa: BLE001
            s["failed"] += timed
            s["errors"].append(f"batch: {type(e).__name__}")
            return
        dt = time.perf_counter() - t0
        per: dict[int, set] = {}
        for r in got:
            per.setdefault(r["request_no"], set()).add((r["urlkey"], r["timestamp"]))
        wrong = [i for i, r in enumerate(reqs) if per.get(i, set()) != set(r.expected)]
        s["failed"] += timed and bool(wrong)
        for i in wrong:
            r = reqs[i]
            s["bad"].append(f"batch request {i} {r.kind} {r.url}: "
                            f"{len(per.get(i, ()))} rows, expected {len(r.expected)}")
        if not timed:
            return
        s["batch_rates"].append(len(reqs) / dt)
        s["batch_reqs"] += len(reqs)
        if self.traced:
            # what the members would read one by one, by the package's
            # own pruning
            s["batch_member_blocks"] += sum(
                num_pages(self.res["cluster"], key_lo=r.key_lo, key_hi=r.key_hi)
                for r in reqs)

    def warm_up(self) -> None:
        """Untimed: one request per operation type — an exact and a
        prefix lookup on the cluster, one on the epoch store, one
        batch — so the timed ones do not pay the first-use costs."""
        first = {}
        for r in self.inp.singles:
            first.setdefault(r.kind, r)
        self.single(first["exact"], False, timed=False)
        self.single(first["prefix"], False, timed=False)
        self.single(self.inp.epoch_singles[-1], True, timed=False)
        self.batch(self.inp.batch_reqs[-1], timed=False)

    def window(self, seconds: float, batches: int) -> None:
        """Whole cycles (the 10 singles of ``gen.SINGLE_CYCLE`` with two
        epoch requests among them, and ``batches`` batches spread
        evenly among those 12, the last after the last single),
        at least one, until ``seconds`` have passed, so every run's
        sample has the same mix."""
        deadline = time.perf_counter() + seconds
        n = len(gen.SINGLE_CYCLE)
        for c in range(len(self.inp.singles) // n):
            sends = []
            for i, req in enumerate(self.inp.singles[c * n:(c + 1) * n]):
                sends.append((req, False))
                if i in EPOCH_AFTER:
                    sends.append((self.inp.epoch_singles[c * 2 + EPOCH_AFTER.index(i)], True))
            b = 0
            for p, (req, on_epochs) in enumerate(sends):
                self.single(req, on_epochs)
                while b < (p + 1) * batches // len(sends):
                    self.batch(self.inp.batch_reqs[c * BATCHES_PER_CYCLE + b])
                    b += 1
            if time.perf_counter() >= deadline:
                break


def run(spark, tr, inp: Inputs, work: str, seconds: float, traced: bool,
        light: bool = False) -> dict:
    """Ingest, check, then serve for ``seconds``; ``light`` cycles send
    one batch, not ``BATCHES_PER_CYCLE``."""
    n = len(inp.corpus.captures)
    n_epoch = len(inp.epoch_corpus.captures)
    # the parquet index is built only in the traced pass: the untraced
    # run's time goes to more requests instead (see DESIGN.md)
    res = ingest(spark, tr, inp, os.path.join(work, "ingest"),
                 warm_up=not traced, parquet=traced)
    bad = check_ingest(spark, inp, res)
    spark.catalog.clearCache()
    read_rows = layer_probes(spark, tr, inp, res) if traced else 0
    srv = Server(spark, tr, inp, res, traced)
    if not traced:
        srv.warm_up()
    srv.window(seconds, 1 if light else BATCHES_PER_CYCLE)
    s = srv.s
    bad += s["bad"]
    lat = s["lat_ms"]
    t_zip = res["zipnum_s"]
    parquet_s = res.get("parquet_s")
    by_kind = {k: round(statistics.median(v), 1) for k, v in s["by_kind"].items()}
    out = {
        "e2e": {
            "ingest_records_per_s": n / t_zip,
            "index_records_per_s": n_epoch / res["append_s"],
            "bytes_per_record": _dir_bytes(res["cluster"]) / n,
            "lookup_samples": lat,
            # median over batches: one batch slowed by a burst of host
            # load does not move it
            "batch_lookups_per_s": statistics.median(s["batch_rates"] or [0.0]),
            "recall": s["rows_ok"] / s["rows_expected"] if s["rows_expected"] else 1.0,
        },
        "report": {
            "ingest_records_per_s": n / t_zip,
            "zipnum_build_s": res["zipnum_s"],
            "parquet_ingest_records_per_s": n / res["parquet_s"] if parquet_s else None,
            "append_records_per_s": n_epoch / res["append_s"],
            "lookup_p50_ms_by_kind": by_kind,
            "index_bytes_per_record": _dir_bytes(res["cluster"]) / n,
            "batch_requests": s["batch_reqs"],
            "batch_rates": [round(r, 2) for r in s["batch_rates"]],
            "corpus_records": n, "epoch_records": n_epoch,
            "errors": s["errors"][:10],
        },
        "attempted": s["attempted"], "failed": s["failed"], "bad": bad, "counts": {},
    }
    if traced:
        c = out["counts"]
        c["zipnum.prune.blocks_read_per_lookup"] = s["blocks"] / max(1, s["lookups"])
        c["cdx_query.epochs.epochs_read_per_lookup"] = s["epochs_read"] / max(1, s["epoch_lookups"])
        c["zipnum.compact.bytes_rewritten"] = res["bytes_rewritten"]
        # from the event log: rows the program's block reads produced,
        # over rows returned, and (a block holds NUMLINES rows, the last
        # of a shard fewer) over the blocks the batch members would read
        # one by one
        c["zipnum.read.rows_examined_per_row_returned"] = trace.Ratio(
            "zipnum.read", "rows_scanned", max(1, read_rows))
        c["cdx_query.batch.blocks_per_batch_request"] = trace.Ratio(
            "cdx_query.batch", "rows_scanned", NUMLINES * max(1, s["batch_member_blocks"]))
        if s["call_ms"]:
            c["cdx_query.single.call_ms"] = statistics.mean(s["call_ms"])
            c["cdx_query.single.action_ms"] = statistics.mean(s["action_ms"])
    return out
