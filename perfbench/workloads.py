"""The benchmark's workloads. Each is one client in a closed loop over one
public entry point, with inputs and ground truth from ``gen``:

* ``extract_heavytail``: ``mre.pipeline.run_extract`` over fixture pages;
* ``ingest_batches``: ``mre.streaming.ingest_epoch``, batch after batch,
  against a ``build_dedup_index`` built at set-up.

A workload provides ``data_setup`` (repeated, timed for ``setup_s``),
``build``, ``warm_up``, ``prepare``/``op``/``check`` for the loop, and,
for the traced run, ``trace_op`` (per-call layer numbers, outside the
timed span) and ``layer_metrics``. ``curate_layer`` measures the curation
layer in the extract workload's traced run: curation follows extraction
in the crawl-to-corpus journey (``mre.curate.run_corpus``).
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time

import gen


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _data_files(root: str) -> int:
    return sum(1 for _, _, fs in os.walk(root) for f in fs
               if not f.startswith((".", "_")))


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# every per-layer metric with its unit; engine and process numbers are
# per public call (means over the traced window)
PER_LAYER = {
    **{f"spark.{k}": "count" for k in ("jobs", "stages", "tasks",
                                       "failed_tasks")},
    **{f"spark.{k}": "s" for k in ("driver_gap_s", "executor_run_s",
                                   "executor_cpu_s", "gc_s",
                                   "sched_delay_s")},
    **{f"spark.{k}": "MB" for k in ("input_mb", "shuffle_write_mb",
                                    "spill_mb")},
    **{f"core.{k}.us_per_doc": "us" for k in (
        "decode", "parse", "jsonld", "headline", "pubdate", "byline",
        "content")},
    "core.extract.us_per_doc_small": "us",
    "core.extract.us_per_doc_large": "us",
    "core.coverage": "ratio",
    "pipeline.udf_s": "s", "pipeline.framework_s": "s",
    "pipeline.task_skew": "ratio", "pipeline.sink_s": "s",
    "pipeline.dedup_dropped": "count",
    **{f"curate.{k}.{m}": u
       for k in ("quality", "exact_dedup", "near_dup", "decontaminate",
                 "split") for m, u in (("s", "s"), ("jobs", "count"))},
    "textops.lsh.candidates": "count", "textops.lsh.useful_ratio": "ratio",
    "ingest.jobs_per_batch": "count", "ingest.dedup_s": "s",
    "ingest.commit_s": "s", "ingest.index_read_kb_per_batch": "KB",
    "ingest.index_files_per_batch": "count",
    "ingest.latency_drift": "ratio",
    "proc.peak_rss_mb": "MB", "proc.jvm_rss_mb": "MB",
    "proc.python_workers_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}


def spark_layer(per_call: list[dict]) -> dict:
    """Per-call means of the engine numbers ``SparkCalls`` collected."""
    keys = ("jobs", "stages", "tasks", "failed_tasks", "driver_gap_s",
            "executor_run_s", "executor_cpu_s", "gc_s", "sched_delay_s",
            "input_mb", "shuffle_write_mb", "spill_mb")
    return {f"spark.{k}": _mean(c[k] for c in per_call) for k in keys}


class Workload:
    """Set-up is ``data_setup`` (input generation; run ``SETUPS`` times,
    timed, the median counts), ``build`` and ``warm_up``; ``warm_up``
    returns (docs, wrong docs) of its checked loop iterations."""

    def build(self, spark) -> None:
        pass

    def warm_up(self, spark) -> tuple[int, int]:
        docs = bad = 0
        for k in range(self.WARM_CALLS):
            x = self.prepare(spark, k)
            self.op(spark, x)
            docs += x["docs"]
            bad += self.check(spark, x)
        return docs, bad

    def before_op(self, x: dict) -> None:
        pass


# --------------------------------------------------------------------------
# extract_heavytail


class ExtractHeavyTail(Workload):
    name = "extract_heavytail"
    op_name = "run_extract"
    N_DOCS = 800       # doc_ids per run_extract call (+5 % dup captures)
    REPLAY_DOCS = 200  # doc_ids replayed stage by stage in the traced run
    # untimed loop iterations, one per page set (run.py makes three):
    # with two, the first timed call, on the third set's first read, ran
    # up to 22 % slower than the next
    WARM_CALLS = 3

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed

    def data_setup(self, spark, k: int) -> None:
        # each set-up makes its own page set and the loop cycles through
        # them: which salt buckets the 1 MB pages hash to sets the stage
        # time, so every run averages over several such layouts
        if k == 0:
            self.inps = []
        self.inps.append(gen.extract_pages(self.seed, k, self.N_DOCS,
                                           _fresh(f"{self.work}/pages{k}")))

    def prepare(self, spark, i: int) -> dict:
        d = _fresh(f"{self.work}/run{i % 2}")
        inp = self.inps[i % len(self.inps)]
        return {"dst": f"{d}/out", "lin": f"{d}/lin", "run_id": f"e{i}",
                "inp": inp, "docs": len(inp["golden"])}

    def op(self, spark, x: dict) -> None:
        from mre.pipeline import run_extract
        run_extract(spark, x["inp"]["pages"], x["dst"], x["lin"],
                    run_id=x["run_id"])

    def check(self, spark, x: dict) -> int:
        """Wrong urls: missing, extra, repeated or any field ≠ golden."""
        from mre.pipeline import read_results
        golden = x["inp"]["golden"]
        seen: dict[str, int] = {}
        bad = 0
        for r in read_results(spark, x["dst"]).collect():
            seen[r["url"]] = seen.get(r["url"], 0) + 1
            g = golden.get(r["url"])
            if g is None or r.asDict() != g:
                bad += 1
        bad += sum(1 for u in golden if u not in seen)
        bad += sum(n - 1 for n in seen.values())
        return min(bad, x["docs"])

    def trace_op(self, spark, x: dict, rec: dict, eng: dict) -> dict:
        from pyspark.sql import functions as F
        res = spark.read.parquet(x["dst"])
        row = res.agg(F.count("*").alias("n"),
                      F.sum("wall_us").alias("us")).first()
        udf_s = (row["us"] or 0) / 1e6
        # the extraction UDF runs in the stage with the most executor time
        st = max(eng["stage_rows"], key=lambda s: s["run_s"])
        tasks = st["task_run_s"] or [0.0]
        med = statistics.median(tasks)
        return {
            "udf_s": udf_s, "framework_s": st["run_s"] - udf_s,
            "task_skew": max(tasks) / med if med > 0 else 0.0,
            "sink_s": rec["t1"] - st["completion"],
            "dedup_dropped": x["inp"]["n_rows"] - row["n"]}

    def layer_metrics(self, spark, spans, per_call: list[dict],
                      lat: list[float]) -> tuple[dict, int, int]:
        m = spark_layer(per_call)
        for k in ("udf_s", "framework_s", "task_skew", "sink_s",
                  "dedup_dropped"):
            m[f"pipeline.{k}"] = _mean(c[k] for c in per_call)
        with spans.span("core.replay"):
            core, n, bad = core_replay(self.inps[0]["doc_id_offset"],
                                       self.REPLAY_DOCS, spans)
        with spans.span("curate.layer"):
            cur, n2, bad2 = curate_layer(spark, spans, f"{self.work}/curate",
                                         self.seed)
        m.update(core)
        m.update(cur)
        return m, n + n2, bad + bad2


CORE_STAGES = ("decode", "parse", "jsonld", "headline", "pubdate", "byline",
               "content")


def core_replay(off: int, n_docs: int, spans) -> tuple[dict, int, int]:
    """Single-process replay of ``extract_one``'s stage sequence over the
    workload's first ``n_docs`` pages, each stage timed on its own, then
    ``extract_one`` itself on the same page. A replay whose result
    differs from ``extract_one``'s counts as a failed doc: the stage
    split no longer describes the program."""
    from mre import fixtures
    from mre.core.byline import extract_authors
    from mre.core.content import extract_text
    from mre.core.extract import ExtractResult, extract_one
    from mre.core.headline import score_headline
    from mre.core.htmlparse import parse_doc
    from mre.core.jsonld import extract_jsonld
    from mre.core.pubdate import pick_pubdate
    from mre.core.textutil import decode_html

    clock = time.perf_counter_ns
    tot = dict.fromkeys(CORE_STAGES, 0)

    def replay(url, html, cap):
        failed = ExtractResult(url, None, None, None, None, ok=False)
        if html is None or len(html) == 0:
            return failed
        try:
            t = clock()
            text = decode_html(html, None)
            t, tot["decode"] = clock(), tot["decode"] + clock() - t
            doc = parse_doc(text)
            t, tot["parse"] = clock(), tot["parse"] + clock() - t
            if not doc.content:
                return failed
            jsonld = extract_jsonld(doc)
            t, tot["jsonld"] = clock(), tot["jsonld"] + clock() - t
            headline, _ = score_headline(doc, url, jsonld=jsonld)
            t, tot["headline"] = clock(), tot["headline"] + clock() - t
            pubdate = pick_pubdate(doc, url, horizon=None, jsonld=jsonld,
                                   capture_ts=cap)
            t, tot["pubdate"] = clock(), tot["pubdate"] + clock() - t
            authors = extract_authors(doc, jsonld=jsonld)
            t, tot["byline"] = clock(), tot["byline"] + clock() - t
            body = extract_text(doc)
            tot["content"] += clock() - t
        except Exception:
            return failed
        if headline is None and pubdate is None and not authors \
                and body is None:
            return failed
        return ExtractResult(url, headline, pubdate, authors or None, body,
                             ok=True)

    whole = {"small": [], "medium": [], "large": []}
    bad = 0
    gc_was = gc.isenabled()
    gc.disable()   # as the pipeline's UDF runs it
    try:
        for doc_id in range(off, off + n_docs):
            p = fixtures.page_row(doc_id)
            # alternate which of the two runs first: the second finds the
            # page in warm caches
            order = ("stages", "extract_one")
            for which in order if doc_id % 2 else order[::-1]:
                if which == "stages":
                    with spans.span("core.stages"):
                        a = replay(p["url"], p["html"], p["warc_ts"])
                else:
                    with spans.span("core.extract_one"):
                        t = clock()
                        b = extract_one(p["url"], p["html"],
                                        capture_ts=p["warc_ts"])
                        whole[fixtures.size_class(doc_id)].append(clock() - t)
            bad += a != b
            gc.collect()
    finally:
        if gc_was:
            gc.enable()
    m = {f"core.{s}.us_per_doc": tot[s] / 1e3 / n_docs for s in CORE_STAGES}
    m["core.extract.us_per_doc_small"] = _mean(whole["small"]) / 1e3
    m["core.extract.us_per_doc_large"] = _mean(whole["large"]) / 1e3
    all_ns = sum(sum(v) for v in whole.values())
    m["core.coverage"] = sum(tot.values()) / all_ns if all_ns else 0.0
    return m, n_docs, bad


# --------------------------------------------------------------------------
# ingest_batches


class IngestBatches(Workload):
    """The index is small: 5000 docs, the size and length shape of the
    sf0.1 documents table that bench.py's dedup_increment and
    ingest_stream entries split into index and batch, in the default
    layout (parts=32), which a 200-doc batch touches in every bucket.
    That is the small-index side of the crossover OPTIMIZATION_r08
    measured with ``bench_extra.py --index-io``, where a flat layout
    reads less than a bucketed one; its large-index side (250k docs,
    parts=256, an 89 s build and 18 s batches at local[4]) does not fit
    a run. Set-up ingests one planted batch, so the timed batches run
    against an index that has grown once, not the first after the
    build."""
    name = "ingest_batches"
    op_name = "ingest_epoch"
    N_BASE = 5000     # docs in the indexed base corpus
    BATCH_DOCS = 200
    # one untimed, checked batch: it gives the timed batches earlier
    # accepted docs to copy, and in a 50k-doc probe the first batch after
    # the build ran ~40 % slower than the next
    WARM_CALLS = 1

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed

    def data_setup(self, spark, k: int) -> None:
        self.gen = gen.IngestGen(self.seed, self.N_BASE, self.BATCH_DOCS)
        self.base = self.gen.base(_fresh(f"{self.work}/base"))

    def build(self, spark) -> None:
        from mre.curate import build_dedup_index
        self.idx = _fresh(f"{self.work}/idx")
        build_dedup_index(spark, spark.read.parquet(self.base), self.idx)
        self.acc = _fresh(f"{self.work}/accepted")
        self.epochs = _fresh(f"{self.work}/epochs")
        self.bdir = _fresh(f"{self.work}/batches")

    @staticmethod
    def _df(spark, path: str):
        # a file-backed batch, as a streaming file source hands one to
        # foreachBatch
        return spark.read.parquet(path)

    def prepare(self, spark, i: int) -> dict:
        path, expect = self.gen.batch(i, self.bdir)
        return {"i": i, "df": self._df(spark, path), "expect": expect,
                "docs": self.BATCH_DOCS}

    def op(self, spark, x: dict) -> None:
        from mre.streaming import ingest_epoch
        ingest_epoch(spark, x["df"], x["i"], self.idx, self.acc,
                     self.epochs)

    def check(self, spark, x: dict) -> int:
        """Docs whose accept/drop decision differs from the planted one."""
        from pyspark.sql import functions as F
        got = {r["doc_id"] for r in spark.read.parquet(self.acc)
               .filter(F.col("epoch") == x["i"]).select("doc_id").collect()}
        return len(got ^ x["expect"])

    def before_op(self, x: dict) -> None:
        # snapshot of the index state the epoch starts from, for the
        # dedup-only probe that runs after it
        x["files0"] = _data_files(self.idx)
        self.probe = _fresh(f"{self.work}/probe_idx")
        shutil.copytree(self.idx, self.probe)

    def trace_op(self, spark, x: dict, rec: dict, eng: dict) -> dict:
        from mre.curate import dedup_increment
        from mre.textops import cache_mark, release_caches
        out = {"files": _data_files(self.idx) - x["files0"]}
        mark = cache_mark()
        t = time.perf_counter()
        dedup_increment(spark, x["df"], self.probe,
                        update_index=False).count()
        out["dedup_s"] = time.perf_counter() - t
        release_caches(since=mark)
        return out

    def layer_metrics(self, spark, spans, per_call: list[dict],
                      lat: list[float]) -> tuple[dict, int, int]:
        m = spark_layer(per_call)
        q = max(1, len(lat) // 4)
        m.update({
            "ingest.jobs_per_batch": _mean(c["jobs"] for c in per_call),
            "ingest.dedup_s": _mean(c["dedup_s"] for c in per_call),
            "ingest.commit_s": _mean(c["lat"] - c["dedup_s"]
                                     for c in per_call),
            "ingest.index_read_kb_per_batch":
                _mean(c["input_mb"] for c in per_call) * 1024,
            "ingest.index_files_per_batch":
                _mean(c["files"] for c in per_call),
            "ingest.latency_drift": statistics.median(lat[-q:])
                / statistics.median(lat[:q])})
        return m, 0, 0


# --------------------------------------------------------------------------
# the curation layer (measured in the extract workload's traced run)

CURATE_DOCS = 500


def curate_layer(spark, spans, work: str, seed: int) -> tuple[dict, int,
                                                              int]:
    """``run_curate`` (default stages, with evals) over a planted corpus,
    checked against its planted survivors; then the public stage
    functions in ``run_curate``'s order, each materialized under its own
    job group, their row counts cross-checked against
    ``read_curate_lineage``; then the LSH candidate yield."""
    from pyspark.sql import functions as F

    from instrument import SparkCalls
    from mre.curate import (contaminated_ids, exact_keeper_ids,
                            near_dup_loser_ids, quality_keep_ids,
                            read_curate_lineage, run_curate)
    from mre.textops import (cache_mark, hash_split, jaccard_on_candidates,
                             minhash_near_dups, release_caches)

    calls = SparkCalls(spark, rest=False)
    c = gen.curate_corpus(seed, CURATE_DOCS, _fresh(f"{work}/in"))
    dst, lin = f"{work}/out", f"{work}/lin"
    with spans.span("run_curate"):
        run_curate(spark, c["docs"], dst, lin, run_id="c", evals_src=c["evals"])
    got = {r["doc_id"]: r["split"]
           for r in spark.read.parquet(f"{dst}/split").collect()}
    truth = c["truth"]
    bad = len(set(got) ^ set(truth)) \
        + sum(got[d] != truth[d] for d in set(got) & set(truth))
    n_out = {r["stage"]: r["n_out"] for r in read_curate_lineage(spark, lin)
             .filter(F.col("run_id") == "c").collect()}

    docs = spark.read.parquet(c["docs"])
    evals = spark.read.parquet(c["evals"])
    m = {}
    mark = cache_mark()

    def stage(name, build):
        with spans.span(f"curate.{name}"), calls.group(name) as rec:
            t = time.perf_counter()
            build().write.mode("overwrite").parquet(f"{work}/replay/{name}")
            out = spark.read.parquet(f"{work}/replay/{name}")
            n = out.count()
            m[f"curate.{name}.s"] = time.perf_counter() - t
        m[f"curate.{name}.jobs"] = calls.counts(rec)["jobs"]
        nonlocal bad
        bad += abs(n - n_out.get(name, -1))
        return out

    s1 = stage("quality", lambda: quality_keep_ids(docs))
    d2 = docs.join(s1, "doc_id", "left_semi")
    s2 = stage("exact_dedup", lambda: exact_keeper_ids(d2))
    d3 = docs.join(s2, "doc_id", "left_semi")
    s3 = stage("near_dup", lambda: s2.join(near_dup_loser_ids(d3), "doc_id",
                                           "left_anti"))
    d4 = docs.join(s3, "doc_id", "left_semi")
    s4 = stage("decontaminate", lambda: s3.join(
        contaminated_ids(d4, evals), "doc_id", "left_anti"))
    d5 = docs.join(s4, "doc_id", "left_semi")
    stage("split", lambda: hash_split(d5, "text").drop("text"))
    with spans.span("textops.lsh"):
        # run_curate's near-dup defaults: 3-shingles, MinHash proposes at
        # est ≥ 0.2, exact Jaccard confirms at ≥ 0.5
        cands = (minhash_near_dups(d3, n=3, threshold=0.2)
                 .select("doc_a", "doc_b").localCheckpoint(eager=True))
        n_cand = cands.count()
        n_conf = (jaccard_on_candidates(cands, d3, n=3)
                  .filter(F.col("jaccard") >= 0.5).count())
    release_caches(since=mark)
    m["textops.lsh.candidates"] = n_cand
    m["textops.lsh.useful_ratio"] = n_conf / n_cand if n_cand else 0.0
    return m, c["n_rows"], bad


WORKLOADS = {w.name: w for w in (ExtractHeavyTail, IngestBatches)}
