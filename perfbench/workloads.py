"""The two workloads, their correctness check and their metrics.

Every workload is a closed loop driven from this one process: a client
sends its next request only after the previous reply arrived.  Each
workload reports the same end-to-end metrics, with the meaning its
operation gives them (see README.md), and in a traced run the same
per-layer metrics; a layer a workload never calls reports 0.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen import CHECKED_SHAPES, CYCLE, Corpus
from tracing import EventLog, jobs_under, layer_totals

from golucene_spark.analysis import get_analyzer
from golucene_spark.index import (
    CorpusSpec,
    FieldSpec,
    IndexBuilder,
    MaterializedIndex,
    assign_doc_ids,
    blocked_postings,
    merge_segments,
    tokenize_tf,
)
from golucene_spark.index.deletes import delete_docs, update_documents
from golucene_spark.oracle import OracleIndex
from golucene_spark.search import Searcher, parse_query
from golucene_spark.streaming import incremental_index_batch

# the id-keyed spec both workloads build (update_documents needs id_col);
# its doc ids are the generator's, so the oracle scores the same ids
SPEC = CorpusSpec(
    text_fields=[FieldSpec("content", "content", True)],
    keyword_fields=[FieldSpec("lang", "lang", False)],
    key_cols=["doc_id"],
    id_col="doc_id",
    meta_cols=["lang"],
)
QUERY_LAYER = {"phrase": "search.phrase", "fuzzy": "search.multiterm"}
INDEX_TABLES = ("postings", "term_dict", "doc_stats", "doc_meta")
# update_nrt: docs appended, replaced and deleted per round; an
# expunging merge every MERGE_EVERY rounds and after the last one
APPEND, REPLACE, DELETE = 40, 40, 20
MERGE_EVERY = 3
# search_mix: never-seen query strings drawn per run, more than any
# phase sends on 4 CPUs
QUERY_POOL = 40 * len(CYCLE)
PHASE1_CYCLES = 2


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def gmean(xs, default=0.0):
    return statistics.geometric_mean(xs) if xs else default


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parquet_rows(path: str) -> int:
    """Rows of a parquet table directory, from the file footers."""
    return sum(pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
               for root, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


class Run:
    """State of one benchmark run: session, tracer, inputs and tallies."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.rng = np.random.default_rng(seed + 1)
        self.attempted = 0
        self.failed = 0
        self.unchecked: dict[str, int] = {}
        self.errors: list[str] = []
        self.report: dict = {}  # named results beyond the contract metrics
        self.layer: dict = {}   # per-layer inputs gathered along the way
        self._lock = threading.Lock()

    # -- tallies ----------------------------------------------------------
    def op(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if what and len(self.errors) < 20:
                    self.errors.append(what)

    def skip_check(self, reason: str) -> None:
        with self._lock:
            self.unchecked[reason] = self.unchecked.get(reason, 0) + 1

    def span(self, *a, **kw):
        return self.tracer.span(*a, **kw)

    # -- calls into the library ---------------------------------------------
    def write_table(self, pdf, name: str) -> str:
        """The input table as one parquet file per core (written without
        Spark: preparing the input is not the engine's work)."""
        path = os.path.join(self.work, "tables", name)
        os.makedirs(path)
        for i, part in enumerate(np.array_split(np.arange(len(pdf)), self.cores)):
            pq.write_table(pa.Table.from_pandas(pdf.iloc[part], preserve_index=False),
                           os.path.join(path, f"part-{i}.parquet"))
        return path

    def build(self, table: str, ixdir: str, request: str) -> None:
        with self.span("index.builder.build", request, group=True) as sp:
            out = IndexBuilder(self.spark, SPEC, index_positions=True).build(
                self.spark.read.parquet(table), ixdir)
        self.layer["build_return"] = out
        self.layer["index_bytes"] = dir_bytes(ixdir)
        if sp is None:
            return
        # the layout of the set-up build, before any writes (from files,
        # no Spark jobs)
        self.layer["build_span"] = sp["id"]
        for t in INDEX_TABLES:
            self.layer[f"{t}_bytes"] = dir_bytes(os.path.join(ixdir, t))
        self.layer["postings_rows"] = parquet_rows(os.path.join(ixdir, "postings"))
        self.layer["term_dict_rows"] = parquet_rows(os.path.join(ixdir, "term_dict"))
        fs = pq.read_table(os.path.join(ixdir, "field_stats"), columns=["sum_ttf_exact"])
        self.layer["tokens"] = sum(int(v or 0) for v in fs.column(0).to_pylist())
        with open(os.path.join(ixdir, "manifest", "chunk-00000.json")) as f:
            self.layer["stage_sec"] = json.load(f)["stage_sec"]

    def open(self, ixdir: str, request: str):
        with self.span("index.builder.open", request):
            t0 = time.time()
            ix = MaterializedIndex(self.spark, ixdir)
            self.layer.setdefault("open_ms", []).append((time.time() - t0) * 1e3)
        return ix

    def query(self, ix, shape: str, text: str, request: str):
        """One closed-loop request -> (parsed query, top-10 or None, seconds)."""
        layer = QUERY_LAYER.get(shape, "search.executor")
        t0 = time.time()
        try:
            with self.span("query", request):
                with self.span("search.parser.parse_query"):
                    q = parse_query(text, default_field="content")
                with self.span(f"{layer}.plan", group=True):
                    frame = Searcher(ix).search(q, 10)
                with self.span(f"{layer}.collect", group=True) as sp:
                    rows = frame.collect()
                    if sp is not None:
                        sp["hits"] = len(rows)
        except Exception:
            self.op(False, f"{text}: {traceback.format_exc(limit=3)}")
            return None, None, time.time() - t0
        return q, [(int(r["doc_id"]), float(r["score"])) for r in rows], time.time() - t0

    def heap_mb(self) -> float:
        """Driver JVM heap in use after a full GC."""
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mx.gc()
        return mx.getHeapMemoryUsage().getUsed() / 2**20

    # -- correctness --------------------------------------------------------
    def check(self, oracle: OracleIndex, shape: str, q, got) -> None:
        """Count one answered query: wrong top-10 ids or scores (1e-5
        relative) against the oracle count as failed; shapes the oracle
        cannot score are counted as unchecked."""
        if got is None:
            return  # already counted as failed
        if shape not in CHECKED_SHAPES:
            self.op(True)
            self.skip_check(f"{shape} (oracle scores term and boolean queries only)")
            return
        want = oracle.search(q, 10)
        ok = len(want) == len(got) and all(
            d1 == d2 and abs(s1 - s2) <= 1e-5 * max(abs(s2), 1e-12)
            for (d1, s1), (d2, s2) in zip(got, want)
        )
        self.op(ok, "" if ok else f"{shape} {q}: got {got[:3]} want {want[:3]}")


def oracle_for(docs) -> OracleIndex:
    """docs: (engine doc_id, lang, content) rows."""
    rows = list(docs)
    return OracleIndex([(d, t) for d, _, t in rows],
                       keyword_docs={"lang": [(d, lang) for d, lang, _ in rows]})


# -- workloads ----------------------------------------------------------------

def search_mix(run: Run, n_docs: int) -> dict:
    """Cold, repeated and concurrent never-seen queries on one index.
    Phase 1 sends PHASE1_CYCLES cycles of the mix, phase 2 repeats one,
    and phase 3 measures for half of --seconds."""
    corpus = Corpus(run.seed, n_docs)
    table = run.write_table(Corpus.id_frame(corpus.docs), "docs")
    ixdir = os.path.join(run.work, "ix")
    run.build(table, ixdir, "setup")
    ix = run.open(ixdir, "setup")
    cycle = len(CYCLE)
    queries = corpus.queries(QUERY_POOL, run.rng)
    # untimed warm-up: half a cycle of further never-seen queries on a
    # second reader.  The driver's query path runs 1.5-2x slower for the
    # first several queries of a JVM, and without this phase 1 measured
    # either side of that; the memos live on the reader object, so
    # phase 1 still misses them.
    warm_ix = MaterializedIndex(run.spark, ixdir)
    jit = [(shape, *run.query(warm_ix, shape, text, f"jit-{i}"))
           for i, (shape, text) in enumerate(queries[-(cycle // 2):])]
    run.report["setup_done"] = time.time()

    # phase 1: one client, never-seen queries (the plan and stats memos
    # miss), in whole cycles so that every run sends the same shapes in
    # the same proportions
    n1 = PHASE1_CYCLES * cycle
    t0 = time.time()
    phase1 = [(shape, *run.query(ix, shape, text, f"cold-{i}"))
              for i, (shape, text) in enumerate(queries[:n1])]
    t1 = time.time()
    # phase 2: the same client repeats the first cycle (the memos hit)
    phase2 = [(shape, *run.query(ix, shape, text, f"warm-{i}"))
              for i, (shape, text) in enumerate(queries[:cycle])]
    t2 = time.time()
    # phase 3: one client per core, further never-seen queries, for half
    # of --seconds; a request in flight at the deadline completes
    rest = iter(enumerate(queries[n1:-(cycle // 2)], n1))
    deadline = time.time() + run.seconds / 2
    lock = threading.Lock()
    phase3 = []
    busy = []  # per client: seconds from its first request to its last reply

    def client():
        t_start = time.time()
        while time.time() < deadline:
            with lock:
                item = next(rest, None)
            if item is None:
                break
            i, (shape, text) = item
            res = (shape, *run.query(ix, shape, text, f"serve-{i}"))
            with lock:
                phase3.append(res)
        with lock:
            busy.append(time.time() - t_start)

    threads = [threading.Thread(target=client) for _ in range(run.cores)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    # replies over the clients' mean busy time: leaves out most of the
    # drain at the end of the phase, when fewer clients than cores are
    # still waiting, without letting one client's cheap draws set the rate
    qps = sum(got is not None for _, _, got, _ in phase3) / statistics.mean(busy)
    t3 = time.time()
    heap = run.heap_mb()

    oracle = oracle_for(corpus.docs)
    for shape, q, got, _ in jit + phase1 + phase2 + phase3:
        run.check(oracle, shape, q, got)
    run.report["phases_s"] = {"cold": t1 - t0, "warm": t2 - t1, "serve": t3 - t2,
                              "check": time.time() - t3}

    cold = [lat * 1e3 for _, _, got, lat in phase1 if got is not None]
    warm = [lat * 1e3 for _, _, got, lat in phase2 if got is not None]
    serve = [lat * 1e3 for _, _, got, lat in phase3 if got is not None]
    run.layer["cold"] = [(s, lat) for s, _, got, lat in phase1 if got is not None]
    run.layer["warm_ms"] = warm
    run.report.update(
        n_docs=n_docs, clients_phase3=run.cores,
        cold_queries=len(cold), query_cold_p50_ms=median(cold),
        query_cold_gmean_ms=gmean(cold),
        warm_queries=len(warm), query_warm_p50_ms=median(warm),
        serve_queries=len(serve), serve_p50_ms=median(serve),
        serve_qps=qps,
    )
    return {
        "throughput_per_s": qps,
        "op_gmean_ms": gmean(cold),
        "index_bytes_per_input_byte": run.layer["index_bytes"] / corpus.input_bytes(),
        "driver_heap_mb": heap,
    }


def live_segments(ix) -> list[int]:
    return sorted(int(r["segment_id"])
                  for r in ix.term_dict.select("segment_id").distinct().collect())


def update_nrt(run: Run, n_docs: int) -> dict:
    """Rounds of append / replace / delete / reopen / query on an id-keyed
    index, with an expunging merge every MERGE_EVERY rounds and after the
    last one.  Each round's first query is a mid-df term (the refresh
    probe); its second takes the next shape of the mix.  One untimed
    round runs in set-up: the first call of each write path in a JVM
    costs about 1.5x a later one."""
    corpus = Corpus(run.seed, n_docs)
    table = run.write_table(Corpus.id_frame(corpus.docs), "docs")
    ixdir = os.path.join(run.work, "ix")
    run.build(table, ixdir, "setup")
    ix = run.open(ixdir, "setup")

    spark = run.spark
    rq = []  # query strings sent so far: every query is never-seen
    merges = []

    def one_round(epoch: int, req: str):
        """-> (reopened index, refresh ms, [(shape, query seconds)])"""
        tr = time.time()
        new = corpus.add_docs(APPEND)
        with run.span("streaming.nrt.incremental_index_batch", req, group=True):
            incremental_index_batch(spark.createDataFrame(Corpus.id_frame(new)),
                                    epoch, ixdir, SPEC)
        ids = [int(i) for i in run.rng.choice(
            [d for d, _, _ in corpus.docs[:-APPEND]], size=REPLACE + DELETE, replace=False)]
        rows = corpus.replace_docs(ids[:REPLACE])
        with run.span("index.deletes.update_documents", req, group=True):
            update_documents(spark, ixdir, spark.createDataFrame(Corpus.id_frame(rows)), SPEC)
        corpus.delete_docs(ids[REPLACE:])
        with run.span("index.deletes.delete_docs", req, group=True):
            delete_docs(spark, ixdir, ids[REPLACE:])
        ix = run.open(ixdir, req)
        run.op(True)
        refresh, lat = None, []
        shapes = ["term_mid", CYCLE[epoch % len(CYCLE)]]
        for j, (shape, text) in enumerate(corpus.queries(2, run.rng, rq, shapes)):
            rq.append(text)
            _, got, sec = run.query(ix, shape, text, f"{req}-q{j}")
            if got is None:
                continue
            if j == 0:
                refresh = (time.time() - tr) * 1e3
            lat.append((shape, sec))
            run.op(True)
            run.skip_check("update_nrt round query (collection stats exact only after an expunging merge)")
        return ix, refresh, lat

    def merge(ix, request):
        segs = live_segments(ix)
        before = dir_bytes(ixdir)
        with run.span("index.merge.merge_segments", request, group=True):
            tm = time.time()
            merge_segments(spark, ixdir, segs, expunge_deletes=True)
            merges.append(time.time() - tm)
        run.layer.setdefault("live_segments", []).append(len(segs))
        run.layer.setdefault("merge_bytes", []).append(dir_bytes(ixdir) - before)

    ix, _, _ = one_round(0, "warmup")
    run.report["setup_done"] = time.time()

    # whole rounds: at least one, and no more than fit in --seconds at
    # the pace of the last one (merges are timed apart)
    refresh, lat, rounds, rounds_s, round_s = [], [], 0, 0.0, 0.0
    while rounds == 0 or rounds_s + round_s <= run.seconds:
        req = f"round-{rounds}"
        tr = time.time()
        try:
            ix, ms, qs = one_round(rounds + 1, req)
        except Exception:
            run.op(False, traceback.format_exc(limit=3))
            rounds_s += time.time() - tr
            break
        round_s = time.time() - tr
        rounds_s += round_s
        rounds += 1
        if ms is not None:
            refresh.append(ms)
        lat += qs
        if rounds % MERGE_EVERY == 0:
            merge(ix, req)
    if rounds % MERGE_EVERY:
        merge(ix, f"round-{rounds - 1}")
    heap = run.heap_mb()

    # check after the expunging merge, when collection stats are exact
    t1 = time.time()
    ix = run.open(ixdir, "check")
    oracle = oracle_for(corpus.docs)
    shapes = [s for s in CYCLE if s in CHECKED_SHAPES]
    for i, (shape, text) in enumerate(corpus.queries(2, run.rng, rq, shapes)):
        q, got, _ = run.query(ix, shape, text, f"check-{i}")
        run.check(oracle, shape, q, got)
    run.report["phases_s"] = {"rounds": rounds_s, "merges": sum(merges),
                              "check": time.time() - t1}

    written = rounds * (APPEND + REPLACE + DELETE)
    run.layer["cold"] = lat
    run.report.update(
        n_docs=n_docs, rounds=rounds, docs_written=written,
        update_docs_per_s=written / rounds_s, refresh_samples=len(refresh),
        refresh_p50_ms=median(refresh), update_queries=len(lat),
        update_query_p50_ms=median([s * 1e3 for _, s in lat]),
        merges=len(merges), merge_p50_s=median(merges),
    )
    return {
        "throughput_per_s": written / rounds_s,
        "op_gmean_ms": gmean(refresh),
        "index_bytes_per_input_byte": run.layer["index_bytes"] / corpus.input_bytes(),
        "driver_heap_mb": heap,
    }


WORKLOADS = {"search_mix": (search_mix, 1000), "update_nrt": (update_nrt, 1000)}


# -- traced-run extras ----------------------------------------------------------

def trace_extras(run: Run) -> None:
    """Per-layer measurements the traced run adds after the workload:
    driver-side analysis speed and build-stage prefixes into a noop
    sink.  Outside every timed window."""
    table = os.path.join(run.work, "tables", "docs")
    sample = [r["content"] for r in run.spark.read.parquet(table).limit(400).collect()]
    an = get_analyzer("standard")
    with run.span("analysis.analyze_batch", "trace"):
        t0 = time.time()
        terms, _, _ = an.analyze_batch(sample)
        run.layer["tokens_per_s"] = len(terms) / (time.time() - t0)

    df = run.spark.read.parquet(table)
    nseg = run.layer["build_return"]["segments"]
    stages = {
        "scan": lambda: df,
        "assign_doc_ids": lambda: assign_doc_ids(df, SPEC, nseg),
        "tokenize": lambda: tokenize_tf(assign_doc_ids(df, SPEC, nseg), SPEC),
        "blocked_postings": lambda: blocked_postings(
            tokenize_tf(assign_doc_ids(df, SPEC, nseg), SPEC), include_sentinels=True),
    }
    for name, make in stages.items():
        with run.span(f"index.builder.{name}", "trace", group=True):
            t0 = time.time()
            make().write.format("noop").mode("overwrite").save()
            run.layer[f"{name}_s"] = time.time() - t0


def layer_metrics(run: Run, log_dir: str, op_gmean_ms: float, n_ops: int) -> dict:
    """The per-layer metrics of a traced run, from spans, the event log
    and the extras; a layer the workload never called reports 0."""
    spans = run.tracer.spans
    log = EventLog(log_dir)
    jobs_of = log.attribute(spans)
    L = run.layer
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def ms(name):
        return [(s["end"] - s["start"]) * 1e3 for s in by_name.get(name, [])]

    m = {
        "session.get_spark_s": L["get_spark_s"],
        "session.warm_workers_s": L["warm_workers_s"],
        "analysis.tokens_per_s": L["tokens_per_s"],
    }
    for name in ("scan", "assign_doc_ids", "tokenize", "blocked_postings"):
        m[f"index.builder.{name}_s"] = L[f"{name}_s"]
    for name in ("postings_write", "doc_meta_write", "term_dict_write", "doc_stats_write"):
        m[f"index.builder.{name}_s"] = L["stage_sec"].get(name, 0.0)
    m["index.builder.field_stats_s"] = L["build_return"]["field_stats_sec"]
    build = [s for s in spans if s["id"] == L["build_span"]][0]
    bjobs = jobs_under(build["id"], spans, jobs_of)
    bwall = build["end"] - build["start"]
    m.update({
        "index.builder.tokens": L["tokens"],
        "index.builder.postings_rows": L["postings_rows"],
        "index.builder.term_dict_rows": L["term_dict_rows"],
        "index.builder.spark_jobs": len(bjobs),
        "index.builder.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in bjobs),
        "index.builder.core_utilization": sum(j["run_s"] for j in bjobs) / (bwall * run.cores),
    })
    for t in INDEX_TABLES:
        m[f"index.{t}_bytes"] = L[f"{t}_bytes"]
    m["index.open_ms"] = median(L.get("open_ms", []))
    m["search.parser.parse_ms"] = median(ms("search.parser.parse_query"))

    # per-query executor figures from one-client never-seen queries
    # (search_mix phase 1, update_nrt rounds): not the memo-hit repeats,
    # the concurrent serving phase or the post-merge check; phrase and
    # fuzzy queries have layers of their own
    solo = [s for s in spans if (s["request"] or "").startswith(("cold-", "round-"))]
    plans = [s for s in solo if s["name"] == "search.executor.plan"]
    colls = [s for s in solo if s["name"] == "search.executor.collect"]
    n_q = max(1, len(plans))
    hits = max(1, sum(s["hits"] for s in colls))
    pj = [j for s in plans for j in jobs_under(s["id"], spans, jobs_of)]
    ej = [j for s in colls for j in jobs_under(s["id"], spans, jobs_of)]
    m.update({
        "search.executor.plan_ms": median([(s["end"] - s["start"]) * 1e3 for s in plans]),
        "search.executor.execute_ms": median([(s["end"] - s["start"]) * 1e3 for s in colls]),
        "search.executor.plan_jobs_per_query": len(pj) / n_q,
        "search.executor.exec_jobs_per_query": len(ej) / n_q,
        "search.executor.tasks_per_query": sum(j["tasks"] for j in pj + ej) / n_q,
        "search.executor.rows_read_per_hit": sum(j["records_read"] for j in pj + ej) / hits,
    })
    cold: dict[str, list[float]] = {}
    for shape, sec in L.get("cold", []):
        cold.setdefault(shape, []).append(sec * 1e3)
    m["search.phrase.cold_p50_ms"] = median(cold.get("phrase", []))
    m["search.multiterm.cold_p50_ms"] = median(cold.get("fuzzy", []))
    for shape in sorted(CHECKED_SHAPES):
        m[f"search.executor.cold_p50_ms.{shape}"] = median(cold.get(shape, []))
    m["search.executor.warm_p50_ms"] = median(L.get("warm_ms", []))
    m["index.deletes.update_documents_ms"] = median(ms("index.deletes.update_documents"))
    m["index.deletes.delete_docs_ms"] = median(ms("index.deletes.delete_docs"))
    m["streaming.nrt.incremental_index_batch_ms"] = median(
        ms("streaming.nrt.incremental_index_batch"))
    m["streaming.nrt.live_segments"] = max(L.get("live_segments", [0]))
    m["index.merge.merge_segments_s"] = median(ms("index.merge.merge_segments")) / 1e3
    m["index.merge.bytes_rewritten"] = median(L.get("merge_bytes", []))
    for layer, tot in layer_totals(spans, jobs_of).items():
        m[f"{layer}.failed_tasks"] = tot["failed_tasks"]
        m[f"{layer}.gc_s"] = tot["gc_s"]
    m["trace.op_gmean_ms"] = op_gmean_ms
    m["trace.self_ms_per_op"] = run.tracer.self_s * 1e3 / max(1, n_ops)
    m["check.unchecked_ops"] = sum(run.unchecked.values())
    m["check.failed_ops_ratio"] = run.failed / max(1, run.attempted)
    return m


def log_errors(run: Run) -> None:
    for e in run.errors:
        print(e, file=sys.stderr)
