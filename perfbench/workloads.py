"""The two workloads: ``serve`` and ``update_mix``.

Each is a closed loop with one caller: pysearch is a library inside a
Spark driver and its callers wait for every reply. Every op's answer is
kept and checked against an oracle after the timed window closes.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench import checker, corpus, spans

SERVE_DOCS = 2000
UPDATE_DOCS = 1000
N_BUCKETS = 8
ROUND_QUERIES = len(corpus.QUERY_KINDS)   # serve queries per round
# The traffic mix below is assumed, not taken from a measured trace:
# one serve round sends each query kind once through both front doors,
# one query_string after each half of the kinds and one search_many
# batch of BATCH_SIZE queries;
# update_mix follows each write with READS_PER_WRITE view reads, and
# each write, view read and the compact with one point-in-time read of
# the committed segment.
BATCH_SIZE = 8
QS_AFTER = (5, 10)  # serve: a query_string op follows these kinds of a round
READS_PER_WRITE = 10
WARM_READS = 4      # untimed update_mix reads before the window opens

#: end-to-end metrics every workload reports (tracing off)
END_TO_END = {
    "setup_s": "s",
    "search_p50_ms": "ms",
    "interactive_p50_ms": "ms",
    "heavy_op_p50_ms": "ms",
}

#: per-layer metrics every workload reports (tracing on); a layer the
#: workload does not exercise reads 0
PER_LAYER = {
    "session.start_s": "s",
    "store.segment_index_s": "s",
    "build.build_index_s": "s",
    "build.write_index_s": "s",
    "build.load_index_s": "s",
    "build.spark_jobs": "count",
    "build.terms": "count",
    "build.salted_terms": "count",
    "build.postings": "count",
    "build.blocks": "count",
    "build.bytes.docs": "B",
    "build.bytes.postings": "B",
    "build.bytes.term_stats": "B",
    "build.bytes.positions": "B",
    "analysis.analyze_ms": "ms",
    "exec.term_meta_ms": "ms",
    "exec.term_meta_jobs": "count",
    "exec.block_read_ms": "ms",
    "exec.block_rows_read": "count",
    "exec.decode_ms": "ms",
    "exec.blocks_decoded": "count",
    "exec.decode_ratio": "ratio",
    "exec.score_ms": "ms",
    "exec.result_ms": "ms",
    "exec.jobs_per_search": "count",
    "exec.jobs_per_interactive": "count",
    "exec.jobs_per_batch": "count",
    "exec.batch_sum_df": "count",
    "plan.parse_ms": "ms",
    "exec.search_tree_ms": "ms",
    "exec.jobs_per_query_string": "count",
    "versioning.delta_build_ms": "ms",
    "merge.merge_indexes_ms": "ms",
    "versioning.jobs_per_update": "count",
    "versioning.jobs_per_refresh": "count",
    "versioning.jobs_per_view_search": "count",
    "proc.driver_rss_mb": "MB",
    "proc.jvm_rss_mb": "MB",
    "trace.overhead_pct": "%",
    "trace.unaccounted_pct": "%",
}

#: span names whose self time is a named query layer; the rest of a read
#: op's wall time is exec.result_ms
_QUERY_LAYERS = {
    "analysis.analyze": "analysis.analyze_ms",
    "exec.term_meta": "exec.term_meta_ms",
    "exec.block_read": "exec.block_read_ms",
    "codec.decode_blocks_concat": "exec.decode_ms",
    "exec.score": "exec.score_ms",
}

_FAILED = object()


@dataclass
class Op:
    kind: str
    spec: object
    seconds: float
    result: object
    warm: bool = False
    jobs: int = 0
    state: object = None
    error: str | None = None


@dataclass
class Ctx:
    """Per-run state: the session, the tracer and every op recorded."""
    t0: float
    seed: int
    seconds: float
    cache_dir: str
    tracer: spans.Tracer
    spark: object = None
    ops: list = field(default_factory=list)
    bench_side_s: float = 0.0
    setup_s: float = 0.0
    setup_jobs: int = 0
    info: dict = field(default_factory=dict)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    # ---- Spark session + job accounting --------------------------------
    def start_spark(self):
        from pysearch import session

        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = session.get_spark(cores=cores, app="perfbench",
                                       shuffle_partitions=cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.traced:
            sc = self.spark.sparkContext
            sc.setJobGroup("perfbench-setup", "setup")
            self.tracer.jobs_fn = self._group_jobs
        return self.spark

    def _group_jobs(self) -> int:
        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # ---- timing ----------------------------------------------------------
    def bench_side(self, fn):
        """Run benchmark-side work (corpus, oracle) off the setup clock."""
        t = time.perf_counter()
        active, self.tracer.active = self.tracer.active, False
        try:
            return fn()
        finally:
            self.tracer.active = active
            self.bench_side_s += time.perf_counter() - t

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.t0 - self.bench_side_s
        # the oracle's millions of small objects would otherwise be walked
        # by every full collection the program triggers while timed
        gc.collect()
        gc.freeze()

    def op(self, kind: str, spec, fn, warm: bool = False, state=None) -> Op:
        n = len(self.ops)
        tr = self.tracer
        if self.traced:
            self.spark.sparkContext.setJobGroup(f"perfbench-op{n}", kind)
            tr.op_id = n
            root = tr.begin("op." + kind)
        t = time.perf_counter()
        err = None
        try:
            res = fn()
        except Exception:
            res, err = _FAILED, traceback.format_exc(limit=4)
            print(f"op {n} {kind} raised:\n{err}", file=sys.stderr)
        dt = time.perf_counter() - t
        jobs = 0
        if self.traced:
            tr.end(root)
            tr.op_id = -1
            jobs = self._group_jobs()
        o = Op(kind, spec, dt, res, warm, jobs, state, err)
        self.ops.append(o)
        return o


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def _oracle_for(docs: dict[int, str]):
    from pysearch.oracle import BruteForceIndex

    ids = sorted(docs)
    return BruteForceIndex(ids, [docs[i] for i in ids])


def _load_corpus(ctx: Ctx, n_docs: int):
    import pandas as pd

    d = corpus.documents_dir(ctx.cache_dir, ctx.seed, n_docs)
    pdf = pd.read_parquet(os.path.join(d, "documents.parquet"))
    docs = dict(zip(pdf["doc_id"].astype(int), pdf["text"]))
    oracle = _oracle_for(docs)
    stats = corpus.corpus_stats(oracle.postings)
    ctx.info["corpus"] = {"n_docs": len(docs), **stats,
                          "text_bytes": int(pdf["text"].str.len().sum())}
    return d, docs, oracle


def _terms(text: str) -> list[str]:
    from pysearch import analysis

    return analysis.analyze(text)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    return float(np.percentile(xs, q)) if xs else 0.0


def _secs(ctx: Ctx, kind: str) -> list[float]:
    return [o.seconds for o in ctx.ops if o.kind == kind and not o.warm]


def _segment(ctx: Ctx, docs_dir: str):
    """The committed segment every read is served from (part of setup)."""
    from pysearch import store

    seg = store.segment_index(ctx.spark, docs_dir, n_buckets=N_BUCKETS)
    if ctx.traced:
        ctx.setup_jobs = ctx._group_jobs()
    ctx.info["segment_dir"] = seg.disk_path
    return seg


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


def run_serve(ctx: Ctx) -> None:
    """Read-only traffic over one committed, disk-backed segment."""
    from pysearch import exec as pexec

    docs_dir, docs, oracle = ctx.bench_side(
        lambda: _load_corpus(ctx, SERVE_DOCS))
    texts = [docs[i] for i in sorted(docs)]
    stream = ctx.bench_side(
        lambda: corpus.query_stream(ctx.seed, oracle.postings, texts))
    qstrings = ctx.bench_side(
        lambda: corpus.query_strings(ctx.seed, oracle.postings, texts))
    ctx.tracer.active = True
    ctx.start_spark()
    seg = _segment(ctx, docs_dir)
    ctx.info["read_kinds"] = ("search", "interactive")

    def search(q):
        return pexec.search(seg, q[0], k=q[1], mode=q[2]).collect()

    def interactive(q):
        return pexec.search_interactive(seg, q[0], k=q[1], mode=q[2])

    def query_string(s):
        return pexec.search_query_string(seg, s, k=10).collect()

    def batch(qs):
        return pexec.search_many(
            seg, [pexec.Query(i, _terms(t), k, m) for i, (t, k, m) in enumerate(qs)]
        ).collect()

    # A round sends one query of every stream kind through both front
    # doors, with a query_string op after each half of the kinds, then one
    # search_many batch, so every run times the same mix of kinds and its
    # heavy ops are spread over the window. The doors alternate which
    # goes first, so in every run the same reads follow a Spark job.
    def play_round(rnd: int, warm: bool = False, heavy: bool = True) -> None:
        for j in range(ROUND_QUERIES):
            q = stream[(rnd * ROUND_QUERIES + j) % len(stream)]
            pair = [("search", search), ("interactive", interactive)]
            for kind, fn in (pair if j % 2 == 0 else pair[::-1]):
                ctx.op(kind, q, lambda: fn(q), warm=warm)
            if heavy and j in QS_AFTER:
                s = qstrings[(rnd * len(QS_AFTER) + QS_AFTER.index(j)) % len(qstrings)]
                ctx.op("query_string", s, lambda: query_string(s), warm=warm)
        if heavy:
            lo = (rnd * BATCH_SIZE) % len(stream)
            qs = (stream + stream)[lo:lo + BATCH_SIZE]
            ctx.op("batch", qs, lambda: batch(qs), warm=warm)

    # warm-up (part of setup), from the end of the stream so it shares no
    # query with the window: two passes of the kinds through both doors
    # around one query_string and one batch, so JIT and first-call costs
    # do not land in the timed window (a single warm-up round left the
    # first timed round 15-30 % slower than the next)
    last = len(stream) // ROUND_QUERIES - 1
    play_round(last, warm=True, heavy=False)
    s_warm, b_warm = qstrings[-1], stream[-BATCH_SIZE:]
    ctx.op("query_string", s_warm, lambda: query_string(s_warm), warm=True)
    ctx.op("batch", b_warm, lambda: batch(b_warm), warm=True)
    play_round(last - 1, warm=True, heavy=False)
    ctx.end_setup()

    # whole rounds until the window closes
    t_end = time.perf_counter() + ctx.seconds
    rnd = 0
    while time.perf_counter() < t_end:
        play_round(rnd)
        rnd += 1
    ctx.tracer.active = False

    # ---- check every op (outside the timed window) --------------------------
    import duckdb

    from pysearch import oracle_sql, plan

    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(docs_dir, 'documents.parquet')}')")
    expect: dict = {}

    def topk(q):
        key = tuple(q)
        if key not in expect:
            expect[key] = oracle.search(_terms(q[0]), k=q[1], mode=q[2])
        return expect[key]

    for o in ctx.ops:
        if o.result is _FAILED:
            continue
        if o.kind in ("search", "interactive"):
            o.error = checker.check_topk(checker.rows_of(o.result), topk(o.spec))
        elif o.kind == "query_string":
            want = con.sql(oracle_sql.tree_sql(
                plan.parse_query_string(o.spec), 10)).fetchall()
            o.error = checker.check_rounded(checker.rows_of(o.result), want,
                                            oracle_sql.ROUND_DIGITS)
        elif o.kind == "batch":
            by_q: dict[int, list] = {}
            for r in o.result:
                by_q.setdefault(int(r["query_id"]), []).append(
                    (int(r["doc_id"]), float(r["score"])))
            for qid, q in enumerate(o.spec):
                got = sorted(by_q.get(qid, []), key=lambda ds: (-ds[1], ds[0]))
                o.error = checker.check_topk(got, topk(q))
                if o.error:
                    o.error = f"batch query {qid}: {o.error}"
                    break
    con.close()

    b_secs = _secs(ctx, "batch")
    n_batch_q = sum(len(o.spec) for o in ctx.ops if o.kind == "batch" and not o.warm)
    s, it, qs_ = _secs(ctx, "search"), _secs(ctx, "interactive"), _secs(ctx, "query_string")
    ctx.info["e2e"] = {
        "search_p50_ms": 1e3 * _median(s),
        "interactive_p50_ms": 1e3 * _median(it),
        "heavy_op_p50_ms": 1e3 * _median(qs_),
    }
    ctx.info["detail"] = {
        "search_p50_ms": 1e3 * _median(s), "search_p90_ms": 1e3 * _pct(s, 90),
        "interactive_p50_ms": 1e3 * _median(it),
        "interactive_p90_ms": 1e3 * _pct(it, 90),
        "query_string_p50_ms": 1e3 * _median(qs_),
        "batch_qps": n_batch_q / sum(b_secs) if b_secs else 0.0,
        "samples": {"search": len(s), "interactive": len(it),
                    "query_string": len(qs_), "batch": len(b_secs)},
    }
    if ctx.traced:
        # Σdf per batch, the figure search_many picks its strategy from
        ctx.info["batch_sum_df"] = _median([
            sum(len(oracle.postings.get(t, {})) for q in o.spec for t in set(_terms(q[0])))
            for o in ctx.ops if o.kind == "batch" and not o.warm])


# ---------------------------------------------------------------------------
# update_mix
# ---------------------------------------------------------------------------


def run_update_mix(ctx: Ctx) -> None:
    """Writes beside reads: update_doc / delete_doc, each followed by
    READS_PER_WRITE search_view reads (the first is the refresh); the run
    ends with versioning.compact. A point-in-time interactive read of the
    committed base segment follows every write, view read and the
    compact, so those reads span the whole timed section."""
    from pysearch import exec as pexec
    from pysearch import versioning

    docs_dir, docs, base_oracle = ctx.bench_side(
        lambda: _load_corpus(ctx, UPDATE_DOCS))
    texts = [docs[i] for i in sorted(docs)]
    stream = ctx.bench_side(
        lambda: corpus.query_stream(ctx.seed, base_oracle.postings, texts))
    new_texts = ctx.bench_side(lambda: list(corpus.generate(
        ctx.seed + 1000, 64)["text"]))
    rng = np.random.default_rng(ctx.seed + 5)

    ctx.tracer.active = True
    ctx.start_spark()
    seg = _segment(ctx, docs_dir)
    ctx.info["read_kinds"] = ("view_search", "refresh", "interactive")
    view = versioning.open_view(seg)

    def view_read(v, q):
        return versioning.search_view(v, q[0], k=q[1], mode=q[2]).collect()

    def pit_read(q):
        return pexec.search_interactive(seg, q[0], k=q[1], mode=q[2])

    physical = dict(docs)          # every doc version the index holds
    deletes: frozenset = frozenset()
    state = (len(physical), deletes)
    for q in stream[-WARM_READS:]:
        ctx.op("view_search", q, lambda: view_read(view, q), warm=True, state=state)
        ctx.op("interactive", q, lambda: pit_read(q), warm=True)
    ctx.end_setup()

    n_pit = 0

    def pit():
        """One point-in-time read of the committed base segment."""
        nonlocal n_pit
        pq = stream[n_pit % len(stream)]
        n_pit += 1
        ctx.op("interactive", pq, lambda: pit_read(pq))

    t_end = time.perf_counter() + ctx.seconds
    w = n_q = 0
    next_id = max(physical) + 1
    # one loop unit is an update then a delete, each followed by its reads,
    # so every run times both write kinds
    while time.perf_counter() < t_end or w % 2:
        live = sorted(set(physical) - deletes)
        target = int(live[int(rng.integers(0, len(live)))])
        if w % 2 == 0:
            text = new_texts[w % len(new_texts)]
            o = ctx.op("update", target,
                       lambda: versioning.update_doc(view, target, text))
            physical[next_id] = text
            next_id += 1
        else:
            o = ctx.op("delete", target,
                       lambda: versioning.delete_doc(view, target))
        if o.result is _FAILED:
            break
        pit()
        view = o.result
        deletes = deletes | {target}
        state = (len(physical), deletes)
        for r in range(READS_PER_WRITE):
            q = stream[n_q % len(stream)]
            n_q += 1
            ctx.op("refresh" if r == 0 else "view_search", q,
                   lambda: view_read(view, q), state=state)
            pit()
        w += 1

    def compact():
        idx = versioning.compact(view)
        for t in (idx.postings, idx.docs, idx.term_stats):
            t.count()
        return idx

    c = ctx.op("compact", None, compact)
    pit()
    compacted = c.result
    if compacted is not _FAILED:
        for q in stream[:4]:
            ctx.op("compact_search", q, lambda: pexec.search(
                compacted, q[0], k=q[1], mode=q[2]).collect(), warm=True,
                state=(len(physical), deletes))
    ctx.tracer.active = False
    kept = (set() if compacted is _FAILED else
            {int(r[0]) for r in compacted.docs.select("doc_id").collect()})

    # ---- check every op --------------------------------------------------
    oracles = {len(docs): base_oracle}
    versions = sorted(physical)
    live_oracle = _oracle_for({d: physical[d] for d in versions if d not in deletes})
    for o in ctx.ops:
        if o.result is _FAILED or o.kind in ("update", "delete", "compact"):
            continue
        terms = _terms(o.spec[0])
        if o.kind == "interactive":
            want = base_oracle.search(terms, k=o.spec[1], mode=o.spec[2])
        elif o.kind == "compact_search":
            want = live_oracle.search(terms, k=o.spec[1], mode=o.spec[2])
        else:
            n_phys, dels = o.state
            if n_phys not in oracles:
                oracles[n_phys] = _oracle_for({d: physical[d] for d in versions[:n_phys]})
            want = checker.view_oracle(oracles[n_phys], terms, o.spec[1],
                                       o.spec[2], dels)
        o.error = checker.check_topk(checker.rows_of(o.result), want)
    live = set(versions) - deletes
    if compacted is not _FAILED and (kept != live or compacted.stats.n_docs != len(live)):
        c.error = (f"compacted index holds {len(kept)} docs (stats: "
                   f"{compacted.stats.n_docs}); {len(kept - live)} not live, "
                   f"{len(live - kept)} live ones missing")

    # write-to-visible: each update plus the refresh read that follows it
    heavy, update_s = [], None
    for o in ctx.ops:
        if o.kind == "update":
            update_s = o.seconds
        elif o.kind in ("delete", "refresh"):
            if o.kind == "refresh" and update_s is not None:
                heavy.append(update_s + o.seconds)
            update_s = None
    vs, it = _secs(ctx, "view_search"), _secs(ctx, "interactive")
    ctx.info["e2e"] = {
        "search_p50_ms": 1e3 * _median(vs),
        "interactive_p50_ms": 1e3 * _median(it),
        "heavy_op_p50_ms": 1e3 * _median(heavy),
    }
    ctx.info["detail"] = {
        "update_p50_ms": 1e3 * _median(_secs(ctx, "update")),
        "delete_p50_ms": 1e3 * _median(_secs(ctx, "delete")),
        "refresh_p50_ms": 1e3 * _median(_secs(ctx, "refresh")),
        "view_search_p50_ms": 1e3 * _median(vs),
        "interactive_p50_ms": 1e3 * _median(it),
        "compact_s": c.seconds,
        "samples": {"update": len(_secs(ctx, "update")),
                    "delete": len(_secs(ctx, "delete")),
                    "refresh": len(_secs(ctx, "refresh")),
                    "view_search": len(vs), "interactive": len(it)},
    }


WORKLOADS = {"serve": run_serve, "update_mix": run_update_mix}


# ---------------------------------------------------------------------------
# per-layer reduction (traced run)
# ---------------------------------------------------------------------------


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def segment_counts(seg_dir: str) -> dict:
    """Exact layout counts of a committed segment, read with pyarrow."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    ts = ds.dataset(os.path.join(seg_dir, "term_stats"), format="parquet").to_table(
        columns=["n_salts"])
    po = ds.dataset(os.path.join(seg_dir, "postings"), format="parquet",
                    partitioning="hive").to_table(columns=["n_in_block"])
    out = {
        "build.terms": ts.num_rows,
        "build.salted_terms": int(pc.sum(pc.greater(ts["n_salts"], 1)).as_py() or 0),
        "build.postings": int(pc.sum(po["n_in_block"]).as_py() or 0),
        "build.blocks": po.num_rows,
    }
    for t in ("docs", "postings", "term_stats", "positions"):
        out[f"build.bytes.{t}"] = _dir_bytes(os.path.join(seg_dir, t))
    return out


def layer_metrics(ctx: Ctx, rss: dict) -> dict:
    tr = ctx.tracer
    per_op = tr.per_op()
    setup = [s for s in tr.spans if s.op_id < 0]
    m = {k: 0.0 for k in PER_LAYER}

    def first(name):
        return next((s.end - s.start for s in setup if s.name == name), 0.0)

    m["session.start_s"] = first("session.get_spark")
    m["store.segment_index_s"] = first("store.segment_index")
    m["build.build_index_s"] = first("build.build_index")
    m["build.write_index_s"] = first("build.write_index")
    m["build.load_index_s"] = first("build.load_index")
    m["build.spark_jobs"] = ctx.setup_jobs
    m.update(segment_counts(ctx.info["segment_dir"]))

    timed = [(i, o) for i, o in enumerate(ctx.ops) if not o.warm]

    def med(kinds, f):
        return _median([f(i, o) for i, o in timed if o.kind in kinds])

    def selfs(i, name):
        return per_op.get(i, {}).get("self", {}).get(name, 0.0)

    def durs(i, name):
        return per_op.get(i, {}).get("dur", {}).get(name, 0.0)

    def count(i, name):
        return per_op.get(i, {}).get("counts", {}).get(name, 0)

    reads, df_read = set(ctx.info["read_kinds"]), ctx.info["read_kinds"][0]
    for span, metric in _QUERY_LAYERS.items():
        f = durs if span in ("analysis.analyze", "codec.decode_blocks_concat") else selfs
        m[metric] = 1e3 * med(reads, lambda i, o, s=span, f=f: f(i, s))
    n_reads = sum(1 for _, o in timed if o.kind in reads)
    m["exec.term_meta_jobs"] = sum(
        count(i, "jobs") for i, o in timed if o.kind in reads) / max(n_reads, 1)
    # block counts come from the driver-local read path, which every
    # workload exercises through search_interactive
    inter = {"interactive"}
    m["exec.block_rows_read"] = med(inter, lambda i, o: count(i, "block_rows_read"))
    m["exec.blocks_decoded"] = med(inter, lambda i, o: count(i, "blocks_decoded"))
    rows = sum(count(i, "block_rows_read") for i, o in timed if o.kind in inter)
    dec = sum(count(i, "blocks_decoded") for i, o in timed if o.kind in inter)
    m["exec.decode_ratio"] = dec / rows if rows else 0.0
    m["exec.result_ms"] = 1e3 * med({df_read}, lambda i, o: o.seconds - sum(
        (durs if s in ("analysis.analyze", "codec.decode_blocks_concat") else selfs)(i, s)
        for s in _QUERY_LAYERS))
    m["exec.jobs_per_search"] = med({df_read}, lambda i, o: o.jobs)
    m["exec.jobs_per_interactive"] = med({"interactive"}, lambda i, o: o.jobs)
    m["exec.jobs_per_batch"] = med({"batch"}, lambda i, o: o.jobs)
    m["exec.batch_sum_df"] = ctx.info.get("batch_sum_df", 0)
    m["plan.parse_ms"] = 1e3 * med({"query_string"},
                                   lambda i, o: durs(i, "plan.parse_query_string"))
    m["exec.search_tree_ms"] = 1e3 * med(
        {"query_string"}, lambda i, o: o.seconds - durs(i, "plan.parse_query_string"))
    m["exec.jobs_per_query_string"] = med({"query_string"}, lambda i, o: o.jobs)
    m["versioning.delta_build_ms"] = 1e3 * med({"update"},
                                               lambda i, o: durs(i, "build.build_index"))
    m["merge.merge_indexes_ms"] = 1e3 * med({"update"},
                                            lambda i, o: durs(i, "merge.merge_indexes"))
    m["versioning.jobs_per_update"] = med({"update"}, lambda i, o: o.jobs)
    m["versioning.jobs_per_refresh"] = med({"refresh"}, lambda i, o: o.jobs)
    m["versioning.jobs_per_view_search"] = med({"view_search"}, lambda i, o: o.jobs)
    m["proc.driver_rss_mb"] = rss["driver_mb"]
    m["proc.jvm_rss_mb"] = rss["jvm_mb"]

    # tracing cost and span-tree accounting on the read ops' blocking path
    per_span = spans.calibrate_overhead()
    n_spans = {i: 0 for i, _ in timed}
    for s in tr.spans:
        if s.op_id in n_spans:
            n_spans[s.op_id] += 1
    m["trace.overhead_pct"] = 100 * med(
        reads, lambda i, o: n_spans[i] * per_span / o.seconds if o.seconds else 0.0)
    # the op's root span holds only the benchmark's own call; its self
    # time is the part of the op's wall that no pysearch or Spark span
    # covers. Worst read op, since each op must be accounted for.
    m["trace.unaccounted_pct"] = 100 * max(
        (selfs(i, "op." + o.kind) / o.seconds for i, o in timed
         if o.kind in reads and o.seconds), default=0.0)
    return m
