#!/usr/bin/env python3
"""Benchmark of the d-bigram index builder and the join-mode query engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout of the repository. Workloads, chosen in
``METRICS.md``:

- ``build_dbigram``: repeated warm d-bigram builds over a generated
  source-code corpus; one operation is one materialised build;
- ``serve_adhoc``: small ``wand_topk(mode="join")`` query batches over a
  d-bigram index built during set-up; one operation is one batch.

Each run is one single-process, closed-loop client at ``local[nproc]``. It
starts the session and sets up once, cold, as a user's process does; warms
up until operation times level off; then times operations for
``--seconds``. The first warm-up build, a fixed sample of posting lists
and a fixed sample of queries are checked against ``oracle.OracleIndex``
outside the timed region and outside the set-up time. The next-to-last
line of standard output is a JSON record of host, corpus and run facts;
the last line is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` also records
spans, tags Spark jobs with job groups, writes the Spark event log, runs
the per-layer probes and reports the per-layer metrics instead; its spans
and job-group figures are written to ``.bench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import sys
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import ledger  # noqa: E402
from ledger import Tracer, median, tail  # noqa: E402

K = 10               # results per query
DISTANCE = 5         # d-bigram window, the paper's default
WARMUP_LEVEL = 0.10  # warm-up ends once the last 3 ops are within ±10%
# ... or after this many ops: builds are still drifting down by a few % per
# build after 6, which the run-time budget cannot wait for
WARMUP_MAX_OPS = {"build_dbigram": 4, "serve_adhoc": 5}
ORACLE_QUERIES = 48  # checked per batch, from the first and last batch
PROBE_BATCHES = 3    # query batches replayed per layer probe
BATCH = 40           # queries per serve_adhoc batch and per probe batch

# corpus documents per workload: the `tiny` scale of FIXTURES.md §1
WORKLOADS = {"build_dbigram": 200, "serve_adhoc": 200}

END_TO_END = {"setup_s": "s", "op_ms_p50": "ms", "items_per_s": "1/s",
              "index_bytes_per_posting": "B"}
STAGES = ("tokenizer.tokenize", "build.stats", "build.score",
          "build.pair_kernel", "build.encode")
# per build stage, from the event log; GC is given as a share of executor
# run time because its seconds are exactly 0 in most short stages
STAGE_FIGURES = {"run_s": "s", "shuffle_write_bytes": "B", "spill_bytes": "B",
                 "gc_frac": "ratio", "task_skew": "ratio"}
PER_LAYER = {"config.session_start_s": "s"}
for _st in STAGES:
    PER_LAYER[_st + "_s"] = "s"
    for _f, _u in STAGE_FIGURES.items():
        PER_LAYER[f"{_st}.{_f}"] = _u
PER_LAYER.update({
    "build.stage_sum_frac": "ratio",
    "build.postings_uni": "count", "build.postings_pair": "count",
    "indexcodec.terms": "count", "indexcodec.blob_bytes": "B",
    "queryengine.prepare_s": "s", "queryengine.prepared_bytes": "B",
    "queryengine.fixed_ms": "ms", "queryengine.kernel_ms": "ms",
    "queryengine.kernel_us_p50": "us", "queryengine.kernel_us_tail": "us",
    "queryengine.resolve_ms": "ms", "queryengine.matched_rows": "count",
    "queryengine.matched_bytes": "B", "queryengine.shuffle_bytes": "B",
    "trace.overhead_frac": "ratio",
})


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_probe_ms() -> float:
    """Median of 5 runs of a fixed pure-Python loop, in ms: the host's
    single-core speed at this moment. On a shared host it tells a slow
    phase of the machine apart from a slow program."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        s = 0
        for i in range(200_000):
            s += i * i % 7
        times.append(time.perf_counter() - t0)
    return median(times) * 1e3


def host_facts() -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"nproc": nproc(), "cpu": model, "mem_gib": round(mem / 2**30, 1),
            "python": platform.python_version(),
            "platform": platform.platform(),
            # share of CPU time since boot taken by other tenants
            "cpu_steal_share": cpu[7] / sum(cpu) if len(cpu) > 7 else None}


def prepare_environment(work: str, trace_on: bool) -> None:
    """Point every scratch location at this run's own directory and pass
    launch settings to the JVM. Must run before the JVM starts."""
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_LOCAL_DIRS": local, "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(nproc()), "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable})
    # every JVM (the launcher too): temp files here, and no hsperfdata
    # files, which HotSpot writes under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'wh')}"]
    if trace_on:
        events = os.path.join(work, "events")
        os.makedirs(events)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{events}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "X"


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL what is left after ``timeout``
    and wait for that too."""
    deadline = time.time() + timeout
    killed = False
    while True:
        live = [p for p in pids if _state(p) not in ("X", "Z")]
        if not live:
            return
        if time.time() > deadline:
            if killed:
                raise RuntimeError(f"processes {live} outlived SIGKILL")
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.time() + 10
        time.sleep(0.1)


class Bench:
    """One run of one workload: set-up, warm-up, timed window, checks."""

    def __init__(self, args, work: str):
        self.args = args
        self.name = args.workload
        self.trace_on = bool(args.trace)
        self.info: dict = {"workload": self.name, "seed": args.seed,
                           "seconds": args.seconds, "trace": args.trace,
                           "host": host_facts(), "loadavg_before": loadavg(),
                           "cpu_probe_ms_before": cpu_probe_ms()}
        self.corpus = gen.Corpus(args.seed, WORKLOADS[self.name])
        self.corpus_path = os.path.join(work, "corpus.parquet")
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_table(pa.table({
            "doc_id": pa.array([d for d, _ in self.corpus.docs], pa.int64()),
            "text": [t for _, t in self.corpus.docs]}), self.corpus_path)
        self.failed = 0
        self.mismatches: list[str] = []
        self.seg = self.stats = None
        self.spark = None
        self.warm: list[dict] = []

    # -- session ------------------------------------------------------------
    def start(self) -> None:
        t0 = time.time()
        # imported here, not at module level, so that a checkout without
        # the engine exits non-zero before printing any result
        from pyspark.sql import functions as F
        from candidategeneration_spark import build, indexcodec, queryengine
        from candidategeneration_spark.config import get_spark
        from candidategeneration_spark.oracle import OracleIndex
        self.F, self.build, self.codec, self.qe = F, build, indexcodec, \
            queryengine
        self.spark = get_spark(f"local[{nproc()}]")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.session_start_s = time.time() - t0
        self.oracle = OracleIndex(self.corpus.docs, dbigram_distance=DISTANCE)
        self.tracer = Tracer(f"{self.name}-{self.args.seed}",
                             self.sc if self.trace_on else None)
        self.tracer.enabled = self.trace_on

    def stop(self) -> None:
        """Stop Spark, the gateway JVM and every process under this one."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        kids = descendants(os.getpid())
        self.spark.stop()
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
        self.spark = None
        wait_gone(kids, 30)

    # -- set-up -------------------------------------------------------------
    def term(self, t) -> str:
        """The engine's string form of a generated term."""
        return self.build.PAIR_SEP.join(t) if isinstance(t, tuple) else t

    def setup(self) -> float:
        """Corpus load and, for serving, the index build that the timed
        window runs against; returns its seconds."""
        t0 = time.time()
        with self.tracer.span("setup.load"):
            self.docs = self.spark.read.parquet(self.corpus_path)
            self.docs.count()
        if self.name == "serve_adhoc":
            tb = time.time()
            with self.tracer.span("setup.build"):
                self.seg, self.stats = self.materialised_build()
            self.info["setup_build_s"] = time.time() - tb
        return time.time() - t0

    def materialised_build(self):
        seg, stats = self.build.build_index(self.docs,
                                            dbigram_distance=DISTANCE)
        seg = seg.persist()
        seg.count()
        return seg, stats

    def release(self) -> None:
        if self.seg is not None:
            self.seg.unpersist()
            self.build.release_build_caches(self.stats)
            self.seg = self.stats = None

    # -- operations ---------------------------------------------------------
    def batch(self, b: int) -> dict:
        """Query batch ``b``: its rows and DataFrame, built before any
        clock starts. qids are unique across the run."""
        n = BATCH
        qs = gen.queries(self.corpus, self.args.seed * 100_003 + b, n)
        rows = [(b * n + i, [self.term(t) for t in q])
                for i, q in enumerate(qs)]
        return {"rows": rows, "qdf": self.spark.createDataFrame(
            rows, "qid long, terms array<string>")}

    def op(self, i: int) -> dict:
        """One operation: a build, or one query batch with its results
        fetched to the client. The first warm-up build (``i == -1``) is
        persisted and checked; the others are computed in full by a no-op
        write, as timed ones are, so no build can be answered from a
        previous one's cached segments."""
        if self.name == "build_dbigram":
            t0 = time.time()
            with self.tracer.span("op.build"):
                seg, stats = self.build.build_index(
                    self.docs, dbigram_distance=DISTANCE)
                if i == -1:
                    seg = seg.persist()
                    seg.count()
                else:
                    seg.write.format("noop").mode("overwrite").save()
            rec = {"s": time.time() - t0, "items": 1}
            self.build.release_build_caches(stats)
            if i == -1:
                self.check_build(rec, seg)
            return rec
        rec = self.batch(i)
        t0 = time.time()
        with self.tracer.span("op.batch"):
            rec["result"] = self.qe.wand_topk(self.seg, rec["qdf"], k=K,
                                              mode="join").toArrow()
        rec["s"] = time.time() - t0
        rec["items"] = len(rec["rows"])
        return rec

    def run_ops(self, seconds: float) -> list[dict]:
        """Operations for ``seconds``. In a traced run every other one is
        traced, so that drift over the window cancels out of the tracing
        overhead."""
        out, i, t_end = [], 0, time.time() + seconds
        while time.time() < t_end or len(out) < 1 + self.trace_on:
            self.tracer.enabled = self.trace_on and i % 2 == 1
            try:
                out.append(dict(self.op(i), traced=self.tracer.enabled))
            except Exception as e:  # a raising op counts as failed
                print(f"op {i} raised: {e!r}", file=sys.stderr)
                n = 1 if self.name == "build_dbigram" else BATCH
                self.failed += n
                out.append({"s": None, "items": n})
            i += 1
        self.tracer.enabled = self.trace_on
        return out

    def warm_up(self) -> list[float]:
        times: list[float] = []
        for i in range(WARMUP_MAX_OPS[self.name]):
            rec = self.op(-1 - i)
            self.warm.append(rec)
            times.append(rec["s"])
            last = times[-3:]
            m = median(last)
            if len(last) == 3 and all(abs(x - m) <= WARMUP_LEVEL * m
                                      for x in last):
                break
        return times

    # -- checks ---------------------------------------------------------------
    def index_counts(self, seg) -> dict:
        F = self.F
        is_pair = F.col("term").contains(self.build.PAIR_SEP)
        r = seg.agg(
            F.count("*").alias("terms"),
            F.sum(F.when(is_pair, 0).otherwise(F.col("df"))).alias("uni"),
            F.sum(F.when(is_pair, F.col("df")).otherwise(0)).alias("pair"),
            F.sum(F.length("did_blob") + F.length("score_blob")
                  + F.length("tf_blob")).alias("bytes")).collect()[0]
        return {"terms": int(r["terms"]), "postings_uni": int(r["uni"] or 0),
                "postings_pair": int(r["pair"] or 0),
                "blob_bytes": int(r["bytes"] or 0)}

    def check_index(self, seg) -> dict:
        """Counts and a fixed sample of posting lists against the oracle.
        Any difference is recorded in ``mismatches``; returns the counts."""
        o = self.oracle
        c = self.index_counts(seg)
        want = {"terms": len(o.df) + len(o.pair_docs),
                "postings_uni": sum(len(x) for x in o.tf.values()),
                "postings_pair": sum(len(v) for v in o.pair_docs.values())}
        for k, v in want.items():
            if c[k] != v:
                self.mismatches.append(f"{k} {c[k]} != {v}")
        terms = self.sample_terms()
        names = {self.term(t): t for t in terms}
        rows = seg.where(self.F.col("term").isin(list(names))).collect()
        got = {r["term"]: self.codec.segment_from_row(r) for r in rows}
        for name, t in names.items():
            pair = isinstance(t, tuple)
            want_list = o.pair_postings(*t) if pair else o.postings(t)
            have: list = []
            if name in got:
                dids, scores, tfs = (a.tolist() for a in
                                     got[name].decode_all())
                have = list(zip(dids, scores)) if pair else \
                    list(zip(dids, tfs, scores))
            if have != want_list:
                self.mismatches.append(f"posting list {name!r}")
        return c

    def check_build(self, rec: dict, seg) -> None:
        """Check one build, then drop its segments: a later build with the
        same plan would otherwise be answered from Spark's cache."""
        try:
            before = len(self.mismatches)
            rec["counts"] = self.check_index(seg)
            if len(self.mismatches) > before:
                self.failed += 1
        finally:
            seg.unpersist()

    def sample_terms(self) -> list:
        """Fixed per run: hot, middle and tail unigrams and 8 pair terms."""
        import numpy as np
        by_df = self.corpus.by_df
        n = len(by_df)
        terms: list = [by_df[i] for i in sorted(
            {0, 1, n // 100, n // 10, n // 4, n // 2, 3 * n // 4, n - 1})]
        rng = np.random.default_rng([self.args.seed, 0x5A])
        while len(terms) < 16:
            p = self.corpus.pair_at(
                rng, int(rng.integers(0, len(self.corpus.docs))), DISTANCE)
            if p is not None and p not in terms:
                terms.append(p)
        return terms

    def expected_topk(self, terms: list[str]) -> list[tuple[int, int]]:
        o, sep = self.oracle, self.build.PAIR_SEP
        if not any(sep in t for t in terms):
            return o.topk(terms, K)
        scores: dict[int, int] = {}
        for t in set(terms):
            lst = o.pair_postings(*t.split(sep)) if sep in t else \
                [(d, s) for d, _, s in o.postings(t)]
            for d, s in lst:
                scores[d] = scores.get(d, 0) + s
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:K]

    def check_batch(self, rec: dict) -> int:
        """Check an evenly spaced sample of one batch's queries against the
        oracle; returns how many were checked."""
        t = rec["result"].to_pydict()
        got: dict[int, list] = {}
        for q, r, d, s in zip(t["qid"], t["rank"], t["doc_id"],
                              t["score_q"]):
            got.setdefault(q, []).append((r, d, s))
        rows = rec["rows"]
        sample = rows[::max(1, len(rows) // ORACLE_QUERIES)]
        for qid, terms in sample:
            have = [(d, s) for _, d, s in sorted(got.get(qid, []))]
            if have != self.expected_topk(terms):
                self.failed += 1
                self.mismatches.append(f"qid {qid}")
        return len(sample)


def run_workload(b: Bench, work: str) -> dict:
    args = b.args
    b.start()
    setup_s = b.session_start_s + b.setup()
    b.info["session_start_s"] = b.session_start_s
    # seconds since process start at the end of each phase
    clock = b.info["phase_end_s"] = {"setup": time.time() - T_PROCESS}
    b.info["warmup_s"] = b.warm_up()
    clock["warmup"] = time.time() - T_PROCESS
    timed = b.run_ops(args.seconds)
    clock["window"] = time.time() - T_PROCESS
    done = [r for r in timed if r["s"] is not None]
    times = [r["s"] for r in done]
    attempted = sum(r["items"] for r in timed)
    if b.name == "build_dbigram":
        counts = b.warm[0]["counts"]
        checked = {"builds": 1}
        attempted += 1
    else:
        counts = b.check_index(b.seg)
        checked = {"queries": sum(b.check_batch(r) for r in
                                  (done[:1] + done[-1:] if len(done) > 1
                                   else done))}
    postings = counts["postings_uni"] + counts["postings_pair"]
    # items submitted: postings built, or queries sent
    items = postings * len(done) if b.name == "build_dbigram" else \
        sum(r["items"] for r in done)
    metrics = {
        "setup_s": setup_s,
        "op_ms_p50": median(times) * 1e3,
        # over the summed time of all timed operations, so the mean and
        # the tail count, which the median does not see
        "items_per_s": items / sum(times),
        "index_bytes_per_posting": counts["blob_bytes"] / postings,
    }
    tl = tail(times)
    b.info.update({
        "ops": len(timed), "op_s": times,
        "op_ms_tail": {"percentile": tl[0], "ms": tl[1] * 1e3} if tl else
        {"percentile": None, "ms": None,
         "why": f"{len(times)} ops; a tail needs 10 beyond the median"},
        "index": dict(counts, max_prepared_segments=(
            b.qe.MAX_PREPARED_SEGMENTS), share_of_max_prepared=(
            counts["terms"] / b.qe.MAX_PREPARED_SEGMENTS)),
    })
    clock["checks"] = time.time() - T_PROCESS
    layers = layer_ledger(b, done) if b.trace_on else None
    b.release()
    b.stop()
    if b.trace_on:
        finish_layers(b, layers, work)
    failed = min(b.failed, attempted)
    correct = failed == 0 and not b.mismatches
    b.info.update({
        "oracle": dict(checked, mismatches=b.mismatches[:20]),
        "ops_failed_frac": failed / attempted,
        "corpus": b.corpus.facts(DISTANCE), "end_to_end": metrics,
        "loadavg_after": loadavg(), "cpu_probe_ms_after": cpu_probe_ms()})
    if b.trace_on:
        out = {k: {"value": layers[k], "unit": u}
               for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u}
               for k, u in END_TO_END.items()}
    return {"info": b.info,
            "result": {"correct": correct, "attempted": attempted,
                       "failed": failed, "metrics": out}}


def layer_ledger(b: Bench, done: list) -> dict:
    """Per-layer figures, measured after the timed window with spans on.
    The same probes run on both workloads, on the workload's own corpus."""
    L: dict = {"config.session_start_s": b.session_start_s}
    traced = [r["s"] for r in done if r["traced"]]
    L["trace.overhead_frac"] = median(traced) / median(
        [r["s"] for r in done if not r["traced"]]) - 1
    # the set-up index goes first, so that no build below can be answered
    # from an equal plan in Spark's cache
    b.release()
    wholes = [whole_build(b)]
    spans, seg, cached = stage_split(b)
    for st, sp in spans.items():
        L[st + "_s"] = b.tracer.seconds(sp)
    b.stage_spans = spans
    c = b.check_index(seg)
    L.update({"build.postings_uni": c["postings_uni"],
              "build.postings_pair": c["postings_pair"],
              "indexcodec.terms": c["terms"],
              "indexcodec.blob_bytes": c["blob_bytes"]})
    serving_layers(b, L, seg)
    for df in cached:
        df.unpersist()
    # whole builds on both sides of the split, and on build_dbigram the
    # traced builds of the window too: one build varies by ±15% on a
    # shared host, more than the 10% the split is checked against
    wholes.append(whole_build(b))
    if b.name == "build_dbigram":
        wholes += traced
    L["build.stage_sum_frac"] = sum(
        b.tracer.seconds(s) for s in spans.values()) / median(wholes)
    return L


def whole_build(b: Bench) -> float:
    """One traced, materialised ``build_index``; returns its seconds."""
    with b.tracer.span("build.whole") as sp:
        seg, stats = b.materialised_build()
    seg.unpersist()
    b.build.release_build_caches(stats)
    return b.tracer.seconds(sp)


def stage_split(b: Bench):
    """Time the public stage functions of a d-bigram build, each
    materialised on its own, in the order and with the partition sizing
    that ``build.build_index`` uses. Returns (spans, segments, cached)."""
    B, docs, tr, sc = b.build, b.docs, b.tracer, b.sc
    spans: dict = {}
    n_docs = docs.count()
    tok_parts = min(sc.defaultParallelism,
                    max(1, -(-n_docs // B.DOCS_PER_TOKENIZE_TASK)))
    with tr.span("tokenizer.tokenize") as spans["tokenizer.tokenize"]:
        tokd = B.tokenize_docs(docs, input_partitions=tok_parts).persist()
        tokd.count()
    with tr.span("build.stats") as spans["build.stats"]:
        post = B.build_postings_from_tokens(tokd).persist()
        st = B.global_stats_from_postings(post, n_docs)
    with tr.span("build.score") as spans["build.score"]:
        scored = B.score_postings(post, st["n_docs"], st["avgdl"]).persist()
        scored.count()
    pair_parts = min(sc.defaultParallelism * 4, max(
        1, -(-st["total_tokens"] // B.TOKENS_PER_PAIR_TASK)))
    with tr.span("build.pair_kernel") as spans["build.pair_kernel"]:
        pairs = B.build_pair_postings_from_tokens(
            tokd, scored, DISTANCE, num_partitions=pair_parts).persist()
        pairs.count()
    hint = st["n_postings"] + DISTANCE * st["total_tokens"]
    with tr.span("build.encode") as spans["build.encode"]:
        seg = B.build_segments(B.pair_segment_input(scored, pairs), 0,
                               n_postings_hint=hint).persist()
        seg.count()
    return spans, seg, [seg, pairs, scored, post, tokd]


def serving_layers(b: Bench, L: dict, seg) -> None:
    """Serving-layer probes on ``PROBE_BATCHES`` fresh batches of the
    workload's query mix against the index ``seg``."""
    F, tr = b.F, b.tracer
    fixed, kernel_ms, per_q, resolve, mrows, mbytes, prep_s, prep_b = \
        [], [], [], [], [], [], [], []
    for j in range(PROBE_BATCHES):
        rec = b.batch(1_000_000 + j)
        qdf = rec["qdf"]
        with tr.span("queryengine.batch"):
            b.qe.wand_topk(seg, qdf, k=K, mode="join").toArrow()
        # the per-batch Spark floor: the same query rows through an
        # identity mapInPandas
        with tr.span("queryengine.fixed") as sp:
            qdf.mapInPandas(lambda it: it, schema=qdf.schema).count()
        fixed.append(tr.seconds(sp))
        qterms = qdf.select("qid", F.explode(F.array_distinct("terms"))
                            .alias("term"))
        with tr.span("queryengine.resolve") as sp:
            row = seg.join(F.broadcast(qterms), "term").agg(
                F.count("*").alias("n"),
                F.sum(F.length("did_blob") + F.length("score_blob")
                      + F.length("tf_blob")).alias("b")).collect()[0]
        resolve.append(tr.seconds(sp))
        mrows.append(int(row["n"]))
        mbytes.append(int(row["b"] or 0))
        terms = sorted({t for _, q in rec["rows"] for t in q})
        with tr.span("queryengine.prepare") as sp:
            prep = b.qe.prepare_index(seg, terms)
        prep_s.append(tr.seconds(sp))
        prep_b.append(sum(
            len(d["did_blob"]) + len(d["score_blob"]) + len(d["tf_blob"])
            + 8 * sum(len(d[f]) for f in ("block_last", "block_max",
                                          "block_n", "did_off",
                                          "score_off", "tf_off"))
            for _, d in prep.bc.value))
        # the top-k kernel alone: replay the batch single-threaded
        segs = {t: b.codec.Segment(**d) for t, d in prep.bc.value}
        prep.bc.unpersist(blocking=True)
        tot = 0.0
        for _, q in rec["rows"]:
            qs = [segs[x] for x in dict.fromkeys(q) if x in segs]
            t0 = time.perf_counter()
            b.qe.topk_auto(qs, K)
            el = time.perf_counter() - t0
            per_q.append(el)
            tot += el
        kernel_ms.append(tot * 1e3)
    tq = tail(per_q)
    b.info["kernel_us_tail_percentile"] = tq[0] if tq else None
    L.update({
        "queryengine.fixed_ms": median(fixed) * 1e3,
        "queryengine.resolve_ms": median(resolve) * 1e3,
        "queryengine.matched_rows": median(mrows),
        "queryengine.matched_bytes": median(mbytes),
        "queryengine.prepare_s": median(prep_s),
        "queryengine.prepared_bytes": median(prep_b),
        "queryengine.kernel_ms": median(kernel_ms),
        "queryengine.kernel_us_p50": median(per_q) * 1e6,
        "queryengine.kernel_us_tail": (tq[1] if tq else max(per_q)) * 1e6,
    })


def finish_layers(b: Bench, L: dict, work: str) -> None:
    """Event-log figures per span, read once the session has stopped and
    the log is complete; spans and job groups go to ``.bench_out/``."""
    events = os.path.join(work, "events")
    lines: list[str] = []
    for d, _, files in sorted(os.walk(events)):
        # a rolling log is a directory of events_* parts plus a status
        # file; the local file system adds hidden .crc checksum files
        for f in sorted(files):
            if not f.startswith((".", "appstatus")):
                with open(os.path.join(d, f)) as fh:
                    lines.extend(fh)
    groups = ledger.parse_event_log(lines)
    for st, sp in b.stage_spans.items():
        g = groups[sp["id"]]
        g["gc_frac"] = g["gc_s"] / g["run_s"] if g["run_s"] else 0.0
        for fig in STAGE_FIGURES:
            L[f"{st}.{fig}"] = g[fig]
    L["queryengine.shuffle_bytes"] = median(
        groups.get(s["id"], {}).get("shuffle_write_bytes", 0)
        for s in b.tracer.named("queryengine.batch"))
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"spans-{b.name}-{b.args.seed}.json"),
              "w") as fh:
        json.dump({"spans": b.tracer.spans, "job_groups": groups}, fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    bench = None
    try:
        prepare_environment(work, bool(args.trace))
        bench = Bench(args, work)
        out = run_workload(bench, work)
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    out["info"]["run_wall_s"] = time.time() - T_PROCESS
    print(json.dumps(out["info"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
