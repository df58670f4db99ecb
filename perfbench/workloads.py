"""The two workloads, run in-process against the public API of
binaryvectordb_spark.

Both are closed loops with one client thread on Spark ``local[nproc]``.
Every op type gets an untimed warm-up first; the timed phase then runs whole
rounds (see gen.py) until ``seconds`` have passed.  Correctness checks and the
float top-10 oracle run after the timed phase, never inside an op's timing.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np

from perfbench import gen, stats
from perfbench.gen import DIM, K, Op
from perfbench.tracing import SparkOps, Tracer

HIT_KEYS = ("doc_id", "score_hamming", "score_binary", "score_cossim", "doc")
# op kind -> the op type Spark job metrics are grouped by (RAM-tier
# searches run no Spark jobs)
SPARK_KIND = {"search": "search", "batch": "batch", "add": "write",
              "remove": "write", "compact": "write"}
WRITE_KINDS = ("add", "remove", "compact")


def hit_key(hits) -> list[tuple]:
    return [tuple(h[k] for k in HIT_KEYS) for h in hits]


class Oracle:
    """Exact float-cosine top-k over a fixed set of docs, in numpy."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = ids
        nrm = np.linalg.norm(vecs, axis=1, keepdims=True)
        self.unit = vecs / np.where(nrm > 0, nrm, 1.0)

    @classmethod
    def of_live(cls, live: dict, store: np.ndarray) -> "Oracle":
        """From a mirror mapping id -> (payload, store row)."""
        rows = np.fromiter((r for _, r in live.values()), np.int64)
        return cls(np.fromiter(live.keys(), np.int64), store[rows])

    def recall(self, q: np.ndarray, hits) -> float:
        """Share of the exact top-k that the hits recover."""
        return self.recalls(q[None, :], [hits])[0]

    def recalls(self, qs: np.ndarray, hits_list, chunk: int = 256) -> list:
        """``recall`` for each row of ``qs``, a matrix product per chunk."""
        out = []
        for a in range(0, len(qs), chunk):
            sims = qs[a:a + chunk] @ self.unit.T
            top = self.ids[np.argpartition(-sims, K, axis=1)[:, :K]]
            out += [len(set(t.tolist()) & {x["doc_id"] for x in h}) / K
                    for t, h in zip(top, hits_list[a:a + chunk])]
        return out


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM, read from /proc."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    total = hwm(os.getpid())
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    total += hwm(pid)
        except FileNotFoundError:
            pass  # exited while we were listing
    return total / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the JVM
    and the executor Python workers), reaped children included.  Unlike wall
    time it barely moves when other tenants load the host."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue   # exited since the listing; reaped into its parent
        total += sum(int(x) for x in fields[11:15])  # u/s time, cu/cs time
    return total / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError):
            pass
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


class Harness:
    """Op timing, failure accounting and (traced runs only) spans and Spark
    job groups, shared by both workloads."""

    def __init__(self, seed: int, seconds: float, trace: bool, workdir: str,
                 age_s):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.workdir = workdir
        self.age_s = age_s             # () -> seconds since process start
        self.tracer = Tracer() if trace else None
        if trace:
            self.tracer.install()
        self.spark = None
        self.sparkops: SparkOps | None = None
        self.records: list[dict] = []  # timed ops
        self.failed_checks: list[str] = []
        self.checks_run = 0
        self.write_diffs: list[dict] = []
        self.timed_cpu_s = 0.0

    # -- session ----------------------------------------------------------
    def start_spark(self):
        from binaryvectordb_spark import session
        self.spark = session.get_spark()
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.sparkops = SparkOps(self.spark.sparkContext)
        return self.spark

    def stop_spark(self) -> None:
        """Stop the SparkContext, then the JVM, and wait for both."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gw = sc._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    # -- ops --------------------------------------------------------------
    def call(self, op_id: str, kind: str, fn):
        """Run one op: (ok, result, wall seconds).  An exception is an op
        failure, reported on stderr."""
        spark_op = kind in SPARK_KIND
        if self.trace:
            self.tracer.op = op_id
            if spark_op:
                self.sparkops.begin(op_id, SPARK_KIND[kind])
        t = time.perf_counter()
        try:
            res, ok = fn(), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res, ok = None, False
        wall = time.perf_counter() - t
        if spark_op:   # RAM-tier ops are too many to log one by one
            print(f"perfbench: {op_id} {kind} {wall:.3f} s", file=sys.stderr)
        if self.trace:
            if spark_op:
                self.sparkops.end(op_id, wall)
            self.tracer.op = None
        return ok, res, wall

    def timed_rounds(self, rounds: list[list[Op]], execute) -> float:
        """Whole rounds until ``seconds`` have passed; returns the wall and
        sets ``timed_cpu_s``."""
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        for r, ops in enumerate(rounds):
            if r and time.perf_counter() - t0 >= self.seconds:
                break
            for i, op in enumerate(ops):
                rec = execute(f"pb-r{r}-{i}", op)
                rec["kind"] = op.kind
                self.records.append(rec)
        wall = time.perf_counter() - t0
        self.timed_cpu_s = tree_cpu_s() - cpu0
        return wall

    def phase(self, name: str) -> None:
        print(f"perfbench: {name} at {self.age_s():.2f} s", file=sys.stderr)

    def check(self, name: str, ok: bool) -> None:
        self.checks_run += 1
        if not ok:
            self.failed_checks.append(name)
            print(f"CHECK FAILED: {name}", file=sys.stderr)

    def failed(self) -> int:
        """Timed ops that raised or failed their check, plus failed checks."""
        return (sum(not r["ok"] for r in self.records)
                + len(self.failed_checks))

    def attempted(self) -> int:
        return len(self.records) + self.checks_run

    def walls(self, kind) -> list[float]:
        kinds = (kind,) if isinstance(kind, str) else kind
        return [1e3 * r["wall"] for r in self.records
                if r["kind"] in kinds and r["ok"]]

    # -- results ----------------------------------------------------------
    def common_metrics(self, wall: float, db_folder: str,
                       live_payloads) -> dict:
        m = {"ops_per_s": (len(self.records) / wall, "1/s"),
             "cpu_ms_per_op": (1e3 * self.timed_cpu_s / len(self.records),
                               "ms"),
             "failed_frac": (self.failed() / self.attempted(), "ratio")}
        size = sum(stats.dir_sizes(db_folder).values())
        m["space_amp"] = (stats.space_amp(size, live_payloads, DIM), "ratio")
        m["peak_rss_mb"] = (peak_rss_mb(), "MB")
        s = self.walls("search")
        m["search_p50_ms"] = (stats.median(s), "ms", f"n={len(s)}")
        t = stats.tail(s)
        if t is not None:
            m["search_tail_ms"] = (t[0], "ms", f"p{t[1]:.1f} of n={t[2]}")
        return m

    def layer_metrics(self, db) -> dict:
        """Per-layer numbers of a traced run: span timings, Spark per-op
        aggregates and storage counts."""
        tr = self.tracer
        timed = {r["id"] for r in self.records}
        m = {"session.get_spark_ms": (tr.ms("session.get_spark")[0], "ms"),
             "db.add_batch_df_ms": (tr.ms("db.add_batch_df")[0], "ms"),
             "db.search_self_ms": (
                 stats.median(tr.ms("db.search", timed, own=True)), "ms")}
        # every layer call made by a timed op: median duration and self time
        for name in sorted({s["name"] for s in tr.spans if s["op"] in timed}):
            m.setdefault(f"{name}_ms", (stats.median(tr.ms(name, timed)),
                                        "ms"))
            m.setdefault(f"{name}_self_ms", (
                stats.median(tr.ms(name, timed, own=True)), "ms"))
        if tr.ms("local_serve.from_dataframes"):
            m["local_serve.from_dataframes_ms"] = (
                tr.ms("local_serve.from_dataframes")[0], "ms")

        per_op = self.sparkops.collect()
        for t in ("search", "batch", "write"):
            recs = [v for k, v in per_op.items()
                    if k in timed and v["kind"] == t]
            if not recs:
                continue   # the workload runs no op of this type
            for f, unit in (("jobs", "count"), ("tasks", "count"),
                            ("shuffle_bytes", "bytes"),
                            ("input_bytes", "bytes"), ("job_wall_ms", "ms"),
                            ("executor_run_ms", "ms"),
                            ("executor_cpu_ms", "ms"),
                            ("driver_gap_ms", "ms")):
                m[f"spark.{f}_per_{t}"] = (
                    float(np.mean([r[f] for r in recs])), unit)
        m["spark.cache_bytes"] = (float(self.sparkops.cache_bytes()), "bytes")

        files = stats.dir_sizes(db.folder)
        m["db.live_files"] = (float(sum(
            1 for p in files if p.split("/", 1)[0] in stats.DATA_TABLES
            and p.endswith(".parquet"))), "count")
        m["db.manifests"] = (float(sum(
            1 for p in files if p.startswith("_log/v")
            and p.endswith(".json"))), "count")
        wd = self.write_diffs
        if wd:
            m["db.files_written_per_write"] = (
                float(np.mean([d["files"] for d in wd])), "count")
            m["db.buckets_rewritten_per_write"] = (
                float(np.mean([d["buckets"] for d in wd])), "count")
        ups = [d for d in wd if d["user_bytes"]]
        if ups:
            m["db.write_amp"] = (
                stats.write_amp(sum(d["bytes"] for d in ups),
                                sum(d["user_bytes"] for d in ups)), "ratio")
        return m


def write_corpus(path: str, corpus: gen.Corpus) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(corpus.vecs.ravel()), DIM).cast(pa.list_(pa.float32()))
    pq.write_table(pa.table({"doc_id": pa.array(corpus.ids),
                             "doc": corpus.payloads, "embedding": emb}), path)


# -- serve_read ---------------------------------------------------------------

def serve_read(h: Harness) -> dict:
    from binaryvectordb_spark import BinaryVectorDB
    inp = gen.serve_read(h.seed)
    path = os.path.join(h.workdir, "corpus.parquet")
    write_corpus(path, inp.corpus)
    h.phase("inputs written")
    spark = h.start_spark()
    h.phase("spark started")
    db = BinaryVectorDB(spark, os.path.join(h.workdir, "db"), dim=DIM)
    db.add_batch_df(spark.read.parquet(path))
    h.phase("corpus loaded")
    db.search(inp.corpus.vecs[0], k=K)    # builds the serving handles
    local = db.to_local_searcher()
    setup_s = h.age_s()
    h.phase("servable")
    Q = inp.queries

    def execute(op_id: str, op: Op) -> dict:
        if op.kind == "search":
            fn = lambda: db.search(Q[op.queries[0]], k=K)  # noqa: E731
        elif op.kind == "batch":
            fn = lambda: db.search_batch(  # noqa: E731
                [Q[i] for i in op.queries], k=K)
        else:
            fn = lambda: local.search(Q[op.queries[0]], k=K)  # noqa: E731
        ok, res, wall = h.call(op_id, op.kind, fn)
        return {"id": op_id, "ok": ok, "wall": wall, "res": res, "op": op}

    for i, op in enumerate(inp.warmup):
        execute(f"pb-w{i}", op)
    h.phase("warmed up")
    wall = h.timed_rounds(inp.rounds, execute)
    h.phase("timed phase done")

    # -- checks and the recall oracle, outside the timed phase -----------
    ok = [r for r in h.records if r["ok"]]
    # db.search equals the RAM tier (the to_local_searcher contract), each
    # search_batch query equals the per-query results of both, and every
    # RAM-tier result is k corpus docs with their payloads
    single = {r["op"].queries[0]: hit_key(r["res"]) for r in ok
              if r["kind"] == "search"}
    payload = dict(zip(inp.corpus.ids.tolist(), inp.corpus.payloads))
    # (query row, hits) for recall: every Spark-path query.  RAM-tier hits
    # are left out; they equal db.search's, and the oracle's cost would
    # grow with their count
    pairs = []
    for rec in ok:
        op = rec["op"]
        hits = rec["res"] if op.kind == "batch" else [rec["res"]]
        for q, res in zip(op.queries, hits):
            if op.kind == "ram":
                rec["ok"] &= len(res) == K and all(
                    payload.get(x["doc_id"]) == x["doc"] for x in res)
            else:
                rec["ok"] &= hit_key(res) == hit_key(
                    local.search(Q[q], k=K))
                pairs.append((q, res))
            rec["ok"] &= hit_key(res) == single.get(q, hit_key(res))
        if not rec["ok"]:
            print(f"CHECK FAILED: {op.kind} result differs ({rec['id']})",
                  file=sys.stderr)
    pairs += [(q, local.search(Q[q], k=K)) for q in inp.oracle]
    recalls = Oracle(inp.corpus.ids, inp.corpus.vecs).recalls(
        Q[[q for q, _ in pairs]], [res for _, res in pairs])

    m = {"setup_s": (setup_s, "s")}
    m.update(h.common_metrics(wall, db.folder, inp.corpus.payloads))
    b = h.walls("batch")
    if b:
        m["batch_qps"] = (gen.BATCH * len(b) / (sum(b) / 1e3), "1/s")
    r = h.walls("ram")
    m["ram_search_p50_ms"] = (stats.median(r), "ms", f"n={len(r)}")
    t = stats.tail(r)
    if t is not None:
        m["ram_search_tail_ms"] = (t[0], "ms", f"p{t[1]:.1f} of n={t[2]}")
    m["recall_at_10"] = (float(np.mean(recalls)), "ratio")
    layers = h.layer_metrics(db) if h.trace else {}
    return {"metrics": m, "layers": layers}


# -- ingest_mutate ------------------------------------------------------------

def ingest_mutate(h: Harness) -> dict:
    from binaryvectordb_spark import BinaryVectorDB
    inp = gen.ingest_mutate(h.seed)
    path = os.path.join(h.workdir, "corpus.parquet")
    write_corpus(path, inp.corpus)
    h.phase("inputs written")
    spark = h.start_spark()
    h.phase("spark started")
    db = BinaryVectorDB(spark, os.path.join(h.workdir, "db"), dim=DIM)
    db.add_batch_df(spark.read.parquet(path))
    h.phase("corpus loaded")
    db.search(inp.corpus.vecs[0], k=K)    # builds the serving handles
    setup_s = h.age_s()
    h.phase("servable")

    Q, store = inp.queries, inp.store
    # the benchmark's mirror of the live corpus: id -> (payload, store row)
    live = {int(i): (p, r) for r, (i, p) in
            enumerate(zip(inp.corpus.ids, inp.corpus.payloads))}
    touched: set[int] = set()

    def apply(op: Op) -> None:
        touched.update(op.ids)
        if op.kind == "add":
            for i, p, r in zip(op.ids, op.payloads, op.rows):
                live[i] = (p, r)
        elif op.kind == "remove":
            for i in op.ids:
                del live[i]

    def execute(op_id: str, op: Op) -> dict:
        rec = {"id": op_id, "op": op}
        if op.kind == "add":
            fn = lambda: db.add_batch(  # noqa: E731
                op.ids, op.payloads, store[op.rows])
        elif op.kind == "remove":
            fn = lambda: db.remove_docs(op.ids)  # noqa: E731
        elif op.kind == "compact":
            fn = db.compact
        else:
            fn = lambda: db.search(Q[op.queries[0]], k=K)  # noqa: E731
            # live docs at query time, for the checks afterwards
            rec["live"] = dict(live)
        before = (stats.dir_sizes(db.folder)
                  if h.trace and op.kind in WRITE_KINDS else None)
        rec["ok"], rec["res"], rec["wall"] = h.call(op_id, op.kind, fn)
        if before is not None:
            d = stats.write_diff(before, stats.dir_sizes(db.folder))
            d["user_bytes"] = sum(stats.user_bytes(p, DIM)
                                  for p in op.payloads)
            h.write_diffs.append(d)
        if op.kind in WRITE_KINDS and rec["ok"]:
            apply(op)
        return rec

    for i, op in enumerate(inp.warmup):
        execute(f"pb-w{i}", op)
    h.write_diffs.clear()
    h.phase("warmed up")
    wall = h.timed_rounds(inp.rounds, execute)
    h.phase("timed phase done")

    # -- checks and the recall oracle, outside the timed phase -----------
    layers = h.layer_metrics(db) if h.trace else {}
    recalls = []
    for rec in h.records:
        op, res = rec["op"], rec["res"]
        if op.kind != "search" or not rec["ok"]:
            continue
        then = rec["live"]
        recalls.append(Oracle.of_live(then, store).recall(
            Q[op.queries[0]], res))
        # every hit is a doc that was live at query time, with its payload
        rec["ok"] = len(res) == K and all(
            x["doc_id"] in then and x["doc"] == then[x["doc_id"]][0]
            for x in res)
        if not rec["ok"]:
            print(f"CHECK FAILED: search result ({rec['id']})",
                  file=sys.stderr)
    # more recall samples on the final state, through the RAM tier, which
    # serve_read checks is bit-identical to db.search
    local = db.to_local_searcher()
    recalls += Oracle.of_live(live, store).recalls(
        Q[inp.oracle], [local.search(Q[q], k=K) for q in inp.oracle])

    rng = np.random.default_rng([h.seed, 3])
    sample = set(touched) | {int(x) for x in rng.choice(
        list(live), min(200, len(live)), replace=False)}
    got = db.get_docs(sorted(sample))
    want = {i: live[i][0] for i in sample if i in live}
    h.check("get_docs matches the mirror", got == want)
    h.check("len(db) matches the mirror", len(db) == len(live))
    # verify_integrity raises CAST_INVALID_INPUT when the tables it reads are
    # cached, as db.search leaves them: input_file_name() is empty on cached
    # rows.  That is a package defect; the audit itself runs on uncached
    # tables here.
    spark.catalog.clearCache()
    integrity = db.verify_integrity()
    h.check("verify_integrity reports zeros",
            bool(integrity) and not any(integrity.values()))
    h.phase("checked")

    m = {"setup_s": (setup_s, "s")}
    m.update(h.common_metrics(wall, db.folder,
                              [p for p, _ in live.values()]))
    w = h.walls(WRITE_KINDS)
    m["write_p50_ms"] = (stats.median(w), "ms", f"n={len(w)}")
    t = stats.tail(w)
    if t is not None:
        m["write_tail_ms"] = (t[0], "ms", f"p{t[1]:.1f} of n={t[2]}")
    upserted = sum(len(r["op"].ids) for r in h.records
                   if r["kind"] == "add" and r["ok"])
    m["ingest_docs_per_s"] = (upserted / (sum(w) / 1e3), "1/s")
    m["recall_at_10"] = (float(np.mean(recalls)), "ratio")
    return {"metrics": m, "layers": layers}


WORKLOADS = {"serve_read": serve_read, "ingest_mutate": ingest_mutate}
