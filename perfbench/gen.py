"""Seeded workload generator.

Everything a run feeds the program is built here from the seed alone, before
any timing starts: the corpus, the query vectors and the op schedule.  The
same seed gives byte-identical inputs (checked by
``test_perfbench.py``); the program never sees the generator, only its output.

Schedules are made of *rounds*, each a fixed mix of op types in a seeded
order.  A run executes whole rounds until its time is up, so every run has the
same op-type proportions and only the order and inputs vary with the seed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

DIM = 64
K = 10


@dataclass
class Corpus:
    ids: np.ndarray        # int64 (n,)
    vecs: np.ndarray       # float32 (n, DIM)
    payloads: list[str]


@dataclass
class Op:
    kind: str                      # search | batch | ram | add | remove | compact
    queries: list[int] = field(default_factory=list)   # rows of the query table
    ids: list[int] = field(default_factory=list)       # doc ids written/removed
    rows: list[int] = field(default_factory=list)      # rows of the vector store
    payloads: list[str] = field(default_factory=list)


def clustered_vectors(rng: np.random.Generator, n: int, n_centres: int,
                      spread: float = 1.0) -> np.ndarray:
    centres = rng.standard_normal((n_centres, DIM)).astype(np.float32)
    assign = rng.integers(0, n_centres, n)
    noise = rng.standard_normal((n, DIM)).astype(np.float32)
    return centres[assign] + np.float32(spread) * noise


def perturb(rng: np.random.Generator, vecs: np.ndarray,
            scale: float = 0.1) -> np.ndarray:
    return (vecs + np.float32(scale)
            * rng.standard_normal(vecs.shape).astype(np.float32))


class QueryStream:
    """Query vectors drawn as perturbed corpus vectors; a fixed share of draws
    repeats an earlier query, so repeated keys occur at a known rate."""

    def __init__(self, rng: np.random.Generator, base: np.ndarray,
                 repeat_share: float):
        self.rng = rng
        self.base = base
        self.repeat_share = repeat_share
        self.table: list[np.ndarray] = []

    def draw(self) -> int:
        if self.table and self.rng.random() < self.repeat_share:
            return int(self.rng.integers(0, len(self.table)))
        src = self.base[int(self.rng.integers(0, len(self.base)))]
        self.table.append(perturb(self.rng, src[None, :])[0])
        return len(self.table) - 1

    def matrix(self) -> np.ndarray:
        return np.stack(self.table).astype(np.float32)


# -- serve_read ---------------------------------------------------------------

SERVE_N = 50_000
SERVE_CENTRES = 300
# The op mix of a round is derived, not picked: each op type gets about the
# same share of the round's wall, SERVE_SHARE_S, at its mean per-op wall in
# warm timed rounds on a 4-core x86 VM.  With fixed counts, an op type moves
# ops_per_s and cpu_ms_per_op in proportion to its share of the round, so
# equal shares make a change to any one of the three read paths show alike;
# the RAM tier's count follows from its cost (~1800 for ~2.6 s).
SERVE_OP_COST_S = {"search": 0.43, "batch": 2.65, "ram": 0.00145}
SERVE_SHARE_S = 2.6
SERVE_ROUND = {k: max(1, round(SERVE_SHARE_S / c))
               for k, c in SERVE_OP_COST_S.items()}
# several warm-up searches and two batches: single-query latency keeps
# falling over the first few calls, and again after each batch, as the JVM
# compiles the scan path
SERVE_WARMUP = (["search"] * 4 + ["batch"]) * 2 + ["search"] * 4 + [
    "ram"] * 100
BATCH = 64
REPEAT_SHARE = 0.2
ORACLE_QUERIES = 500   # recall samples beyond the timed ops, via the RAM tier


@dataclass
class ServeInputs:
    corpus: Corpus
    queries: np.ndarray    # float32 (n_queries, DIM)
    warmup: list[Op]
    rounds: list[list[Op]]
    oracle: list[int]      # query rows for extra recall samples


def _payload(rng: np.random.Generator, i: int) -> str:
    return f"doc-{i}-{int(rng.integers(0, 1 << 32)):08x}"


def serve_read(seed: int, n_rounds: int = 10) -> ServeInputs:
    rng = np.random.default_rng([seed, 1])
    vecs = clustered_vectors(rng, SERVE_N, SERVE_CENTRES)
    ids = np.arange(SERVE_N, dtype=np.int64)
    corpus = Corpus(ids, vecs, [_payload(rng, int(i)) for i in ids])
    qs = QueryStream(rng, vecs, REPEAT_SHARE)

    def op(kind: str) -> Op:
        n = BATCH if kind == "batch" else 1
        return Op(kind, queries=[qs.draw() for _ in range(n)])

    warmup = [op(k) for k in SERVE_WARMUP]
    rounds = []
    for _ in range(n_rounds):
        kinds = [k for k, c in SERVE_ROUND.items() for _ in range(c)]
        rng.shuffle(kinds)
        rounds.append([op(k) for k in kinds])
    oracle = [qs.draw() for _ in range(ORACLE_QUERIES)]
    return ServeInputs(corpus, qs.matrix(), warmup, rounds, oracle)


# -- ingest_mutate ------------------------------------------------------------

INGEST_N = 10_000
INGEST_CENTRES = 300
UPSERT = 100           # docs per add_batch: half new ids, half existing
REMOVE = 20            # ids per remove_docs
WRITE_PAIRS = 2        # add/remove pairs per round, before its compact


@dataclass
class IngestInputs:
    corpus: Corpus
    store: np.ndarray      # float32 vector store: corpus rows, then upserts
    queries: np.ndarray
    warmup: list[Op]
    rounds: list[list[Op]]
    oracle: list[int]      # query rows for recall on the final state


def ingest_mutate(seed: int, n_rounds: int = 12) -> IngestInputs:
    """A round is two pairs of add_batch -> search and remove_docs ->
    search, each pair in seeded order, then compact -> search: a compact
    after every fourth write.  Ids are chosen against a simulated live set,
    so every op is valid when the rounds run in order."""
    rng = np.random.default_rng([seed, 2])
    vecs = clustered_vectors(rng, INGEST_N, INGEST_CENTRES)
    ids = np.arange(INGEST_N, dtype=np.int64)
    corpus = Corpus(ids, vecs, [_payload(rng, int(i)) for i in ids])
    store = [vecs]
    n_store = INGEST_N
    live = list(range(INGEST_N))       # live ids, in a stable order
    next_id = INGEST_N
    qs = QueryStream(rng, vecs, REPEAT_SHARE)

    def search() -> Op:
        return Op("search", queries=[qs.draw()])

    def add() -> Op:
        nonlocal next_id, n_store
        half = UPSERT // 2
        old = [live[int(i)] for i in
               rng.choice(len(live), half, replace=False)]
        new = list(range(next_id, next_id + half))
        next_id += half
        live.extend(new)
        batch_ids = old + new
        store.append(clustered_vectors(rng, UPSERT, INGEST_CENTRES))
        rows = list(range(n_store, n_store + UPSERT))
        n_store += UPSERT
        return Op("add", ids=batch_ids, rows=rows,
                  payloads=[_payload(rng, i) for i in batch_ids])

    def remove() -> Op:
        pick = sorted(int(i) for i in
                      rng.choice(len(live), REMOVE, replace=False))
        gone = [live[i] for i in pick]
        for i in reversed(pick):
            live.pop(i)
        return Op("remove", ids=gone)

    def round_ops() -> list[Op]:
        # generated in execution order, so each op sees the live set it runs on
        writes = [w for _ in range(WRITE_PAIRS) for w in
                  ([add, remove] if rng.random() < 0.5 else [remove, add])]
        return [op for w in writes for op in (w(), search())] + [
            Op("compact"), search()]

    # one op of each type; the search follows a write, so it takes the
    # memo-missing path the timed searches take
    warmup = [add(), remove(), Op("compact"), search()]
    rounds = [round_ops() for _ in range(n_rounds)]
    oracle = [qs.draw() for _ in range(ORACLE_QUERIES)]
    return IngestInputs(corpus, np.concatenate(store).astype(np.float32),
                        qs.matrix(), warmup, rounds, oracle)
