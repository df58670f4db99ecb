"""Self-tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import hashlib

import numpy as np
import pytest

from perfbench import gen, stats
from perfbench.tracing import Tracer
from perfbench.workloads import Oracle


def fingerprint(obj) -> str:
    """sha256 over every array, string and number reachable from obj."""
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, np.ndarray):
            h.update(str(x.dtype).encode())
            h.update(np.ascontiguousarray(x).tobytes())
        elif isinstance(x, (list, tuple)):
            h.update(b"[")
            for y in x:
                feed(y)
            h.update(b"]")
        elif hasattr(x, "__dataclass_fields__"):
            for name in x.__dataclass_fields__:
                h.update(name.encode())
                feed(getattr(x, name))
        else:
            h.update(repr(x).encode())

    feed(obj)
    return h.hexdigest()


@pytest.mark.parametrize("make", [gen.serve_read, gen.ingest_mutate])
def test_generator_is_deterministic(make):
    a, b, c = make(7, n_rounds=3), make(7, n_rounds=3), make(8, n_rounds=3)
    assert fingerprint(a) == fingerprint(b)
    assert fingerprint(a) != fingerprint(c)


def test_rounds_keep_a_fixed_mix():
    inp = gen.serve_read(1, n_rounds=4)
    for ops in inp.rounds:
        kinds = [op.kind for op in ops]
        assert {k: kinds.count(k) for k in set(kinds)} == gen.SERVE_ROUND
        for op in ops:
            assert len(op.queries) == (gen.BATCH if op.kind == "batch" else 1)
    assert len({tuple(op.kind for op in ops) for ops in inp.rounds}) > 1


def test_ingest_schedule_is_valid_in_order():
    inp = gen.ingest_mutate(3, n_rounds=6)
    live = set(inp.corpus.ids.tolist())
    for op in inp.warmup + [op for ops in inp.rounds for op in ops]:
        if op.kind == "add":
            old = [i for i in op.ids if i in live]
            assert len(old) == len(op.ids) // 2 == gen.UPSERT // 2
            assert len(op.rows) == len(op.payloads) == gen.UPSERT
            live.update(op.ids)
        elif op.kind == "remove":
            assert len(op.ids) == gen.REMOVE and set(op.ids) <= live
            live.difference_update(op.ids)
    assert inp.store.shape[0] == max(
        r for ops in inp.rounds for op in ops for r in op.rows) + 1


def test_serve_mix_gives_each_op_type_an_equal_time_share():
    shares = {k: n * gen.SERVE_OP_COST_S[k]
              for k, n in gen.SERVE_ROUND.items()}
    for share in shares.values():
        assert share == pytest.approx(gen.SERVE_SHARE_S, rel=0.25)


def test_repeat_share():
    inp = gen.serve_read(5, n_rounds=4)
    drawn = [q for ops in [inp.warmup] + inp.rounds for op in ops
             for q in op.queries] + inp.oracle
    assert len(inp.queries) == len(set(drawn))
    repeats = 1 - len(inp.queries) / len(drawn)
    assert abs(repeats - gen.REPEAT_SHARE) < 0.05


def test_oracle_recall_against_brute_force():
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((300, gen.DIM)).astype(np.float32)
    qs = rng.standard_normal((5, gen.DIM)).astype(np.float32)
    o = Oracle(np.arange(300) + 1000, vecs)
    cos = (qs @ vecs.T) / np.linalg.norm(vecs, axis=1)
    exact = [np.argsort(-c)[:gen.K] + 1000 for c in cos]
    hits = [[{"doc_id": int(i)} for i in e[:7]] + [{"doc_id": -1}] * 3
            for e in exact]
    assert o.recalls(qs, hits, chunk=2) == [0.7] * 5
    assert o.recall(qs[0], hits[0]) == 0.7


def test_tail_rule():
    assert stats.tail(list(range(19))) is None
    value, pct, n = stats.tail(list(range(20)))
    assert (value, pct, n) == (9, 50.0, 20)          # 10 samples above
    xs = list(range(100, 0, -1))
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_space_amp_and_write_amp():
    assert stats.user_bytes("abc", 64) == 8 + 3 + 64 * 4
    assert stats.space_amp(2 * 267, ["abc", "abc"], 64) == 1.0
    before = {"_log/v0000000001.json": 10,
              "index/bucket=1/part-a.parquet": 100,
              "documents/bucket=1/part-a.parquet": 300}
    after = {"_log/v0000000001.json": 10, "_log/v0000000002.json": 10,
             "index/bucket=1/part-b.parquet": 110,
             "index/bucket=2/part-b.parquet": 120,
             "documents/bucket=1/part-b.parquet": 310,
             "documents/bucket=2/part-b.parquet": 320,
             "_stats/v0000000002.json": 5}
    d = stats.write_diff(before, after)
    assert d == {"files": 4, "bytes": 110 + 120 + 310 + 320, "buckets": 2}
    assert stats.write_amp(d["bytes"], 2 * 267) == 860 / 534


def test_self_time_subtracts_children_once():
    children = [(1, 3), (2, 4), (8, 12), (20, 30)]
    # covered inside (0, 10): [1, 4] and [8, 10]
    assert stats.self_time((0, 10), children) == 10 - 3 - 2
    assert stats.self_time((0, 10), []) == 10
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4


def test_tracer_records_parents_and_self_time():
    class Layer:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

        @classmethod
        def make(cls):
            return cls()

    t = Tracer()
    Layer.outer = t._wrap("x.outer", Layer.outer)
    Layer.inner = t._wrap("x.inner", Layer.inner)
    Layer.make = classmethod(t._wrap("x.make", Layer.__dict__["make"].__func__))
    t.op = "op-1"
    assert Layer.make().outer() == 2
    names = [s["name"] for s in t.spans]
    assert names == ["x.make", "x.outer", "x.inner"]
    outer, inner = t.spans[1], t.spans[2]
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert all(s["op"] == "op-1" for s in t.spans)
    assert t.ms("x.outer", own=True)[0] == pytest.approx(
        1e3 * (outer["end"] - outer["start"] - (inner["end"]
                                                 - inner["start"])))
