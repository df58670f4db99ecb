"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics listed
in BENCHMARK.json with ``--trace 0``, the per-layer ones with ``--trace 1``.
Lines before it report every metric the workload measures.  A traced run also
writes its spans and per-layer numbers to perfbench/out/trace-*.json and
compares its end-to-end numbers with the latest untraced run of the same
workload.  The exit code is non-zero when a correctness check fails.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / "perfbench" / "out"


def process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


AGE0 = process_age_s()


def age_s() -> float:
    return AGE0 + time.perf_counter() - T0


def set_environment(workdir: str) -> None:
    """This process, its JVM and the executor Python workers import the
    package from the checkout and keep every scratch file in ``workdir``."""
    sys.path.insert(0, str(ROOT))
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + prev if prev else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        # no hsperfdata file in /tmp
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()


def reap(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for processes this run started (the JVM's Python workers are
    re-parented once the JVM exits), killing any that outlive the wait."""
    def alive(p):
        try:
            with open(f"/proc/{p}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except FileNotFoundError:
            return False

    deadline = time.monotonic() + timeout_s
    while any(alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)


def host_probe_ms() -> float:
    """Median time of a fixed numpy matmul: a Spark-free reading of how busy
    the host is, reported as context and never used to adjust results."""
    import numpy as np
    a = np.random.default_rng(0).standard_normal((256, 256))
    times = []
    for _ in range(9):
        t = time.perf_counter()
        a @ a
        times.append(1e3 * (time.perf_counter() - t))
    return sorted(times)[4]


def fmt(name: str, v) -> str:
    value, unit, *note = v
    return f"  {name:<40} {value:>14.6g} {unit}" + (
        f"  ({note[0]})" if note else "")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(ROOT / "BENCHMARK.json") as f:
        bench = json.load(f)
    OUT.mkdir(exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT)
    try:
        set_environment(workdir)
        try:
            import binaryvectordb_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: binaryvectordb_spark is not importable from "
                  f"{ROOT}: {e}", file=sys.stderr)
            return 2
        from perfbench.tracing import overhead_per_span_us
        from perfbench.workloads import WORKLOADS, Harness, descendants
        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; choose "
                  f"from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        h = Harness(args.seed, args.seconds, bool(args.trace), workdir,
                    age_s)
        probe_before = host_probe_ms()
        try:
            res = WORKLOADS[args.workload](h)
        finally:
            started = descendants(os.getpid())
            h.stop_spark()
            reap(started)
        probe_after = host_probe_ms()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    e2e, layers = res["metrics"], res["layers"]
    failed = h.failed()
    correct = failed == 0
    print(f"workload {args.workload} seed {args.seed} "
          f"trace {args.trace}: {len(h.records)} timed ops, "
          f"{h.checks_run} checks, {failed} failed; host probe "
          f"{probe_before:.3f} ms before, {probe_after:.3f} ms after")
    print("end-to-end:")
    for name, v in e2e.items():
        print(fmt(name, v))
    if args.trace:
        print("per-layer:")
        for name, v in layers.items():
            print(fmt(name, v))
        per_span = overhead_per_span_us()
        n_spans = len(h.tracer.spans)
        overhead = {"wrapper_us_per_span": per_span, "spans": n_spans}
        print(f"tracing overhead: {n_spans} spans x {per_span:.2f} us")
        last = OUT / f"last-{args.workload}.json"
        if last.exists():
            with open(last) as f:
                base = json.load(f)
            for name, v in e2e.items():
                if name in base and base[name]:
                    pct = 100.0 * (v[0] - base[name]) / base[name]
                    overhead[name] = pct
                    print(f"  {name:<40} traced {v[0]:.6g} vs untraced "
                          f"{base[name]:.6g} ({pct:+.1f}%)")
        with open(OUT / f"trace-{args.workload}-s{args.seed}.json", "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "end_to_end": {k: v[0] for k, v in e2e.items()},
                       "per_layer": {k: v[0] for k, v in layers.items()},
                       "overhead": overhead, "spans": h.tracer.spans}, f)
    else:
        with open(OUT / f"last-{args.workload}.json", "w") as f:
            json.dump({k: v[0] for k, v in e2e.items()}, f)

    wanted = bench["per_layer" if args.trace else "end_to_end"]
    source = layers if args.trace else e2e
    missing = [m["name"] for m in wanted if source.get(m["name"], (None,))[0]
               is None]
    if missing:
        print(f"perfbench: {args.workload} did not measure {missing}",
              file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": correct, "attempted": h.attempted(), "failed": failed,
        "metrics": {m["name"]: {"value": source[m["name"]][0],
                                "unit": m["unit"]} for m in wanted}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
