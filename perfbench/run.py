"""Closed-loop, single-client benchmark of the registry keys.

One client sends its next operation only after the previous one returned.
An operation is one registry key, ``registry[key].fn(spark, sf_dir)``
followed by a forced noop-sink write (``bench.py``'s timed region).  A run:

1. reads the repo's sf0.1 test tables, copied into ``perfbench/data``;
2. starts the session, loads the registry, and runs every key of the
   workload once untimed, checking its output digest (warm-up + verify),
   then runs ``WARMUP_PASSES`` more untimed passes where the JIT still
   moves the latencies;
3. times whole passes over the workload's keys, each pass in an order
   shuffled by ``--seed``; the pass count is ``--seconds`` over the
   workload's typical pass time, so every run times the same operations;
4. stops the JVM and every process under it, measures what the run left in
   its temp dirs, and prints one JSON result as the last stdout line.

With ``--trace 1`` every timed operation runs twice, untraced and traced
(``tracing.py``), and the result holds the per-layer metrics instead of the
end-to-end ones; the tracing overhead is the median traced operation, status
store reads included, minus the untraced median.  A
run record (stamps, per-op latencies, all metrics) and, when traced, the
spans are written under ``.perfbench/`` in the checkout, never to stdout.

    python3 perfbench/run.py --workload olap_interactive --seed 1 --seconds 18 --trace 0
"""

from __future__ import annotations

import os
import time

START = time.perf_counter()  # process start, before the heavy imports
LOADAVG = os.getloadavg()  # prelaunch load


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


CPU_TICKS = _cpu_ticks()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(1, str(ROOT))  # the engine package lives at the checkout root
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile


def _die(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _become_subreaper() -> None:
    """Orphaned grandchildren (Python workers outliving the JVM) are
    re-parented to this process, so it can wait for every one of them."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == me:
                kids.append(int(d))
    return kids


def _reap_all(timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            if time.monotonic() > deadline:
                for kid in _children():
                    os.kill(kid, signal.SIGKILL)
            time.sleep(0.05)


def _vm_hwm_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def _tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file() and not f.is_symlink())


def _tail(lat: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the highest percentile with
    TAIL_BEYOND samples beyond it.  A short run caps the samples beyond at
    half of the rest, so its tail is never below the median."""
    s = sorted(lat)
    beyond = min(TAIL_BEYOND, (len(s) - 1) // 2)
    r = len(s) - 1 - beyond
    return s[r], 100.0 * r / (len(s) - 1) if len(s) > 1 else 100.0, beyond


def _stamps(spark, env: dict, seed: int) -> dict:
    import duckdb
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "seed": seed,
        "cpus": int(env["SPARK_GRAFT_CPUS"]),
        "loadavg_prelaunch": list(LOADAVG),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "spark_local_dirs": env["SPARK_LOCAL_DIRS"],
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
    }


class Client:
    """The single closed-loop client: one operation at a time."""

    def __init__(self, spark, registry, sf_dir: str):
        from experiments_datafusion_spark.io import write_noop

        self.spark, self.registry, self.sf_dir = spark, registry, sf_dir
        self.write_noop = write_noop
        self.attempted = self.failed = 0
        self.ops: list[dict] = []
        self.lat: dict[str, list[float]] = {}

    def verify(self, keys, expected: dict) -> None:
        from verify import digest

        for key in keys:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                got = digest(self.registry[key].fn(self.spark, self.sf_dir).toPandas())
                ok = got == expected.get(key)
                err = None if ok else f"digest {got[:12]} != recorded {str(expected.get(key))[:12]}"
            except Exception as exc:  # counted, reported, never fatal
                ok, err = False, f"{type(exc).__name__}: {str(exc)[:300]}"
            self.failed += not ok
            self.ops.append({"phase": "verify", "key": key, "s": time.perf_counter() - t0, "ok": ok, "error": err})

    def _attempt(self, phase: str, key: str, run) -> None:
        self.attempted += 1
        try:
            dt, ok, err = run(), True, None
            self.lat.setdefault(phase, []).append(dt)
        except Exception as exc:  # counted, reported, never fatal
            dt, ok, err = None, False, f"{type(exc).__name__}: {str(exc)[:300]}"
            self.failed += 1
        self.ops.append({"phase": phase, "key": key, "s": dt, "ok": ok, "error": err})

    def _plain(self, q) -> float:
        t0 = time.perf_counter()
        self.write_noop(q.fn(self.spark, self.sf_dir))
        return time.perf_counter() - t0

    def passes(self, order, count: int, tracer=None, phase: str = "timed") -> float:
        """``count`` whole passes; returns their wall time.  Traced, every
        key runs twice, untraced and traced, in alternating order, so the
        two latency sets see the same warm-up."""
        t_start = time.perf_counter()
        for _ in range(count):
            for key in next(order):
                q = self.registry[key]
                runs = [(phase, lambda: self._plain(q))]
                if tracer is not None:
                    runs.append(("traced", lambda: tracer.run(
                        len(self.ops), key, lambda: q.fn(self.spark, self.sf_dir), self.write_noop)))
                    if len(self.ops) % 4 >= 2:
                        runs.reverse()
                for phase, run in runs:
                    self._attempt(phase, key, run)
        return time.perf_counter() - t_start


def main() -> int:
    ap = argparse.ArgumentParser(description="Closed-loop registry benchmark.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="scale factor (default 0.1)")
    args = ap.parse_args()

    try:
        import experiments_datafusion_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        return _die(f"cannot import the engine package ({exc}); run from a repo checkout")
    from verify import load_digests
    from workloads import SF, WARMUP_PASSES, WORKLOADS, bench_env, cpus, pass_count, passes, sf_dir

    if args.workload not in WORKLOADS:
        return _die(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    sf = SF if args.sf is None else args.sf
    keys = WORKLOADS[args.workload]
    expected = load_digests().get(str(sf), {})
    if not expected:
        return _die(f"no recorded digests for sf{sf}")

    data = sf_dir(sf)
    if not data.is_dir():
        return _die(f"no test tables at {data}")

    _become_subreaper()
    work = ROOT / ".perfbench"
    run_tmp = work / "tmp" / f"run-{os.getpid()}"
    env = bench_env(run_tmp)
    tmp_before = _tree_bytes(run_tmp)

    t = time.perf_counter()
    from experiments_datafusion_spark.session import get_spark

    spark = get_spark("perfbench")
    t_session = time.perf_counter()
    from experiments_datafusion_spark.queries import all_queries

    registry = all_queries()
    t_registry = time.perf_counter()
    client = Client(spark, registry, str(data))
    client.verify(keys, expected)
    order = passes(keys, args.seed)
    client.passes(order, WARMUP_PASSES[args.workload], phase="warmup")
    t_warm = time.perf_counter()
    setup_s = t_warm - START
    layers = {
        "session.start_s": t_session - t,
        "session.registry_load_s": t_registry - t_session,
        "session.warmup_s": t_warm - t_registry,
    }
    stamps = _stamps(spark, env, args.seed)

    count = pass_count(args.workload, args.seconds)
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark, cpus())
        with tracer.patched_io_table():
            timed_wall = client.passes(order, count, tracer)
    else:
        timed_wall = client.passes(order, count)
    lat = client.lat.get("timed", [])

    sc = spark.sparkContext
    gateway = sc._gateway
    jvm_proc = gateway.proc
    jvm_mb, client_mb = _vm_hwm_mb(jvm_proc.pid), resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    peak_rss_mb = jvm_mb + client_mb
    spark.stop()
    gateway.shutdown()
    jvm_proc.stdin.close()
    jvm_proc.wait(timeout=120)
    _reap_all()
    leaked = _tree_bytes(run_tmp) - tmp_before
    ticks = [b - a for a, b in zip(CPU_TICKS, _cpu_ticks())]
    steal_share = ticks[7] / max(1, sum(ticks))  # CPU time the host gave to other guests
    shutil.rmtree(run_tmp, ignore_errors=True)

    lat = lat or [0.0]  # every timed operation failed; the result says so
    tail, tail_pct, tail_beyond = _tail(lat)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail, "s"),
        "ops_per_s": (sum(len(client.lat.get(p, [])) for p in ("timed", "traced")) / timed_wall, "1/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    error_rate = client.failed / client.attempted
    if tracer is not None:
        layers.update(tracer.layer_metrics())
        layers["io.tmp_bytes_leaked"] = leaked
        traced, p50 = client.lat.get("traced", []), end_to_end["op_p50_s"][0]
        layers["trace.overhead_s"] = statistics.median(tracer.full_walls) - p50 if traced else 0.0
        layers["trace.in_op_overhead_s"] = statistics.median(traced) - p50 if traced else 0.0
    unit = {m["name"]: m["unit"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
    layer_out = {k: (v, unit[k]) for k, v in layers.items()}
    record = {
        "workload": args.workload, "sf": sf, "trace": args.trace, **stamps,
        "jvm_peak_rss_mb": jvm_mb, "client_peak_rss_mb": client_mb, "cpu_steal_share": steal_share, "error_rate": error_rate,
        "attempted": client.attempted, "failed": client.failed,
        "op_tail": {"percentile": tail_pct, "samples": len(lat), "beyond": tail_beyond},
        "timed_wall_s": timed_wall, "tmp_bytes_leaked": leaked,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layer_out.items()},
        "ops": client.ops,
        "traced_ops": tracer.op_metrics if tracer else [],
    }
    out_dir = work / "records"
    out_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    (out_dir / f"{stem}.json").write_text(json.dumps(record, indent=1))
    if tracer is not None:
        (out_dir / f"{stem}.spans.json").write_text(json.dumps(tracer.spans_with_self_time()))

    print("stamps: " + " ".join(f"{k}={v}" for k, v in stamps.items()))
    print("end_to_end: " + ", ".join(f"{k}={v:.4f} {u}" for k, (v, u) in end_to_end.items())
          + f", error_rate={error_rate:.4f} ratio"
          + f" (tail = p{tail_pct:.0f} of {len(lat)} ops, {tail_beyond} beyond)")
    print(f"record: {out_dir / stem}.json")
    shown = layer_out if args.trace else end_to_end
    print(json.dumps({
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
