"""Benchmark entry point.

    python3 perfbench/run.py --workload {query,join_tiles} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  One run = one fresh Spark session from
``geomesa_spark.session.get_spark`` (``SPARK_GRAFT_CPUS`` = the CPUs
this process may use, nothing else overridden), inputs generated
from the seed, untimed warm-up rounds, then whole rounds of the
workload's operations for at least S seconds (and at least the
workload's minimum number of rounds).  Every op's output is
checked against an independent oracle (``oracle.py``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs every
op of the measured rounds twice, untraced and traced in alternating
order, and prints the per-layer metrics with the tracing overhead.
The last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
}

# per-layer metric -> unit; README.md says which end-to-end metric
# each one should move, on which workload
PER_LAYER = {
    "session.start_ms": "ms",
    "plans.ecql.compile_ms": "ms",
    "plans.cover.zranges_ms": "ms",
    "plans.cover.ranges": "count",
    "plans.planner.scan_build_ms": "ms",
    "spark.plan_ms": "ms",
    "query.exec_ms": "ms",
    "query.client_ms": "ms",
    "scan.rows_scanned_per_hit": "ratio",
    "scan.files_read": "count",
    "sources.docs.extract_ms": "ms",
    "functions.cells.encode_ms": "ms",
    "ingest.write_ms": "ms",
    "ingest.files_written": "count",
    "ingest.stored_bytes_per_row": "B",
    "ingest.shuffle_write_bytes": "B",
    "ingest.fetch_wait_ms": "ms",
    "ingest.spill_bytes": "B",
    "ingest.task_skew": "ratio",
    "plans.cover.polyfill_ms": "ms",
    "operators.spatial_join.join_ms": "ms",
    "operators.spatial_join.candidates_per_match": "ratio",
    "operators.tilecut.cut_ms": "ms",
    "operators.tilecut.pieces_per_geom": "ratio",
    "sources.mvt.encode_ms": "ms",
    "sources.mvt.python_bytes": "B",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "B",
    "spark.fetch_wait_ms": "ms",
    "spark.spill_bytes": "B",
    "spark.task_skew": "ratio",
    "process.peak_rss_mb": "MB",
    "trace.coverage": "ratio",
    "trace.overhead_ms": "ms",
}

# span name -> per-layer time metric (self time per op)
SPAN_METRICS = {
    "plans.ecql.compile": "plans.ecql.compile_ms",
    "plans.cover.zranges": "plans.cover.zranges_ms",
    "plans.planner.scan_build": "plans.planner.scan_build_ms",
    "spark.plan": "spark.plan_ms",
    "query.exec": "query.exec_ms",
    "sources.docs.extract": "sources.docs.extract_ms",
    "functions.cells.encode": "functions.cells.encode_ms",
    "ingest.write": "ingest.write_ms",
    "plans.cover.polyfill": "plans.cover.polyfill_ms",
    "operators.spatial_join.join": "operators.spatial_join.join_ms",
    "operators.tilecut.cut": "operators.tilecut.cut_ms",
    "sources.mvt.encode": "sources.mvt.encode_ms",
}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


class Runner:
    """Runs units of work (one query; one pip join plus one
    vector-tile pass) and keeps their outcomes."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.next_op = 0
        self.pairs = 0

    def unit(self, unit: list, traced: bool = False) -> dict | None:
        """Run one unit; return its record, or None if an op raised."""
        tr = self.wl.tr
        self.attempted += 1
        op = self.next_op
        self.next_op += 1
        tr.op = op if traced else None
        rec = {"op": op, "kinds": {}}
        checks = []
        t0 = time.perf_counter()
        with tr.span("op") as root:
            for kind, thunk in unit:
                k0 = time.perf_counter()
                try:
                    checks.append(thunk())
                except Exception:
                    log(f"op {op} ({kind}) failed:\n{traceback.format_exc()}")
                    self.failed += 1
                    tr.op = None
                    return None
                rec["kinds"][kind] = time.perf_counter() - k0
        rec["s"] = time.perf_counter() - t0
        rec["span"] = root
        for c in checks:
            try:
                c()
            except AssertionError as e:
                log(f"op {op}: WRONG OUTPUT: {e}")
                self.correct = False
        tr.op = None
        return rec

    def round(self, rnd: int) -> list[dict]:
        done = [self.unit(u) for u in self.wl.units(rnd)]
        return [d for d in done if d is not None]

    def paired_round(self, rnd: int, tracer) -> tuple[list[dict], list[dict]]:
        """Every unit of the round twice, untraced and traced, in
        alternating order so that warm-up drift cancels out of the
        overhead."""
        wl = self.wl
        base, traced = [], []
        for u in wl.units(rnd):
            self.pairs += 1
            for on in ((False, True) if self.pairs % 2 else (True, False)):
                wl.tr = tracer if on else tracing.NullTracer()
                with contextlib.ExitStack() as stack:
                    for cm in wl.wrappers() if on else ():
                        stack.enter_context(cm)
                    rec = self.unit(u, traced=on)
                if rec is not None:
                    (traced if on else base).append(rec)
        wl.tr = tracing.NullTracer()
        return base, traced


def measure(runner: Runner, first: int, seconds: float) -> list[dict]:
    """Whole rounds from `first` until `seconds` have passed and at
    least the workload's ``min_rounds`` have run."""
    out = []
    rnd = first
    t_end = time.perf_counter() + seconds
    while True:
        done = runner.round(rnd)
        log(f"round {rnd}: {sum(u['s'] for u in done):.2f}s "
            f"{ {k: round(s, 2) for u in done for k, s in u['kinds'].items()} }")
        out += done
        rnd += 1
        if time.perf_counter() >= t_end and rnd - first >= runner.wl.min_rounds:
            return out


def kind_medians(units: list[dict]) -> dict[str, float]:
    """Median seconds of each op kind over `units`."""
    kinds: dict[str, list] = {}
    for u in units:
        for k, s in u["kinds"].items():
            kinds.setdefault(k, []).append(s)
    return {k: statistics.median(v) for k, v in kinds.items()}


def op_p50_ms(units: list[dict]) -> float:
    """Geometric mean over the op kinds of each kind's median latency:
    every kind weighs the same, and the figure does not jump between
    kinds the way one median over a mix of kinds does."""
    med = kind_medians(units)
    return 1000 * statistics.geometric_mean(med.values()) if med else 0.0


def spark_totals(jobs: list[dict], groups: dict[str, int]) -> dict:
    """Stage metrics summed over the jobs of the given op groups,
    the busy intervals per op, and the mean task skew (max over
    median task time) of each op's longest stage."""
    tot = dict.fromkeys(("cpu_ms", "gc_ms", "shuffle_write_b", "fetch_wait_ms", "spill_b"), 0.0)
    busy: dict[int, list] = {op: [] for op in groups.values()}
    longest: dict[int, dict] = {}
    for j in jobs:
        op = groups.get(j["group"])
        if op is None:
            continue
        if j["t0"] is not None and j["t1"] is not None:
            busy[op].append((j["t0"], j["t1"]))
        for st in j["stages"]:
            for k in tot:
                tot[k] += st[k]
            if st["run_ms"] > longest.get(op, {"run_ms": -1})["run_ms"]:
                longest[op] = st
    skew = [st["task_max_ms"] / st["task_med_ms"] for st in longest.values() if st["task_med_ms"] > 0]
    tot["skew"] = statistics.fmean(skew) if skew else 0.0
    tot["busy"] = busy
    return tot


def layer_metrics(wl, units: list[dict], jobs: list[dict], session_ms: float) -> dict:
    """Per-layer metrics of the traced units (per op means) and of the
    traced set-up ingest (query workload)."""
    from workloads import SETUP_OP

    tr = wl.tr
    ops = {u["op"]: u for u in units}
    n = max(len(ops), 1)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_ms"] = session_ms
    own = tr.self_times()
    cover = dict.fromkeys(ops, 0.0)
    for s, o in zip(tr.spans, own):
        if s["name"] == "op" or (s["op"] not in ops and s["op"] != SETUP_OP):
            continue
        if s["op"] in cover:
            cover[s["op"]] += o
        if s["name"] in SPAN_METRICS:
            # set-up spans (the ingest) happen once; op spans per op
            m[SPAN_METRICS[s["name"]]] += 1000 * o / (1 if s["op"] == SETUP_OP else n)
    m["trace.coverage"] = min((cover[op] / u["s"] for op, u in ops.items()), default=0.0)
    counts: dict[str, float] = {}
    for op, name, v in tr.counts:
        if op in ops:
            counts[name] = counts.get(name, 0.0) + v

    def ratio(a, b):
        return counts.get(a, 0.0) / counts[b] if counts.get(b) else 0.0

    m["plans.cover.ranges"] = counts.get("plans.cover.ranges", 0.0) / n
    m["scan.rows_scanned_per_hit"] = ratio("scan.rows_scanned", "query.hits")
    m["scan.files_read"] = counts.get("scan.files_read", 0.0) / n
    m["operators.spatial_join.candidates_per_match"] = ratio("pip.candidates", "pip.matches")
    m["operators.tilecut.pieces_per_geom"] = ratio("tiles.pieces", "tiles.geoms")
    m["sources.mvt.python_bytes"] = counts.get("mvt.python_bytes", 0.0) / n
    if hasattr(wl, "files"):
        m["ingest.files_written"] = wl.files
        m["ingest.stored_bytes_per_row"] = wl.stored / len(wl.pts)

    t = spark_totals(jobs, {f"{wl.name}#{op}": op for op in ops})
    m["spark.executor_cpu_ms"] = t["cpu_ms"] / n
    m["spark.gc_ms"] = t["gc_ms"] / n
    m["spark.shuffle_write_bytes"] = t["shuffle_write_b"] / n
    m["spark.fetch_wait_ms"] = t["fetch_wait_ms"] / n
    m["spark.spill_bytes"] = t["spill_b"] / n
    m["spark.task_skew"] = t["skew"]
    ing = spark_totals(jobs, {f"{wl.name}#{SETUP_OP}": SETUP_OP})
    if ing["busy"][SETUP_OP]:
        m["ingest.shuffle_write_bytes"] = ing["shuffle_write_b"]
        m["ingest.fetch_wait_ms"] = ing["fetch_wait_ms"]
        m["ingest.spill_bytes"] = ing["spill_b"]
        m["ingest.task_skew"] = ing["skew"]
    client = []
    for op, u in ops.items():
        sp = u["span"]
        a = (tr.epoch0 + sp["start"]) * 1000
        b = (tr.epoch0 + sp["end"]) * 1000
        covered, cur = 0.0, a
        for t0, t1 in sorted(t["busy"][op]):
            t0, t1 = max(t0, cur), min(t1, b)
            if t1 > t0:
                covered += t1 - t0
                cur = t1
        client.append(u["s"] * 1000 - covered)
    m["query.client_ms"] = statistics.fmean(client) if client else 0.0
    return m


def stop_spark(spark, pids: set[int]) -> None:
    """Stop the session, the JVM behind it and every process it
    forked, and wait until each has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        gw.shutdown()
    except Exception as e:  # py4j: the JVM side may be gone already
        log(f"stopping Spark: {type(e).__name__}: {e}")
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    me = os.getpid()
    left = [p for p in pids if p != me]
    deadline = time.time() + 20
    while left and time.time() < deadline:
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
        if left:
            time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(os.path.exists(f"/proc/{p}") for p in left):
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["query", "join_tiles"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    # a terminated run still stops its JVM and workers (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "geomesa_spark")):
        log(f"no geomesa_spark package under {ROOT}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    # scratch space inside the checkout, removed at the end
    work = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in ("spark", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
        + " pyspark-shell"
    )

    import workloads
    from geomesa_spark.session import get_spark

    sampler = tracing.RssSampler().start()
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark("perfbench")
        session_ms = (time.perf_counter() - t) * 1000
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, work)
        tracer = tracing.Tracer(spark.sparkContext, wl.name) if args.trace else None
        if tracer:
            wl.tr = tracer
        wl.setup()
        setup_s = time.perf_counter() - t_start
        wl.tr = tracing.NullTracer()
        try:
            wl.prepare_checks()
        except AssertionError as e:
            log(f"set-up: WRONG OUTPUT: {e}")
            set_up_ok = False
        else:
            set_up_ok = True
        runner = Runner(wl)
        warm = [runner.round(r) for r in range(wl.warmup)]
        log(f"setup {setup_s:.2f}s (session {session_ms / 1000:.2f}s); "
            f"warm-up rounds: {wl.warmup}, seconds "
            f"{[round(sum(u['s'] for u in w), 2) for w in warm]}, per kind "
            f"{[{k: round(s, 2) for u in w for k, s in u['kinds'].items()} for w in warm]}")
        runner.attempted = runner.failed = 0
        runner.correct = runner.correct and set_up_ok
        if not args.trace:
            units = measure(runner, wl.warmup, args.seconds)
            metrics = {"setup_s": setup_s, "op_p50_ms": op_p50_ms(units)}
            units_out = {k: END_TO_END[k] for k in metrics}
        else:
            base, traced = [], []
            rnd, t_end = wl.warmup, time.perf_counter() + args.seconds
            while True:
                b, t = runner.paired_round(rnd, tracer)
                base += b
                traced += t
                rnd += 1
                if time.perf_counter() >= t_end:
                    break
            wl.tr = tracer
            jobs = tracing.job_stats(spark)
            metrics = layer_metrics(wl, traced, jobs, session_ms)
            metrics["process.peak_rss_mb"] = sampler.peak_kb / 1024
            if base and traced:
                metrics["trace.overhead_ms"] = 1000 * (
                    statistics.fmean(u["s"] for u in traced)
                    - statistics.fmean(u["s"] for u in base))
            wl.tr.dump(os.path.join(out_dir, f"trace_{wl.name}_seed{args.seed}.jsonl"))
            units_out = PER_LAYER
            units = base + traced
        n_kind = {}
        for u in units:
            for k in u["kinds"]:
                n_kind[k] = n_kind.get(k, 0) + 1
        log("per-kind p50 ms: " + ", ".join(
            f"{k} {s * 1000:.0f} (n={n_kind[k]})" for k, s in kind_medians(units).items()))
        result = {
            "correct": runner.correct,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": float(v), "unit": units_out[k]} for k, v in metrics.items()},
        }
    finally:
        try:
            if spark is not None:
                stop_spark(spark, sampler.pids)
        finally:
            sampler.stop()
            shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if args.trace:
        for k, v in result["metrics"].items():
            log(f"  {k:48s} {v['value']:14.3f} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
