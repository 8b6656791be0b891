"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 8 --trace 0

Runs from the root of a source checkout and imports the program from
there. All files it writes (generated data, Spark scratch, outputs, span
files and the run record) go under ``.perfbench/`` in the checkout.

``--trace 0`` prints the end-to-end metrics (tracing off). ``--trace 1``
measures an untraced window, then a traced one, and prints the per-layer
metrics from the traced window plus the tracing overhead (traced minus
untraced median latency); the spans go to ``.perfbench/out/``. Both
modes check every answer; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
# sized for a 4-core, 15 GB host shared with other tenants: a 2 GB heap
# holds every workload's data many times over (the largest input is 2 MB
# of parquet) and leaves room for the Python side
HEAP = "2g"
# the first set-up launches the JVM (about 6 s on that host); the others
# start a new SparkContext in it, so setup_s leaves the JVM launch out
SETUP_REPS = 3
# on that host the JIT keeps speeding requests up for seconds after the
# first request of each shape: dashboard window medians fell 20% from first
# to last quarter after a bare one-request-per-shape warm-up, and the first
# curation pass after the cold one ran about 0.8 s slower than the later
# passes (3.5-4.5 s). The warm-up loop ends on a round boundary, so even
# this short deadline runs one full round of every workload (one curation
# pass) after the cold requests, and keeps a run within its time budget.
WARMUP_S = 2


def pin_environment(seed: int) -> dict:
    """Fix the engine's resources and keep every scratch file in WORK.
    Must run before pyspark is imported."""
    nproc = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp"):
        shutil.rmtree(WORK / sub, ignore_errors=True)
    for sub in ("spark-local", "tmp", "out"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(WORK / "tmp"),
        # every JVM spark-submit starts (its launcher and the Spark JVM)
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": nproc,
        "cpu_count": os.cpu_count(),
        "spark_graft_cpus": nproc,
        "heap": HEAP,
        "seed": seed,
        "loadavg_at_start": load,
    }


def import_program() -> None:
    """Import the checkout's hashquery_spark, never an installed copy."""
    sys.path.insert(0, str(ROOT))
    import hashquery_spark

    where = Path(hashquery_spark.__file__).resolve()
    if ROOT not in where.parents:
        raise SystemExit(f"hashquery_spark imported from {where}, not from {ROOT}")


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu jiffies: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Context:
    """What a request needs: the connection, the tracer, and (traced only)
    the Spark-side probes."""

    def __init__(self, spark, conn, tracer, probe, out_dir):
        self.spark, self.conn, self.tracer, self.probe = spark, conn, tracer, probe
        self.out_dir = out_dir

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def begin(self, rid: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(rid, rid)

    def group_jobs(self, rid: str) -> int:
        return self.probe.group_stats(rid)["jobs"] if self.traced else 0

    def plan(self, df, rid: str) -> None:
        """Traced only: Catalyst physical planning, as plan_lint runs it."""
        if not self.traced:
            return
        from hashquery_spark.plan_lint import plan_report

        with self.tracer.span("catalyst.plan", request=rid) as s:
            rep = plan_report(df)
        s.update(exchanges=rep["exchanges"], scans=rep["scans"])

    def after(self, rid: str, answer: dict, rec: dict) -> None:
        """Traced only, outside the request's latency: counters read at the
        request boundary."""
        from hashquery_spark.plan_lint import run_metrics

        totals = run_metrics(answer["df"], collect=False)["totals"]
        rec.update(self.probe.group_stats(rid))
        rec["scan_rows"] = totals["scan_output_rows"]
        rec["scan_bytes"] = totals["scan_bytes_read"]
        rec["spill_bytes"] = totals["spill_bytes_memory"] + totals["spill_bytes_disk"]


class Sample:
    __slots__ = ("i", "key", "start", "end", "answer", "error")

    def __init__(self, i, key, start, end, answer, error):
        self.i, self.key, self.start, self.end = i, key, start, end
        self.answer, self.error = answer, error

    @property
    def latency(self) -> float:
        return self.end - self.start


def measure(workload, ctx, keys, seconds: float, phase: str) -> tuple[list, float]:
    """Closed loop: ``workload.clients`` threads each send the next key of
    ``keys`` after their previous request completes. After ``seconds``
    the clients only finish the current round of ``workload.round_size``
    keys, so the window asks every key of a round equally often. Returns
    the samples and the window's wall time."""
    samples, lock, done = [], threading.Lock(), threading.Event()
    pos = iter(range(len(keys)))
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client():
        while True:
            with lock:
                i = next(pos)
                if done.is_set() or (time.perf_counter() >= deadline
                                     and i % workload.round_size == 0):
                    done.set()
                    return
            rid = f"{phase}{i}"
            ctx.begin(rid)
            start = time.perf_counter()
            try:
                with ctx.tracer.span("request", request=rid, key=str(keys[i])) as rec:
                    answer = workload.execute(ctx, keys[i], rid)
                end, error = time.perf_counter(), None
                if ctx.traced:
                    ctx.after(rid, answer, rec)
            except Exception:  # a failed request is counted, not fatal
                end, answer, error = time.perf_counter(), None, traceback.format_exc()
            with lock:
                samples.append(Sample(i, keys[i], start, end, answer, error))

    threads = [threading.Thread(target=client) for _ in range(workload.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(samples, key=lambda s: s.i), max(s.end for s in samples) - t0


def prepare(*args: str) -> subprocess.Popen:
    """Start ``prepare.py`` (input generation or oracle answers) in a child
    process; see that file."""
    return subprocess.Popen([sys.executable, str(ROOT / "perfbench" / "prepare.py"), *args],
                            stdout=subprocess.PIPE, text=True)


def finish(child: subprocess.Popen) -> str:
    out, _ = child.communicate()
    if child.returncode != 0:
        raise SystemExit(f"{' '.join(child.args)} exited {child.returncode}")
    return out


def warmup(workload, ctx, keys) -> None:
    """One request per shape, all at once, then the workload's own loop
    over ``keys`` for WARMUP_S seconds."""
    shapes = workload.warmup_keys()

    def one(j):
        answer = workload.execute(ctx, shapes[j], f"warm{j}")
        if "dir" in answer:
            shutil.rmtree(answer["dir"], ignore_errors=True)

    with ThreadPoolExecutor(len(shapes)) as pool:
        for _ in pool.map(one, range(len(shapes))):
            pass
    samples, _ = measure(workload, ctx, keys, WARMUP_S, "w")
    for s in samples:
        if s.error:
            raise RuntimeError(f"warm-up request {s.key} failed:\n{s.error}")
        if "dir" in s.answer:
            shutil.rmtree(s.answer["dir"], ignore_errors=True)


def check(workload, samples, oracles, corrupt_every: int) -> int:
    """Check every answer against its oracle; returns the number wrong.
    ``corrupt_every`` > 0 drops the last row of every n-th answer first,
    to show that the gate catches a wrong answer."""
    wrong = 0
    for n, s in enumerate(samples, 1):
        if s.error:
            continue
        if corrupt_every and n % corrupt_every == 0:
            s.answer["result"] = s.answer["result"].iloc[:-1]
        why = workload.check(s.key, s.answer, oracles[s.key])
        if why:
            wrong += 1
            s.error = f"wrong answer for {s.key}: {why}"
    return wrong


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def end_to_end(setup_times, samples, wall, rss_mb) -> dict:
    lat = [s.latency for s in samples if not s.error]
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "latency_p50_s": (percentile(lat, 0.5), "s"),
        "latency_p90_s": (percentile(lat, 0.9), "s"),
        "throughput_rps": (len(lat) / wall, "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def repeat_share(samples) -> float:
    seen, repeats = set(), 0
    for s in samples:
        repeats += s.key in seen
        seen.add(s.key)
    return repeats / len(samples)


def per_layer(workload, tracer, samples, wall, cores, untraced_p50, input_bytes,
              precision) -> dict:
    rids = {f"t{s.i}" for s in samples if not s.error}
    n = max(len(rids), 1)
    by_request: dict = {}
    for sp in tracer.spans:
        if sp["request"] in rids:
            by_request.setdefault(sp["name"], {}).setdefault(sp["request"], []).append(sp)

    def spans(name):
        return [sp for group in by_request.get(name, {}).values() for sp in group]

    def med_s(name):
        per = [sum(sp["end"] - sp["start"] for sp in g) for g in by_request.get(name, {}).values()]
        return statistics.median(per) if per else 0.0

    def mean(name, attr):
        vals = [sp.get(attr, 0) for sp in spans(name)]
        return sum(vals) / len(vals) if vals else 0.0

    def per_request(name, attr):
        return sum(sp.get(attr, 0) for sp in spans(name)) / n

    setup_register = [
        sum(sp["end"] - sp["start"] for sp in tracer.named("connection.register")
            if sp["request"] == f"setup{rep}")
        for rep in range(SETUP_REPS)
    ]
    lat = [s.latency for s in samples if not s.error]
    scanned = sum(sp.get("scan_rows", 0) for sp in spans("request"))
    returned = sum(sp.get("rows", 0) for sp in spans("run.fetch"))
    readback = workload.name == "curation"
    return {
        "connection.register_s": (statistics.median(setup_register), "s"),
        "session.cold_start_s": (next(
            sp["end"] - sp["start"] for sp in tracer.named("session.start")
            if sp["request"] == "setup0"), "s"),
        "model.compile_s": (med_s("model.compile"), "s"),
        "model.jvm_calls": (mean("model.compile", "jvm_calls"), "count"),
        "catalyst.plan_s": (med_s("catalyst.plan"), "s"),
        "plan.exchanges": (mean("catalyst.plan", "exchanges"), "count"),
        "plan.scans": (mean("catalyst.plan", "scans"), "count"),
        "engine.jobs": (mean("request", "jobs"), "count"),
        "engine.tasks": (mean("request", "tasks"), "count"),
        "engine.task_busy_s": (per_request("request", "task_ms") / 1000, "s"),
        "engine.busy_share": (per_request("request", "task_ms") * n / 1000 / (wall * cores),
                              "ratio"),
        "engine.gc_s": (per_request("request", "gc_ms") / 1000, "s"),
        "engine.input_bytes": (per_request("request", "input_bytes"), "bytes"),
        "engine.shuffle_write_bytes": (per_request("request", "shuffle_write_bytes"), "bytes"),
        "engine.spill_bytes": (mean("request", "spill_bytes"), "bytes"),
        "engine.rows_scanned_per_row_returned": (scanned / max(returned, 1), "ratio"),
        "run.fetch_s": (med_s("run.fetch"), "s"),
        "run.result_rows": (mean("run.fetch", "rows"), "count"),
        "ops.curate_s": (med_s("ops.curate"), "s"),
        "ops.minhash_s": (med_s("ops.minhash"), "s"),
        "ops.dedup_clusters_s": (med_s("ops.dedup_clusters"), "s"),
        "ops.dedup_clusters.jobs": (mean("ops.dedup_clusters", "jobs"), "count"),
        "ops.minhash.candidate_precision": (precision, "ratio"),
        "sink.write_s": (med_s("sink.write"), "s"),
        "sink.files_written": (per_request("sink.write", "files"), "count"),
        "sink.bytes_written_per_input_byte": (
            per_request("sink.write", "bytes") / input_bytes, "ratio"),
        "scan.readback_input_bytes": (
            mean("request", "scan_bytes") if readback else 0.0, "bytes"),
        "requests.repeat_share": (repeat_share(samples), "ratio"),
        "trace.overhead_s": (statistics.median(lat) - untraced_p50, "s"),
    }


def declared_metrics(trace: bool) -> list[str]:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "funnel", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-every", type=int, default=0,
                    help="drop a row from every n-th answer before checking "
                         "(shows that wrong answers are caught)")
    args = ap.parse_args()

    env = pin_environment(args.seed)
    import_program()
    from tracing import Py4jCounter, Tracer
    from workload import make_workload

    wanted = declared_metrics(bool(args.trace))
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, out_dir = run_dir / "data", run_dir / "out"
    data_dir.mkdir(parents=True)
    out_dir.mkdir()
    os.chdir(run_dir)  # spark-warehouse and friends land here

    workload = make_workload(args.workload, env["nproc"])
    counter = None
    if args.trace:
        counter = Py4jCounter()
        counter.install()
    tracer = Tracer(enabled=bool(args.trace), counter=counter)
    try:
        result = run(args, env, workload, tracer, data_dir, out_dir)
    finally:
        stop_jvm()
        if counter:
            counter.uninstall()
    metrics = result["metrics"]
    differ = set(wanted) ^ set(metrics)
    if differ:
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(differ)}")
    errors = [s for s in result.pop("samples") if s.error]
    with open(WORK / "out" / f"run-{args.workload}-seed{args.seed}-trace{args.trace}.json",
              "w") as f:
        json.dump({"environment": env, **result}, f)
    for s in errors[:5]:
        print(f"perfbench: request {s.i} {s.key} failed:\n{s.error}", file=sys.stderr)
    print(json.dumps({
        "correct": not errors,
        "attempted": result["attempted"],
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def run(args, env, workload, tracer, data_dir: Path, out_dir: Path):
    """Set up, warm up, measure and check; returns the run record."""
    import numpy as np

    from hashquery_spark import Connection, default_session
    from tracing import EngineProbe
    from workload import mismatch

    # --- set-up, SETUP_REPS times: session start, data generation (a child
    # process), registration; setup_s is the median
    setup_times, spark = [], None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("setup", request=f"setup{rep}"):
            with tracer.span("session.start"):
                spark = default_session()
                spark.sparkContext.setLogLevel("ERROR")
            with tracer.span("datagen"):
                facts = json.loads(finish(prepare(
                    "generate", workload.name, str(data_dir), str(args.seed))))
            with tracer.span("connection.register"):
                conn = Connection(spark)
                for t in workload.tables:
                    conn.register_parquet(t, str(data_dir / f"{t}.parquet"))
        setup_times.append(time.perf_counter() - t0)
    workload.truth = facts
    input_bytes = sum(os.path.getsize(data_dir / f"{t}.parquet") for t in workload.tables)
    probe = EngineProbe(spark) if args.trace else None
    ctx = Context(spark, conn, tracer, probe, str(out_dir))

    # --- oracle answers (DuckDB, untimed, a child process) computed while
    # the warm-up requests warm the JVM; the warm-up is timed, not a metric
    oracle_file = data_dir.parent / "oracles.pkl"
    oracle_child = prepare("oracles", workload.name, str(data_dir), str(oracle_file))
    tracer.enabled = False
    t0 = time.perf_counter()
    try:
        warmup(workload, ctx, workload.schedule(np.random.default_rng([args.seed, 1]), 2_000))
    finally:
        finish(oracle_child)
    warmup_s = time.perf_counter() - t0
    with open(oracle_file, "rb") as f:
        oracles = pickle.load(f)

    keys = workload.schedule(np.random.default_rng(args.seed), 20_000)
    # a traced run splits its time: untraced half, then traced half
    window = args.seconds / 2 if args.trace else args.seconds
    cpu0 = cpu_times()
    samples, wall = measure(workload, ctx, keys, window, "u")
    used = [b - a for a, b in zip(cpu0, cpu_times())]
    # CPU time the hypervisor gave to other tenants during the window
    env["steal_share_in_window"] = used[7] / max(sum(used), 1)
    all_samples = list(samples)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024
    metrics = e2e = end_to_end(setup_times, samples, wall, rss_mb)

    if args.trace:
        tracer.enabled = True
        traced, twall = measure(workload, ctx, keys[len(samples):], window, "t")
        all_samples += traced
        precision = 0.0
        passed = [s for s in traced if not s.error]
        if args.workload == "curation" and passed:
            pairs = passed[-1].answer["pairs"].toPandas()
            precision = workload.candidate_precision(pairs)
            want = oracles["pass"]["pairs"]
            why = mismatch(pairs[list(want.columns)], want)
            if why:
                passed[-1].error = f"candidate pairs: {why}"
        metrics = per_layer(workload, tracer, traced, twall, probe.cores,
                            e2e["latency_p50_s"][0], input_bytes, precision)
        tracer.dump(str(WORK / "out" / f"spans-{args.workload}-seed{args.seed}.jsonl"))

    errors_before = sum(1 for s in all_samples if s.error)
    wrong = check(workload, [s for s in all_samples if not s.error], oracles,
                  args.corrupt_every)
    attempted = len(all_samples)
    failed = sum(1 for s in all_samples if s.error)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"seconds={args.seconds}")
    print("environment " + json.dumps(env))
    print(f"  {'setup runs':40s} {', '.join(f'{t:.3f}' for t in setup_times)} s")
    print(f"  {'warm-up':40s} {warmup_s:.3f} s")
    print(f"  {'requests (untraced window)':40s} {len(samples)} in {wall:.2f} s,"
          f" {workload.clients} client(s), closed loop")
    print(f"  {'repeated requests':40s} {repeat_share(samples):.3f}")
    print(f"  {'error_rate':40s} {failed / attempted:.4f}"
          f" ({errors_before} failed + {wrong} wrong of {attempted})")
    for name, (value, unit) in metrics.items():
        print(f"  {name:40s} {value:.6g} {unit}")
    return {
        "setup_s": setup_times, "warmup_s": warmup_s, "metrics": metrics,
        "attempted": attempted, "samples": all_samples,
        "latencies": [[str(s.key), s.latency, bool(s.error)] for s in all_samples],
    }


def stop_jvm() -> None:
    """Stop Spark, then the JVM it runs in, if one runs, and wait for the
    JVM to exit. The next session launches a new JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkSession._instantiatedSession is not None:
        SparkSession._instantiatedSession.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits on stdin EOF
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
