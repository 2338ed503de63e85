"""The repository benchmark: seeded inputs, two workloads, checked outputs.

    python3 perfbench/run.py --workload train_seq --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1 --trace 0

Run it from the repository root. One run is one fresh JVM on
``local[nproc]``: set-up, a cold first pass, then ``MIN_WARM`` warm passes
back to back, and more until ``--seconds`` have passed (a closed loop with
one client, the driver process). Every pass's output is checked; a failed or wrong pass counts in
``failed``. Inputs are generated with DuckDB from ``--seed`` and cached
under ``perfbench/.cache``.

``--trace 0`` reports the end-to-end metrics, measured with tracing off.
``--trace 1`` is the separate traced run: its warm passes go untraced,
traced, untraced, and it reports the per-layer metrics plus the tracing
overhead (traced minus untraced median pass time). Spans go to
``perfbench/.out/<workload>-s<seed>.spans.jsonl`` when the run ends.

Before the last line it prints the full record (run context, input census,
every pass, every metric including ``error_rate``); the last line is
``{"correct", "attempted", "failed", "metrics"}``. The process exits
non-zero without a result when the program under test cannot be imported.
"""

import time

_T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

#: Untraced warm passes a run makes at least, whatever ``--seconds`` says;
#: ``warm_s`` is their median.
MIN_WARM = 2
#: JIT thresholds scaled down so the JVM is past most of its warm-up by the
#: first warm pass. With the defaults, pass times still fall ~40% from the
#: first warm pass to the sixth, so a run that fits the time budget would
#: sample the steepest part of that curve.
JIT_FLAGS = "-XX:CompileThresholdScaling=0.05"
#: No new warm pass starts this long after process start, so a slow box
#: still ends the run well inside three minutes.
RUN_CAP_S = 110

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "input_rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    from perfbench.workloads import HEADLINE

    units = {"session.build_s": "s", "codegen.compile_s": "s", "codegen.classes": "count"}
    for layer in ("sources.readers", "omop.events", "omop.visits", "omop.sequence",
                  "omop.cohort", "omop.vocab"):
        units.update({f"{layer}.calls": "count", f"{layer}.self_s": "s",
                      f"{layer}.py4j_calls": "count"})
    units.update({
        "sources.writers.self_s": "s",
        "sources.writers.bytes_written": "bytes",
        "sources.writers.files": "count",
        "sources.writers.write_amp": "ratio",
    })
    for q in HEADLINE:
        units.update({f"operators.{q}.build_s": "s", f"operators.{q}.plan_s": "s",
                      f"operators.{q}.exec_s": "s", f"operators.{q}.py4j_calls": "count"})
    units.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.failed_tasks": "count", "spark.task_s": "s", "spark.task_cpu_s": "s",
        "spark.gc_s": "s", "spark.scan_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
        "spark.busy_ratio": "ratio", "spark.driver_gap_s": "s",
        "streaming.batches": "count", "streaming.trigger_ms_p50": "ms",
        "streaming.add_batch_ms": "ms", "streaming.state_rows": "count",
        "streaming.state_bytes": "bytes",
        "trace.overhead_s": "s",
    })
    return units


def _declared(section: str) -> list[str]:
    """Metric names ``BENCHMARK.json`` declares in ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[section]]


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _load1() -> float:
    return os.getloadavg()[0]


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _generate(kind: str, seed: int, size: int) -> tuple[str, dict]:
    """Generate (or reuse) the inputs in a child process, so DuckDB's
    memory stays out of this process's peak RSS."""
    code = ("import json, sys; sys.path.insert(0, sys.argv[1]); from perfbench import gen; "
            "print(json.dumps(gen.cached(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))))")
    out = subprocess.run([sys.executable, "-c", code, ROOT, kind, str(seed), str(size)],
                         capture_output=True, text=True, timeout=170, check=True)
    data_dir, census = json.loads(out.stdout.strip().splitlines()[-1])
    return data_dir, census


def _start_session(nproc: int):
    """Launch a JVM, build the session and run a trivial job. Returns the
    session, the build time and the total time."""
    from cehrbert_data_spark.session import build_session

    t0 = time.time()
    spark = build_session("perfbench", master=f"local[{nproc}]")
    t1 = time.time()
    spark.range(1).count()
    return spark, t1 - t0, time.time() - t0


def _stop_jvm(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> tuple[dict, dict]:
    """One run of one workload; returns (record, result line)."""
    try:
        import pyspark

        import cehrbert_data_spark  # noqa: F401 - the program under test
    except ImportError as exc:
        raise SystemExit(f"perfbench: the program is not importable here: {exc}")
    import_s = time.time() - _T0

    from perfbench.trace import SparkCensus, Tracer, median
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    size = args.size or cls.size
    t_gen = time.time()
    data_dir, census = _generate(cls.kind, args.seed, size)
    generate_s = time.time() - t_gen
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # Keep Spark's scratch files, Python's and the JVM's temp files in the
    # work directory.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData {JIT_FLAGS}"
    )
    nproc = _nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)

    # One fresh-JVM set-up per run: launching a JVM costs ~9 s on a 4-core
    # box, so more set-ups per run would not fit the run-time budget.
    spark, build_s, session_s = _start_session(nproc)
    setup_s = import_s + session_s

    wl = cls(data_dir, census, work)
    spark_census = SparkCensus(spark)
    tracer = Tracer(spark_census) if args.trace else None
    pass_ref = [0]
    passes: list[dict] = []

    def one_pass(pass_id: int, traced: bool) -> dict:
        rec = {"id": pass_id, "traced": traced, "load1_start": _load1()}
        pass_ref[0] = pass_id
        mark = None
        if traced:
            tracer.install()
            wl.hooks(tracer, pass_ref)
            mark = spark_census.mark()
        t0 = time.time()
        try:
            if traced:
                with tracer.span("pass", "benchmark", pass_id):
                    wl.run_pass(spark, pass_id, tracer)
            else:
                wl.run_pass(spark, pass_id)
            ok = True
        except Exception as exc:  # noqa: BLE001 - a failed pass is counted, not fatal
            ok = False
            wl.errors.append(f"pass {pass_id}: {type(exc).__name__}: {str(exc)[:300]}")
        t1 = time.time()
        if traced:
            tracer.uninstall()
            rec["spark"] = spark_census.since(mark, t0, t1, nproc)
        rec.update(wall_s=t1 - t0, load1_end=_load1(), input_rows=wl.input_rows())
        if ok:
            try:
                wl.check_pass(spark, pass_id)
            except Exception as exc:  # noqa: BLE001 - CheckFailed or a failed read
                ok = False
                wl.errors.append(f"pass {pass_id}: {type(exc).__name__}: {str(exc)[:300]}")
        rec["ok"] = ok
        rec["check_s"] = time.time() - t1
        passes.append(rec)
        return rec

    cg0 = spark_census.codegen()
    one_pass(0, traced=False)
    cg1 = spark_census.codegen()
    warm_t0 = time.time()
    pid = 1
    while True:
        untraced = [p for p in passes[1:] if not p["traced"]]
        traced = [p for p in passes[1:] if p["traced"]]
        done_min = len(untraced) >= MIN_WARM and (not args.trace or traced)
        now = time.time()
        if done_min and (now - warm_t0 >= args.seconds or now - _T0 >= RUN_CAP_S):
            break
        # Traced runs alternate untraced and traced warm passes, starting
        # and ending untraced, so each traced pass sits between two
        # untraced ones on the warm-up curve.
        one_pass(pid, traced=bool(args.trace) and pid % 2 == 0)
        pid += 1

    jvm_pid = spark.sparkContext._gateway.proc.pid
    peak_rss_mb = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "size": size,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "cpus_used": nproc,
        "master": spark.sparkContext.master,
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "java_version": spark._jvm.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "driver_memory": spark.conf.get("spark.driver.memory", "1g (default)"),
        "jvm_flags": JIT_FLAGS,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "git_commit": _git_commit(),
        "client": "closed loop, 1 client (the driver process)",
    }
    t_finish = time.time()
    try:
        wl.finish(spark, passes)
    except Exception as exc:  # noqa: BLE001 - no reference, so no pass is known good
        wl.errors.append(f"reference check: {type(exc).__name__}: {str(exc)[:300]}")
        for p in passes:
            p["ok"] = False
    finish_s = time.time() - t_finish

    warm_untraced = [p["wall_s"] for p in passes[1:] if not p["traced"]]
    warm_s = median(warm_untraced)
    attempted = len(passes)
    failed = sum(1 for p in passes if not p["ok"])
    e2e = {
        "setup_s": setup_s,
        "cold_s": passes[0]["wall_s"],
        "warm_s": warm_s,
        "input_rows_per_s": wl.input_rows() / warm_s if warm_s else 0.0,
        "peak_rss_mb": peak_rss_mb,
    }
    record = {
        "context": context,
        "census": census,
        "setup": {"import_s": import_s, "session_s": session_s, "build_s": build_s},
        "generate_s": generate_s,
        "finish_s": finish_s,
        "passes": passes,
        "warm_samples": len(warm_untraced),
        "error_rate": failed / attempted,
        "errors": wl.errors,
        "end_to_end": e2e,
    }
    if args.trace:
        metrics = _layer_metrics(wl, tracer, passes, build_s, cg0, cg1, warm_s)
        record["per_layer"] = metrics
        spans_path = os.path.join(out_dir, f"{args.workload}-s{args.seed}.spans.jsonl")
        tracer.write(spans_path)
        record["spans_file"] = os.path.relpath(spans_path, ROOT)
        # Self times of the program's layers, per traced pass. The root
        # span's own self time is what no layer span covers.
        traced_walls = [p["wall_s"] for p in passes if p["traced"]]
        totals = tracer.layer_totals([p["id"] for p in passes if p["traced"]])
        self_sum = sum(v["self_s"] for k, v in totals.items() if k != "benchmark")
        record["layer_self_sum_s"] = self_sum
        record["unattributed_s"] = totals.get("benchmark", {}).get("self_s", 0.0)
        record["layer_self_le_wall"] = self_sum <= sum(traced_walls) / len(traced_walls)
        record["traced_warm_s"] = median(traced_walls)
        units = per_layer_units()
    else:
        metrics = e2e
        units = END_TO_END
    declared = _declared("per_layer" if args.trace else "end_to_end")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in declared},
    }
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    _stop_jvm(spark)
    shutil.rmtree(work, ignore_errors=True)
    return record, result


def _layer_metrics(wl, tracer, passes, build_s, cg0, cg1, warm_s) -> dict:
    from perfbench.trace import median

    traced_ids = [p["id"] for p in passes if p["traced"]]
    units = per_layer_units()
    m = {k: 0.0 for k in units}
    m["session.build_s"] = build_s
    m["codegen.compile_s"] = cg1["compile_s"] - cg0["compile_s"]
    m["codegen.classes"] = cg1["classes"] - cg0["classes"]
    for layer, agg in tracer.layer_totals(traced_ids).items():
        for key, value in agg.items():
            name = f"{layer}.{key}"
            if name in m:
                m[name] = value
    spark_recs = [p["spark"] for p in passes if p["traced"]]
    for key in spark_recs[0] if spark_recs else ():
        m[f"spark.{key}"] = sum(r[key] for r in spark_recs) / len(spark_recs)
    m.update(wl.extra_layer_metrics(tracer, traced_ids))
    m["trace.overhead_s"] = median([p["wall_s"] for p in passes if p["traced"]]) - warm_s
    return m


def run_all(args) -> int:
    """Run every workload ``BENCHMARK.json`` declares, each in its own
    process, and print every metric with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    rc = 0
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.size:
            cmd += ["--size", str(args.size)]
        out = subprocess.run(cmd, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{name}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            rc = 1
            continue
        result = json.loads(lines[-1])
        error_rate = result["failed"] / result["attempted"]
        print(f"{name}: correct={result['correct']} attempted={result['attempted']} "
              f"error_rate={error_rate:.3f} ratio")
        for k, v in result["metrics"].items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
        rc |= 0 if result["correct"] else 1
    return rc


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS  # noqa: F401 - fails fast when misplaced

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", type=int, default=0,
                    help="input size override (the smoke test's tiny sizes)")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    record, result = run(args)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
