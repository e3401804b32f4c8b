"""Benchmark entry point: one workload per process, one closed-loop client.

    python3 perfbench/run.py --workload session_tall --seed 0 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all      # every workload, untraced and traced

Run it from the repository root. A run starts Spark ``local[N]`` with
N = the cores this process may use, generates its inputs from ``--seed``
under ``.perfbench/``, warms up, then runs timed passes for ``--seconds``
(at least one). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it name every metric with its unit, including the
per-phase figures (ingest_s, search_s, ...) behind the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("session_tall", "session_wide", "operator_batch")
DEFAULT_SEED = 0
SETUP_REPEATS = 3  # input generations per run; setup_s takes their median
SOFT_LIMIT_S = 120.0  # no new timed pass starts after this much run time
DEADLINE_S = 165.0  # the watchdog cancels all Spark work here


def box_config() -> dict:
    """Session sizing pinned to the machine: cores this process may use,
    a quarter of RAM for the driver (local mode runs every executor
    thread inside it), and shuffle partitions as the package sizes them."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    driver_gb = max(1, min(8, mem_kb // (4 * 1024 * 1024)))
    return {"cpus": cpus, "driver_memory": f"{driver_gb}g", "shuffle_partitions": max(8, cpus)}


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def load_digests() -> dict:
    with open(os.path.join(HERE, "digests.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="store this run's output digests as the expected ones (default seed only)")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    sys.path.insert(0, ROOT)
    try:
        import data_transformation_2022_spark as pkg
    except ImportError as e:
        print(f"perfbench: the package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the package from outside {ROOT}", file=sys.stderr)
        return 2
    if args.record_digests and args.seed != DEFAULT_SEED:
        print("perfbench: digests are recorded for the default seed only", file=sys.stderr)
        return 2
    return run(args)


def run(args) -> int:
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    cfg = box_config()
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cfg["cpus"]),
        SPARK_DRIVER_MEMORY=cfg["driver_memory"],
        SPARK_SHUFFLE_PARTITIONS=str(cfg["shuffle_partitions"]),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM (the launcher and the driver) keeps its temp files in
        # the checkout and writes no /tmp/hsperfdata_* file
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    tempfile.tempdir = os.path.join(work, "tmp")

    from perfbench import metrics, trace

    t0 = time.perf_counter()
    spark = start_spark(args, work, cfg)
    spark_start_s = time.perf_counter() - t0
    try:
        res = measure(args, spark, work, t_start)
    finally:
        jvm_rss_mb = stop_spark(spark)
    res["setup"]["spark_start_s"] = spark_start_s
    setup_s = spark_start_s + statistics.median(res["setup"]["generate_s"]) + res["setup"]["warm_s"]

    if args.record_digests:
        allx = load_digests()
        allx[args.workload] = res["recorded"]
        with open(os.path.join(HERE, "digests.json"), "w") as f:
            json.dump(allx, f, indent=1, sort_keys=True)
            f.write("\n")

    passes, failures, attempted = res["passes"], res["failures"], res["attempted"]
    summary = metrics.summarize(passes, res["light"])
    e2e = {
        "setup_s": setup_s,
        "pass_s": summary["pass_s"],
        "geomean_ms": summary["geomean_ms"],
    }
    rss = {"mem.jvm_peak_rss_mb": jvm_rss_mb, "mem.python_peak_rss_mb": vm_hwm_mb("self")}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "config": cfg,
        "passes": len(passes),
        "setup": res["setup"],
        "end_to_end": e2e,
        "memory": rss,
        "phases": named_phases(args.workload, summary, metrics.by_kind(passes), e2e,
                               sum(rss.values()), len(failures), attempted),
        "failures": failures,
    }
    if args.trace:
        specs = metrics.layer_specs()
        jobs = trace.parse_event_log(trace.find_event_log(os.path.join(work, "eventlog")))
        layers = metrics.layer_values(specs, res["spans"], jobs, len(passes), res["window"])
        layers.update(rss)
        layers["trace.pass_s"] = e2e["pass_s"]
        layers["trace.geomean_ms"] = e2e["geomean_ms"]
        report["layers"] = layers
        out = {name: {"value": layers[name], "unit": unit} for name, unit, _ in specs}
    else:
        units = {name: unit for name, unit, _, _ in metrics.END_TO_END}
        out = {name: {"value": v, "unit": units[name]} for name, v in e2e.items()}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(report, f, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} passes={len(passes)}")
    print("config " + json.dumps(cfg, sort_keys=True))
    for name, (v, unit) in report["phases"].items():
        print(f"  {name} = {v:.6g} {unit}")
    for f in failures:
        print(f"FAILED {f}")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": out}))
    return 0


def start_spark(args, work: str, cfg: dict):
    """The package's own session factory, with scratch space, the
    warehouse and (traced runs) the event log inside ``work``; records
    the versions and settings the session ended up with in ``cfg``."""
    import pyspark

    from data_transformation_2022_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    cfg.update(
        master=spark.sparkContext.master,
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        jdk=spark._jvm.java.lang.System.getProperty("java.version"),
        pyspark=pyspark.__version__,
        python=sys.version.split()[0],
    )
    return spark


def stop_spark(spark) -> float:
    """Stop Spark and wait for its JVM to exit; returns the JVM's peak RSS (MB)."""
    gateway = spark.sparkContext._gateway
    rss = vm_hwm_mb(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    return rss


def measure(args, spark, work: str, t_start: float) -> dict:
    """Generate, warm up, run timed passes and check their outputs."""
    from perfbench import metrics, trace, workloads

    timed_out = threading.Event()

    def watchdog():
        timed_out.set()
        try:
            for q in spark.streams.active:
                q.stop()
        finally:
            spark.sparkContext.cancelAllJobs()

    dog = threading.Timer(max(1.0, DEADLINE_S - (time.perf_counter() - t_start)), watchdog)
    dog.daemon = True
    dog.start()

    tracer = trace.Tracer(enabled=False)  # the warm-up is not traced
    expected = load_digests().get(args.workload, {})
    if args.workload == metrics.BATCH:
        wl = workloads.BatchWorkload(spark, args.seed, work, tracer, expected=expected)
    else:
        wl = workloads.SessionWorkload(args.workload, spark, args.seed, work, tracer)

    gen_s = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t0

    tracer.enabled = bool(args.trace)
    saved = trace.install(tracer) if args.trace else []
    passes: list[workloads.PassResult] = []
    window_start = time.time()
    t_loop = time.perf_counter()
    while not timed_out.is_set():
        passes.append(wl.run_pass())
        now = time.perf_counter()
        if now - t_loop >= args.seconds or now - t_start + passes[-1].wall_s > SOFT_LIMIT_S:
            break
    window = (window_start, time.time())
    trace.uninstall(saved)
    dog.cancel()

    # every response must equal the same response of the first pass
    failures: list[str] = []
    attempted = 0
    ref = passes[0].requests
    for k, p in enumerate(passes):
        for i, r in enumerate(p.requests):
            attempted += 1
            if not r.ok:
                failures.append(f"pass {k} {r.kind}: {r.error or 'timed out'}")
            elif k and (i >= len(ref) or r.digest != ref[i].digest):
                failures.append(f"pass {k} {r.kind}: response differs from pass 0")
    # ... and the recorded digests where this tree recorded them
    if args.workload == metrics.BATCH:
        attempted += len(workloads.MIX)
        failures += [f"check {f}" for f in wl.check_failures]
        recorded = wl.checked
    else:
        recorded = {r.kind: r.digest for r in ref if r.kind in ("search", "research")}
        if args.seed == DEFAULT_SEED and not args.record_digests:
            attempted += 1
            if recorded != expected:
                failures.append(f"check search digests {recorded} != recorded {expected}")
    if timed_out.is_set():
        failures.append("run deadline reached: Spark work cancelled")
    if args.trace:
        tracer.write(os.path.join(work, "spans.jsonl"))
    return {
        "setup": {"generate_s": gen_s, "warm_s": warm_s},
        "passes": passes,
        "light": wl.light,
        "failures": failures,
        "attempted": attempted,
        "recorded": recorded,
        "spans": tracer.spans,
        "window": window,
    }


def named_phases(workload, summary, kinds, e2e, rss_mb, n_failed, attempted) -> dict:
    """The end-to-end figures under the names a reader of a session or a
    batch pass uses: (value, unit)."""
    out = {"setup_s": (e2e["setup_s"], "s")}
    if workload.startswith("session"):
        out.update({
            "ingest_s": (kinds.get("ingest", 0.0), "s"),
            "search_s": (kinds.get("search", 0.0), "s"),
            "research_s": (kinds.get("research", 0.0), "s"),
            "add_t_p50_ms": (kinds.get("add_t", 0.0) * 1000, "ms"),
            "add_v_p50_ms": (kinds.get("add_v", 0.0) * 1000, "ms"),
            f"refine_tail_ms(p{summary['tail_pct']:.0f},n={summary['tail_n']})": (summary["tail_ms"], "ms"),
            "session_s": (e2e["pass_s"], "s"),
        })
    else:
        out.update({
            "batch_s": (e2e["pass_s"], "s"),
            "batch_geomean_s": (e2e["geomean_ms"] / 1000, "s"),
            "query_p50_ms": (summary["p50_ms"], "ms"),
            f"query_tail_ms(p{summary['tail_pct']:.0f},n={summary['tail_n']})": (summary["tail_ms"], "ms"),
        })
    out["fail_rate"] = (n_failed / max(1, attempted), "ratio")
    out["peak_rss_mb"] = (rss_mb, "MB")
    return out


def run_all(args) -> int:
    """Every workload untraced then traced, each in its own process;
    prints the named figures side by side and the tracing overhead
    (traced minus untraced end-to-end values)."""
    rows: dict[str, dict] = {}
    status = 0
    for w in WORKLOADS:
        for t in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(t)]
            rc = subprocess.run(cmd, stdout=subprocess.DEVNULL).returncode
            status = status or rc
            path = os.path.join(ROOT, ".perfbench", f"{w}-trace{t}", "result.json")
            if rc == 0:
                with open(path) as f:
                    rows[f"{w}-trace{t}"] = json.load(f)
    for w in WORKLOADS:
        plain, traced = rows.get(f"{w}-trace0"), rows.get(f"{w}-trace1")
        if plain is None:
            print(f"{w}: run failed")
            continue
        print(f"{w} (seed {args.seed}, {plain['passes']} passes)")
        for name, (v, unit) in plain["phases"].items():
            print(f"  {name:<34} {v:12.4f} {unit}")
        if traced is not None:
            for name, v in plain["end_to_end"].items():
                d = traced["end_to_end"][name] - v
                print(f"  trace overhead {name:<19} {d:+12.4f} ({100 * d / v:+.1f}%)")
    return status


if __name__ == "__main__":
    sys.exit(main())
