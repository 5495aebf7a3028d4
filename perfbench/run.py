"""Benchmark of the bulk pipeline and the query surface.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout; see perfbench/README.md. It drives the
program the way a user does: `swiftbulkuploader_spark.cli.main` in-process
for prepare/recrawl, `upload ... swift:<container>` and `status`, against a
disk-backed fake Swift endpoint (perfbench/fakeswift) that the JVM and its
Python workers import as `swiftclient`; and `registry.QUERIES` for the
query surface. One process, one client, closed loop, on local[<nproc>].

Set-up (inputs built from the seed, session start, one untimed pass of the
workload's path) is timed as `setup_s`. Then timed reps run until
`--seconds` of rep time has passed, each checked after its clock stops.
The metric names and units come from BENCHMARK.json at the checkout root.

Stdout ends with two JSON lines: the detail (environment stamp, the
workload's own end-to-end figures, per-rep samples and checks, the set-up
split and, when traced, span self times), then the result line
{"correct", "attempted", "failed", "metrics"}. Everything the run writes
goes under .perfbench_work/ in the checkout and is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FAKE_SWIFT = os.path.join(HERE, "fakeswift")
MAX_RUN_S = 150.0  # no new rep starts past this; a run must end within 180 s

WORKLOAD_NAMES = ("upload_small", "upload_remote", "resume_dirty", "query_mix")


def load_spec() -> tuple[dict, dict]:
    """(end-to-end units, per-layer units) by metric name."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Everything the JVM, its Python workers and the CLI inherit: the
    package and the fake client on PYTHONPATH, scratch space inside the
    checkout, the fake endpoint's credentials and config file."""
    path = [ROOT, FAKE_SWIFT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "PYTHONPATH": ":".join(path),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # spark-submit's own launcher JVM; the driver JVM's flags are in start_spark
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        "OS_AUTH_URL": "fake://swift/auth/v3",
        "OS_USERNAME": "bench:user",
        "OS_PASSWORD": "bench",
        "PERFBENCH_SWIFT_CONFIG": os.path.join(work, "swift.json"),
    })
    # The session's own default heap is 24g; on a 16 GiB host shared with
    # other jobs the benchmark runs at 4g unless told otherwise.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    sys.path[:0] = [ROOT, FAKE_SWIFT, HERE]


def start_spark(work: str):
    from swiftbulkuploader_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark("perfbench", extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - already gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def git_commit() -> str:
    """HEAD of the checkout's git metadata when there is any, read without
    running git."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.isfile(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def env_stamp(seed: int, load_start: float) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gib": round(mem_kb / 2**20, 2),
        "driver_heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__,
        "git_commit": git_commit(),
        "seed": seed,
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": os.getloadavg()[0],
    }


# Traced upload runs first run one rep they do not report, so the first
# reported rep is not the coldest, then order their reps untraced, traced,
# traced, untraced, so a drift that is linear in time cancels out of the
# overhead.
TRACE_ORDER = (False, True, True, False)


def measure(wl, seconds: float, trace: bool) -> tuple[list, list]:
    """Timed reps until `seconds` of rep time: (untraced reps, traced reps).
    A traced run of a workload that alternates runs whole TRACE_ORDER
    blocks; one that does not (query_mix) traces every rep."""
    plain, traced = [], []
    spent = 0.0
    if trace and wl.alternate:
        wl.rep(traced=False, check=False)
    while True:
        n = len(plain) + len(traced)
        want_trace = trace and (not wl.alternate or TRACE_ORDER[n % len(TRACE_ORDER)])
        rep = wl.rep(traced=want_trace)
        (traced if want_trace else plain).append(rep)
        spent += rep.run_s
        block_done = not (trace and wl.alternate) or (n + 1) % len(TRACE_ORDER) == 0
        if spent >= seconds and block_done:
            return plain, traced
        if time.time() - T_PROCESS + rep.run_s * 1.5 > MAX_RUN_S:
            return plain, traced


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, int]:
    """The value with 10 samples above it (the highest percentile that
    still has 10 samples beyond it; the smallest value when there are
    fewer than 11), and the sample count."""
    vals = sorted(values)
    return (vals[max(len(vals) - 11, 0)] if vals else 0.0), len(vals)


def workload_figures(name: str, reps: list, setup_s: float) -> dict:
    """The workload's end-to-end figures under their own names."""
    out = {"setup_s": (setup_s, "s"), "run_s": (median(r.run_s for r in reps), "s"),
           "main_step_s": (median(r.main_s for r in reps), "s")}
    attempted = sum(r.attempted for r in reps)
    failed = sum(r.failed for r in reps)
    out["failed_share"] = (failed / attempted if attempted else 0.0, "ratio")
    if name == "query_mix":
        lat = [v for r in reps for v in r.extra["latency_s"].values()]
        out["query_p50_s"] = (median(lat), "s")
        t, n = tail(lat)
        out["query_tail_s"] = (t, "s")
        out["query_tail_samples"] = (n, "count")
    elif name == "resume_dirty":
        out["resume_s"] = (median(r.main_s for r in reps), "s")
    else:
        out["files_per_s"] = (median((r.extra["files"] - r.failed) / r.main_s for r in reps),
                              "files/s")
        out["MB_per_s"] = (median(r.extra["bytes_landed"] / 1e6 / r.main_s for r in reps),
                           "MB/s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def layer_figures(units: dict, plain: list, traced: list, session: dict) -> dict:
    """Median over the traced reps; 0 for a layer the workload never
    touched. Upload workloads take the tracing overhead as the gap between
    their traced and untraced reps; query_mix times its probe calls."""
    out = {key: median(r.layers.get(key, 0.0) for r in traced) for key in units}
    out.update(session)
    base = median(r.run_s for r in plain)
    if base:
        out["trace.overhead_share"] = median(r.run_s for r in traced) / base - 1.0
    return {k: {"value": out[k], "unit": u} for k, u in units.items()}


def self_times(traced: list) -> dict:
    table: dict[str, dict] = {}
    for r in traced:
        for name, row in r.spans.items():
            acc = table.setdefault(name, {"n": 0, "s": [], "self_s": []})
            acc["n"] += row["n"]
            acc["s"].append(row["s"])
            acc["self_s"].append(row["self_s"])
    return {k: {"calls": v["n"], "s": median(v["s"]), "self_s": median(v["self_s"])}
            for k, v in table.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "swiftbulkuploader_spark", "cli.py")):
        print(f"perfbench: no swiftbulkuploader_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    e2e_units, layer_units = load_spec()
    load_start = os.getloadavg()[0]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    import layers
    import workloads

    spark = None
    setup_parts: dict = {}
    try:
        tracer = layers.Tracer()
        ctx = workloads.Ctx(spark=None, work=work, seed=args.seed, tracer=tracer,
                            swift_config=os.environ["PERFBENCH_SWIFT_CONFIG"],
                            store_root=os.path.join(work, "store"))
        wl = workloads.WORKLOADS[args.workload](ctx)
        t0 = time.time()
        wl.build()
        t1 = time.time()
        spark = ctx.spark = start_spark(work)
        tracer.install()
        t2 = time.time()
        warm = wl.warm()
        setup_s = time.time() - T_PROCESS
        setup_parts.update({"inputs_s": t1 - t0, "session_s": t2 - t1,
                            "warmup_s": time.time() - t2, "warmup": warm})
        plain, traced = measure(wl, args.seconds, bool(args.trace))
        reps = plain + traced
        session = layers.session_layer(spark)
    finally:
        t_stop = time.time()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work is still there
            pass
        setup_parts["stop_s"] = time.time() - t_stop

    figures = workload_figures(args.workload, plain or traced, setup_s)
    detail = {
        "workload": args.workload,
        "env": env_stamp(args.seed, load_start),
        "figures": figures,
        "setup_parts": setup_parts,
        "reps": [{"run_s": r.run_s, "main_s": r.main_s, "traced": r.traced,
                  "attempted": r.attempted, "failed": r.failed, "correct": r.correct,
                  **r.extra} for r in reps],
    }
    if args.trace:
        metrics = layer_figures(layer_units, plain, traced, session)
        detail["span_self_times"] = self_times(traced)
    else:
        metrics = {k: figures[k] for k in e2e_units}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": all(r.correct for r in reps),
        "attempted": sum(r.attempted for r in reps),
        "failed": sum(r.failed for r in reps),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
