"""Benchmark of the paper's CLI jobs: ``--runLoad``, ``--genicQc`` and the
``--runCorpus`` chain.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. A run is one process doing what one CLI
invocation does, in a closed loop with one client: it builds the session
once (``session.get_spark`` + ``tune_for_input``, launching the JVM), calls
one ``cli.cmd_*`` on a fresh copy of the seeded inputs with the JIT as cold
as a CLI user finds it, and checks the outputs against the fixture's model.
``setup_s`` runs from the start of this process to the session being ready,
less the fixture build. A run is one op: a second op in the same process
would find the JVM warm, which no CLI invocation does. The op outlasts
``--seconds`` (``BENCHMARK.json`` sets 1).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` traces the op and
prints the per-layer metrics: span self times and exact Spark job / stage /
task counts per module call, the work counts behind them, and the tracer's
own time. Fixtures are cached per (workload, seed, generator version) under
``.perfbench/cache``; each run writes its record (provenance, samples and,
traced, every span) to ``.perfbench/records``. The last stdout line is the
JSON result.
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
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import fixtures as fx  # noqa: E402
import spans as tr  # noqa: E402
from layers import PER_LAYER, SPANS, SPARK_COUNTS  # noqa: E402
from workloads import WORKLOADS, parquet_rows  # noqa: E402

#: pinned for every run, so both sides of a comparison get the same heap;
#: the program's default (16g) is more than a 15 GB machine shared with
#: other jobs can give
DRIVER_MEM = "2g"
#: end-to-end metric -> unit
END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "input_rows_per_s": "1/s",
    "store_bytes_per_row": "B",
}
APP_NAME = "hrdp-variants-cli"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age() -> float:
    """Seconds since this process started (``starttime`` in
    /proc/self/stat, in clock ticks since boot)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def git_commit() -> str | None:
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return res.stdout.strip() if res.returncode == 0 else None


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def written_files(paths: list[Path]) -> set[Path]:
    out: set[Path] = set()
    for p in paths:
        if p.exists():
            out |= {f for f in p.rglob("*") if f.is_file() and f.suffix == ".parquet"}
    return out


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def pin_environment(work: Path) -> dict:
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        Path(env[k]).mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    return env


def run(args) -> dict:
    import pyspark

    from hrdp_variant_load_pipeline_spark import cli, session

    # the interpreter start and the imports are set-up a CLI user pays
    startup = process_age()
    wl = WORKLOADS[args.workload]
    state = ROOT / ".perfbench"
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = state / "work" / run_id
    load_before = os.getloadavg()[0]
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)

    # fixtures are built in a child process, so the build's memory stays
    # out of the peak-RSS metric, and copied per run; neither is timed
    subprocess.run([sys.executable, str(HERE / "fixtures.py"), str(state / "cache"),
                    wl.name, str(args.seed)], check=True)
    fixture = fx.fixture(state / "cache", wl.name, args.seed)
    cfg = wl.config(fixture, work)
    before = written_files(wl.written(cfg))
    command = getattr(cli, wl.command)
    tracer = tr.Tracer(run_id) if args.trace else tr.NullTracer()

    # the session as the CLI builds it (cli.main): tune only for an input dir
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = session.get_spark(APP_NAME)
    tracer.sc = spark.sparkContext
    with tracer.span("session.tune_for_input"):
        if os.path.isdir(wl.profile_dir(fixture)):
            session.tune_for_input(spark, wl.profile_dir(fixture))
    setup = startup + time.perf_counter() - t0

    pids = (int(spark._jvm.java.lang.ProcessHandle.current().pid()), os.getpid())
    held = persisted_rdds(spark)
    undo = tr.instrument(tracer)
    op, out, errs = None, {}, []
    try:
        t0 = time.perf_counter()
        with tracer.span("cli.command"):
            out = command(spark, cfg)
        op = time.perf_counter() - t0
        errs = wl.check(fixture, cfg, out)
    except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        errs = [f"{type(e).__name__}: {e}"]
    finally:
        undo()
    leaked = persisted_rdds(spark) - held
    if errs:
        print(f"check failed: {errs}", file=sys.stderr)
    added = written_files(wl.written(cfg)) - before
    rows = parquet_rows(added)
    n_bytes = sum(p.stat().st_size for p in added)
    if tracer.enabled:
        tracer.collect_spark_counts(tracer.spans)
    peak_rss = {"jvm": vm_hwm_mb(pids[0]), "python": vm_hwm_mb(pids[1])}
    java_version = spark._jvm.java.lang.System.getProperty("java.version")
    spark.stop()
    stop_jvm()
    shutil.rmtree(work, ignore_errors=True)

    if op is None:
        metrics = {}
    elif args.trace:
        values = layer_values(tracer.spans, wl.layer_counts(fixture, out, tracer.observed),
                              len(added), n_bytes)
        values.update({
            "process.startup_s": startup,
            "process.peak_rss_mb": sum(peak_rss.values()),
            "trace.op_s": op,
            "trace.bookkeeping_s": tracer.overhead,
            "spark.persisted_rdds_leaked": leaked,
        })
        metrics = per_layer_metrics(values)
    else:
        values = {
            "setup_s": setup,
            "op_s": op,
            "input_rows_per_s": wl.input_rows(fixture) / op,
            "store_bytes_per_row": n_bytes / rows if rows else 0.0,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    record = {
        "run_id": run_id,
        "provenance": {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc(),
            "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
            "SPARK_DRIVER_MEM": env["SPARK_DRIVER_MEM"],
            "pyspark": pyspark.__version__, "java": java_version,
            "python": sys.version.split()[0], "git_commit": git_commit(),
            "generator_version": fx.GEN_VERSION, "fixture_sizes": fx.SIZES[wl.name],
            "load1_before": load_before, "load1_after": os.getloadavg()[0],
        },
        "samples": {"setup_s": summary([setup]), "op_s": summary([op] if op else []),
                    "peak_rss_mb": peak_rss},
        "errors": errs,
        "spans": [s.__dict__ for s in tracer.spans],
        "result": {"correct": not errs, "attempted": 1,
                   "failed": int(bool(errs)), "metrics": metrics},
    }
    records = state / "records"
    records.mkdir(parents=True, exist_ok=True)
    (records / f"{run_id}.json").write_text(json.dumps(record, indent=1))
    return record


def summary(xs: list[float]) -> dict:
    """Median, quartiles and sample count of one timing."""
    if len(xs) < 2:
        m = float(statistics.median(xs)) if xs else 0.0
        return {"median": m, "q1": m, "q3": m, "n": len(xs)}
    q1, m, q3 = statistics.quantiles(xs, n=4)
    return {"median": m, "q1": q1, "q3": q3, "n": len(xs)}


def layer_values(spans: list[tr.Span], counts: dict, files_added: int,
                 bytes_written: int) -> dict:
    """The traced op's per-layer numbers: self time and Spark counts summed
    per span name, plus the work counts of the op."""
    selft = tr.self_times(spans)
    out = {m: 0 for m in PER_LAYER}
    failed = 0
    for s in spans:
        out[f"{s.name}_s"] += selft[s.sid]
        for c in SPARK_COUNTS:
            if c in s.spark:
                out[f"{s.name}.spark.{c}"] += s.spark[c]
        failed += s.spark.get("failed_tasks", 0)
    out["spark.failed_tasks"] = failed
    out["sources.store.files_added"] = files_added
    out["sources.store.bytes_written"] = bytes_written
    out.update(counts)
    return out


def per_layer_metrics(values: dict) -> dict:
    """Every declared per-layer metric with its unit; refuses names that
    ``layers.py`` does not declare."""
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer values not declared in layers.py: {sorted(unknown)}")
    return {n: {"value": values[n], "unit": u} for n, u in PER_LAYER.items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    record = run(args)
    print(json.dumps({"provenance": record["provenance"]}))
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
