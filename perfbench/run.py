"""Benchmark of the chat serve path and the ingest path.

    python3 perfbench/run.py --workload chat_batch|ingest --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. It builds its inputs from the seed,
starts Spark pinned to local[2], sets up, runs a closed loop of one
client for S seconds, checks the outputs, and prints one JSON line last:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. Everything it writes goes under .perfbench/ and
_artifacts/ in the checkout, and the vector store generations it made
are removed before it exits.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
SPARK_CPUS = 2
DRIVER_MEM = "2g"


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("chat_batch", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def spark_env(base: str, event_log: str | None) -> None:
    """Environment for the Spark JVM and its Python workers, set before
    the JVM starts: the checkout's package on the workers' path, local
    and temp dirs inside the checkout, a fixed 2 GB driver heap, no
    console progress bar, and the event log when tracing."""
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(base, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # no hsperfdata files, which the JVM writes to /tmp whatever its tmpdir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap: the JVM's RSS then does not follow G1's
        # timing-dependent heap growth, which made peak_rss_mb noisy
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log
        conf["spark.eventLog.compress"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    )


def stop_spark(spark, workers: list[int]) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait until it and its Python `workers` have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "vector_search_ner_spark")):
        print("perfbench: run from the root of a repository checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark_env(work, event_log)
    sys.path.insert(0, ROOT)

    import tracing
    from chat import ChatBatch
    from ingest import Ingest
    from vector_search_ner_spark.embedder import DEFAULT_DIM
    from vector_search_ner_spark.session import get_spark
    from vector_search_ner_spark.sources.vecstore import _store_path

    workloads = {"chat_batch": ChatBatch, "ingest": Ingest}

    steal0 = tracing.steal_ticks()
    t = time.perf_counter()
    spark = get_spark(cpus=SPARK_CPUS)
    start_s = time.perf_counter() - t
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    tr = tracing.Tracer(sc, bool(args.trace))
    wl = workloads[args.workload](spark, tr, work, args.seed)
    lat: list[float] = []
    cpu: list[tuple[float, float]] = []
    attempted = failed = 0
    try:
        wl.setup()
        tr.enabled = False
        t = time.perf_counter()
        for _ in range(wl.warmup_ops):
            wl.op(wl.next_input())
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T0

        t_win = time.perf_counter()
        tr.enabled = bool(args.trace)
        while time.perf_counter() - t_win < args.seconds:
            inp = wl.next_input()
            attempted += 1
            c0 = tracing.cpu_split(jvm_pid) if tr.enabled else None
            try:
                t = time.perf_counter()
                with tr.span("op", op=attempted):
                    out = wl.op(inp)
                dt = time.perf_counter() - t
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            lat.append(dt)
            if tr.enabled:
                c1 = tracing.cpu_split(jvm_pid)
                cpu.append((c1[0] - c0[0], c1[1] - c0[1]))
                with tr.span("probe", op=attempted):
                    wl.probe(inp)
            if not wl.check(inp, out):
                failed += 1
        t_check = time.perf_counter()
        failed += wl.final_check()
        check_s = time.perf_counter() - t_check
        rss = tracing.peak_rss_mb(jvm_pid)
        if args.trace:
            tr.count_jobs()
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark, tracing.descendants(jvm_pid))
        stop_s = time.perf_counter() - t_stop
        # the store generations this run made, one directory per input
        for d in wl.store_dirs():
            if os.path.exists(os.path.join(d, "documents.parquet")):
                shutil.rmtree(os.path.dirname(_store_path(d, DEFAULT_DIM)), ignore_errors=True)

    if not lat:
        print("perfbench: no op completed", file=sys.stderr)
        return 1
    if args.trace:
        tr.add_shuffle_bytes(event_log)
        got = {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "session.jobs_per_op": median(tr.op_totals("jobs")),
            "session.stages_per_op": median(tr.op_totals("stages")),
            "session.tasks_per_op": median(tr.op_totals("tasks")),
            "session.shuffle_bytes_per_op": median(tr.op_totals("shuffle_bytes")),
            "session.jvm_cpu_s_per_op": median(c[0] for c in cpu),
            "session.python_cpu_s_per_op": median(c[1] for c in cpu),
            "trace.latency_p50_s": median(lat),
            "trace.overhead_s": median(tr.op_totals("bookkeeping_s")),
            **wl.layer_metrics(),
        }
        tr.write(
            os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "latencies": lat},
        )
        spec = bench["per_layer"]
    else:
        got = {
            "setup_s": setup_s,
            "latency_p50_s": median(lat),
            "items_per_s": wl.items_per_op * len(lat) / sum(lat),
            "peak_rss_mb": rss,
            "store_bytes_per_input_byte": wl.store_bytes_per_input_byte(),
        }
        spec = bench["end_to_end"]
    shutil.rmtree(work, ignore_errors=True)
    for d in (os.path.join(ROOT, "_artifacts", "vecstore"), os.path.join(ROOT, "_artifacts")):
        try:
            os.rmdir(d)
        except OSError:
            pass
    print(
        f"perfbench: {args.workload} seed={args.seed} ops={len(lat)} "
        f"latencies={[round(x, 3) for x in lat]} setup_s={setup_s:.2f} "
        f"oracle_s={check_s:.2f} stop_s={stop_s:.2f} total_s={time.perf_counter() - T0:.2f} "
        f"steal_ticks={tracing.steal_ticks() - steal0}",
        file=sys.stderr,
    )
    # a layer the workload never calls did no work: it reports 0
    metrics = {
        m["name"]: {"value": got[m["name"]] if not args.trace else got.get(m["name"], 0.0), "unit": m["unit"]}
        for m in spec
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
