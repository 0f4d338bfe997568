"""spark-dump benchmark: seeded dump → verify → restore cycles over a JDBC
source, and a corpus `prepare` cycle, driven through the program's public
entry points.

    python3 perfbench/run.py --workload jdbc_sql_native --seed 1 --seconds 10 --trace 0

One run generates the workload's inputs from ``--seed`` (perfbench/gen.py),
starts a fresh Spark JVM as local[nproc] and runs one cold cycle: the time
from session start to the end of that cycle is ``setup_s``. After the
workload's untimed warm-up cycles, cycles run in a closed loop with one
client for ``--seconds`` (at least one), each checked (perfbench/cycles.py).
Timings are medians over the timed cycles; ``peak_rss_mb`` is the median
over cycles of the peak resident memory of the JVM plus its Python workers
(proportional set size for the workers).

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}`` holding the end-to-end metrics of BENCHMARK.json
(``--trace 0``), or its per-layer metrics (``--trace 1``: half the loop
runs untraced, half traced by perfbench/spans.py, whose spans are written
to ``.bench_traces/``). Run details (host contention, per-cycle times,
error rate) go to stderr. Scratch files live under ``.bench_work/`` in the
repository root and are removed at exit. The exit code is 0 only when
every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import hostinfo  # noqa: E402

#: a run stops itself after this many seconds
RUN_LIMIT_S = 170
MB = 1e6
#: Spark driver heap. The heap is committed and touched at JVM start
#: (-Xms = -Xmx, AlwaysPreTouch), so the JVM's resident size does not
#: depend on when G1 chose to grow the heap in a particular run.
DRIVER_MEM = "2g"


class RunTimeout(Exception):
    pass


def _on_alarm(signum, frame):
    raise RunTimeout(f"run exceeded {RUN_LIMIT_S} s")


def prepare_env(work: str, ncpu: int) -> None:
    """Process environment for Spark and its Python workers: everything
    temporary under ``work``, the repository importable from any working
    directory, local[nproc], UTC."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the JVM that spark-submit runs to build the driver's command line:
    # no perf-data file under /tmp, temporary files under ``work``
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TZ"] = "UTC"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp
    time.tzset()


def start_spark(work: str):
    """A fresh Spark JVM and session; returns (spark, seconds)."""
    from mydumper_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    t0 = time.perf_counter()
    spark = get_session("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Duser.timezone=UTC -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit, so the
    next start_spark launches a fresh one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def load_spec() -> dict:
    """BENCHMARK.json: the metric names and units this run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args, work: str, result: dict) -> None:
    import cycles
    from gen import generate

    spec = load_spec()
    ncpu = hostinfo.nproc()
    tally = cycles.Tally()
    t = time.perf_counter()
    inputs = generate(args.workload, os.path.join(work, "inputs"), args.seed)
    gen_s = time.perf_counter() - t
    logical = inputs["logical_bytes"]
    wl = cycles.WORKLOADS[args.workload](inputs, ncpu)
    it_dir = os.path.join(work, "iter")

    def iteration(spark, tracer=None, rss=None) -> dict:
        if rss is not None:
            rss.take_peak()
        if tracer is not None:
            tracer.begin_iteration()
        t0 = time.perf_counter()
        out = wl.cycle(spark, it_dir, tracer.table_done if tracer else None)
        out["cycle_s"] = time.perf_counter() - t0
        if rss is not None:
            out["rss_mb"], out["jvm_rss_mb"] = rss.take_peak()
        if tracer is not None:
            tracer.end_iteration(out, out["cycle_s"])
        wl.check(spark, out, tally)
        out["bytes"], _ = cycles.tree_bytes(out["dump_dir"])
        cycles.clear(it_dir)
        return out

    def loop(spark, seconds: float, rss, tracer=None) -> list[dict]:
        """Closed loop, one client: the next cycle starts when the last one
        ended, until ``seconds`` have passed (at least one cycle)."""
        rows, deadline = [], time.monotonic() + seconds
        while time.monotonic() < deadline or not rows:
            rows.append(iteration(spark, tracer, rss))
        return rows

    spark, tracer = None, None
    try:
        # set-up: fresh JVM + session + the cold, untimed first iteration
        t0 = time.perf_counter()
        spark, session_start_s = start_spark(work)
        iteration(spark)
        setup_s = time.perf_counter() - t0
        for _ in range(wl.warmup_iters):
            iteration(spark)

        cpu0 = hostinfo.cpu_counters()
        with hostinfo.RssSampler(jvm_pid(spark)) as rss:
            if args.trace:
                import spans

                plain = loop(spark, args.seconds / 2, rss)
                tracer = spans.Tracer(spark, ncpu)
                tracer.install()
                try:
                    traced = loop(spark, args.seconds / 2, rss, tracer)
                finally:
                    tracer.uninstall()
            else:
                plain = loop(spark, args.seconds, rss)
        host = hostinfo.contention(cpu0, ncpu)
    finally:
        if spark is not None:
            stop_spark(spark)

    def med(rows, key=None):
        return statistics.median(r["phases"][key] if key else r["cycle_s"] for r in rows)

    info = {"workload": args.workload, "seed": args.seed, "gen_s": gen_s,
            "cycles_s": [r["cycle_s"] for r in plain], "phases": [r["phases"] for r in plain],
            "logical_mb": logical / MB,
            "input_rows": inputs["rows"], "session_start_s": session_start_s,
            "rss_mb": [r["rss_mb"] for r in plain],
            "jvm_rss_mb": [r["jvm_rss_mb"] for r in plain],
            "error_rate": tally.failed / max(1, tally.attempted),
            "failures": tally.failures[:20], "host": host}
    mbs = logical / MB
    # phase throughputs, from untraced cycles only
    phase_rates = {f"phase.{k}_mb_per_s": mbs / med(plain, k)
                   for k in ("dump", "verify", "restore")}
    info.update(phase_rates)
    if "prepare" in plain[0]["phases"]:
        info["prepare_docs_per_s"] = inputs["rows"]["docs"] / med(plain, "prepare")
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = tracer.metrics(session_start_s, med(plain), med(traced), names)
        values.update(phase_rates)
        tracer.write_spans(os.path.join(
            ROOT, ".bench_traces", f"{args.workload}-seed{args.seed}.jsonl"))
        info["traced_iterations"] = len(traced)
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {
            "setup_s": setup_s,
            "cycle_s": med(plain),
            "dump_bytes_ratio": statistics.median(r["bytes"] for r in plain) / logical,
            "peak_rss_mb": statistics.median(r["rss_mb"] for r in plain),
        }
    print(json.dumps(info, default=str), file=sys.stderr)
    result.update(
        correct=tally.failed == 0, attempted=tally.attempted, failed=tally.failed,
        metrics={k: {"value": values[k], "unit": u} for k, u in units.items()})


def main(argv=None) -> int:
    import cycles

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(cycles.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mydumper_spark")):
        print(f"mydumper_spark not found under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2

    # stdout carries the result line only: everything else written to
    # fd 1 (Python prints, the JVM, Python workers) goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    signal.signal(signal.SIGALRM, _on_alarm)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(RUN_LIMIT_S)
    result: dict = {}
    try:
        prepare_env(work, hostinfo.nproc())
        run(args, work, result)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    sys.stdout.flush()
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0 if result.get("correct") else 1


if __name__ == "__main__":
    sys.exit(main())
