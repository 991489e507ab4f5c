"""Repository benchmark: one workload per run, closed loop, one caller.

    python3 perfbench/run.py --workload batch_dedup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Everything the run writes (inputs, Spark
local dirs, warehouse, stores, temp files) goes under ``.perfbench_work/``
in the checkout; only the output-digest registry and the span files of
traced runs outlive the run.  Spark logs go to stderr; stdout carries one
``name value unit`` line per figure and, last, the JSON result.  The exit
code is non-zero when a correctness gate fails.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
traced and untraced operations, then replays each layer's public functions
on the workload's inputs, and reports the per-layer metrics (LAYERS.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3  # set-up repetitions per run; setup_s takes their median
DEADLINE_S = 170  # a run that is still going by then is killed and fails


def _isolate(work: str) -> str:
    """Keep every file Spark, the JVMs and the Python workers write inside
    ``work``, and let the Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    return java_opts


def _driver_heap_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(2048, total_kb // 1024 // 6))


def _start_spark(work: str, cores: int, java_opts: str):
    from set_sketch_paper_spark.functions.session import get_spark

    heap = _driver_heap_mb()
    spark = get_spark(
        app_name="perfbench",
        cpus=cores,
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            # the whole heap from the start: a heap that grows kept operation
            # times falling for the first twenty or so operations
            "spark.driver.extraJavaOptions": f"{java_opts} -Xms{heap}m",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the status store must keep every job of a traced run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM (and with it the Python
    workers), and wait until it has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        # the JVM exits when its stdin closes, even if the calls above failed
        # (a signal can leave the gateway connection unusable)
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _cpu_ticks() -> list[int]:
    """The VM's CPU time by state (user, nice, system, idle, iowait, irq,
    softirq, steal, ...), in ticks, from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _check_digests(path: str, prefix: str, digests: dict, errors: list) -> None:
    """Outputs of one seed must be identical across runs: compare with the
    digests earlier runs of this checkout recorded, then record new ones."""
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    for k, v in digests.items():
        key = f"{prefix}/{k}"
        if known.setdefault(key, v) != v:
            errors.append(f"output digest {key} differs from an earlier run of this seed")
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(known, f, indent=0, sort_keys=True)
    os.replace(tmp, path)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    from harness import RssSampler, Tracer, median, tail, tree_cpu_seconds
    from workloads import WORKLOADS, GateError

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    java_opts = _isolate(work)
    cores = len(os.sched_getaffinity(0))
    spark = _start_spark(work, cores, java_opts)
    jvm = spark.sparkContext._gateway.proc

    def watchdog():
        time.sleep(DEADLINE_S)
        print(f"run exceeded {DEADLINE_S}s; killing the JVM", file=sys.stderr, flush=True)
        jvm.kill()
        os._exit(3)

    threading.Thread(target=watchdog, daemon=True).start()
    # a terminated run still stops Spark and its workers, in the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        session_s = time.perf_counter() - t_setup
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark.sparkContext, run_id)
        w = WORKLOADS[args.workload](spark, tracer, work, args.seed, cores)
        rep_s = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            w.setup_inputs(rep)
            rep_s.append(time.perf_counter() - t)
            if rep:
                shutil.rmtree(os.path.join(work, f"inputs{rep - 1}"))
        t = time.perf_counter()
        w.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + median(rep_s) + warm_s

        errors: list[str] = []
        seen: dict[str, str] = {}
        times, cpus, items, traced = [], [], [], []
        attempted = failed = 0
        stat0 = _cpu_ticks()
        with RssSampler(jvm.pid) as rss:
            i, t_loop = 0, time.perf_counter()
            # the wall-clock cap ends a run whose operations keep failing
            while i == 0 or i % w.ROUND or (
                sum(times) < args.seconds and time.perf_counter() - t_loop < 2 * args.seconds
            ):
                tracer.enabled = bool(args.trace and i % 2)
                attempted += 1
                c = tree_cpu_seconds(jvm.pid) + time.thread_time()
                t = time.perf_counter()
                try:
                    n = w.op(i)
                except Exception:
                    failed += 1
                    traceback.print_exc()
                    i += 1
                    continue
                finally:
                    tracer.enabled = False
                times.append(time.perf_counter() - t)
                cpus.append(tree_cpu_seconds(jvm.pid) + time.thread_time() - c)
                items.append(n)
                print(f"op {i}: {times[-1]:.3f}s, {cpus[-1]:.2f} CPU-s", file=sys.stderr, flush=True)
                traced.append(bool(args.trace and i % 2))
                try:
                    w.after(i)
                except GateError as e:
                    errors.append(f"op {i}: {e}")
                for k, v in w.digests.items():
                    if seen.setdefault(k, v) != v:
                        errors.append(f"op {i}: output digest {k} changed within the run")
                i += 1
        ticks = [b - a for a, b in zip(stat0, _cpu_ticks())]
        if not times:
            print("no operation succeeded", file=sys.stderr)
            return 1
        _check_digests(os.path.join(WORK_ROOT, "digests.json"),
                       f"{args.workload}/{args.seed}", seen, errors)

        op_tail, pct = tail(times)
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (median(times), "s"),
            "items_per_s": (median(n / t for n, t in zip(items, times)), "1/s"),
        }
        cpu_ms_per_item = median(1e3 * c / n for c, n in zip(cpus, items))
        # a run holds too few operations for a steady tail: printed, not gated
        figures = {
            "op_tail_s": (op_tail, "s"),
            "cpu_ms_per_item": (cpu_ms_per_item, "ms"),
            # the share of the VM's CPU time the hypervisor gave to others
            # while the loop ran; op times rise with it
            "host.steal_frac": (ticks[7] / sum(ticks), "1"),
            "setup.session_s": (session_s, "s"),
            "setup.inputs_s": (median(rep_s), "s"),
            "setup.warm_up_s": (warm_s, "s"),
            "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
            "op_tail_percentile": (pct, "%"),
            "ops": (len(times), "count"),
            "ops_failed_frac": (failed / attempted, "1"),
            **w.summary(times, items),
        }
        if args.trace:
            from layers import layer_metrics

            plain = [t for t, tr in zip(times, traced) if not tr]
            with_spans = [t for t, tr in zip(times, traced) if tr]
            overhead = median(with_spans) - median(plain) if plain and with_spans else 0.0
            metrics = layer_metrics(w, overhead, rss.peak_bytes / 2**20, cpu_ms_per_item)
            tracer.write(os.path.join(WORK_ROOT, "traces", f"{run_id}.jsonl"))
            # end-to-end figures of a traced run carry the tracing overhead
            figures = {f"traced.{k}": v for k, v in {**end_to_end, **figures}.items()}
        else:
            metrics = end_to_end
    finally:
        try:
            _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in {**metrics, **figures}.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    for e in errors:
        print(f"GATE FAILED: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
