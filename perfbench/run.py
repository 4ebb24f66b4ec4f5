"""Job-level benchmark entry point.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Generates (or reuses)
the seeded inputs, starts the engine's Spark session several times to time
set-up, runs the workload's public jobs in a closed loop for ``--seconds``
of timed work, checks every output, and prints one JSON object as the last
line of standard output. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics, including one pass of the workload's
layer probe (``cdc`` on migrate, ``curate`` on validate; see
perfbench/README.md).

Everything it writes stays under ``perfbench/.cache`` (inputs, reused per
seed) and ``perfbench/.work`` (per-run scratch, removed at exit).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = os.path.join(ROOT, "scylla_migrator_spark")
WARM_SETUPS = 5  # session restarts after the cold start; setup_s is the median of those _quiet() keeps
PRIMES = 2  # untimed full-size iterations before the measured loop
MIN_ITERATIONS = 4  # the medians need four calls per job even when --seconds is short
STEAL_LIMIT = 0.02  # calls with more host steal than this are not used when enough others are
E2E = (("setup_s", "s"), ("primary_items_per_s", "1/s"), ("variant_items_per_s", "1/s"), ("bytes_out_per_in", "ratio"))
BENCH_WORKLOADS = ("migrate", "validate")  # cdc and curate run only as layer probes


def _env(work: str, cores: int, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    the event log is switched on through submit args, never program code."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # -Xms2g: a 2 GB initial heap takes most heap resizing out of the
    # run-to-run variation (see perfbench/README.md); the maximum heap stays
    # the program's own spark.driver.memory
    conf = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs)
        conf += [
            "spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{logs}",
            "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf '{c}'" for c in conf) + " pyspark-shell",
    )


def _quiet(samples: list) -> list:
    """The timed samples to report. When the host is busy, the hypervisor
    steals CPU from the guest and a whole call runs up to 2x slower; samples
    during which more than STEAL_LIMIT of the CPUs was stolen are left out.
    If that leaves fewer than half of them (or fewer than two), the half with
    the least steal is kept instead."""
    mine = sorted(samples, key=lambda c: c.steal)
    keep = max(2, (len(mine) + 1) // 2)
    quiet = [c for c in mine if c.steal <= STEAL_LIMIT]
    return quiet if len(quiet) >= keep else mine[:keep]


def _rates(calls, phase: str) -> list[float]:
    """Items per second of the phase's calls that ``_quiet`` keeps."""
    return [c.items / c.seconds for c in _quiet([c for c in calls if c.phase == phase])]


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
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
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=BENCH_WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(PKG, "__init__.py")):
        print(f"perfbench: the program package is missing ({PKG}); run from a full checkout", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work, cores, bool(args.trace))
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work: str, cores: int) -> dict:
    import gen
    import oracles
    from tracing import Tracer, vmhwm_kb
    from workloads import WORKLOADS, Call, steal_share, steal_ticks

    from scylla_migrator_spark import get_spark

    cache = os.path.join(HERE, ".cache")
    truth, gen_s = gen.ensure_inputs(cache, args.workload, args.seed)
    tiny, tiny_s = gen.ensure_inputs(cache, "migrate", args.seed, gen.TINY["migrate"])
    print(f"perfbench: inputs ready, {gen_s + tiny_s:.2f}s generating (0 = cached)", file=sys.stderr)
    con = oracles.connect(cores)
    cls = WORKLOADS[args.workload]

    # set-up = session start + a warm-up pass: migrate() on tiny inputs, the
    # same small job for every workload. The first starts a cold JVM; the
    # session is then restarted WARM_SETUPS times, and setup_s is the median
    # of those restarts that ``_quiet`` keeps
    spark, setups, warm_setups = None, [], []
    for i in range(1 + WARM_SETUPS):
        if spark is not None:
            spark.stop()
        s0, t0 = steal_ticks(), time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cpus=cores)
        t1 = time.perf_counter()
        warm = WORKLOADS["migrate"](tiny, os.path.join(work, f"warmup{i}"), con)
        warm.prepare(spark)
        warm.iteration(spark, Tracer("warmup", PKG), phases=("primary",))
        setups.append((t1 - t0, time.perf_counter() - t1))
        if i:
            dt = time.perf_counter() - t0
            warm_setups.append(Call("setup", 1, dt, True, steal=steal_share(steal_ticks() - s0, dt)))
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())

    wl = cls(truth, os.path.join(work, "run"), con)
    wl.prepare(spark)
    # untimed full-size iterations first: the first full-size calls still
    # compile code (measured 1.1-2x slower than later ones)
    for _ in range(PRIMES):
        wl.iteration(spark, Tracer("prime", PKG))
    wl.clear_samples()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id, PKG, active=bool(args.trace), spark=spark)
    calls, errors = [], 0
    tracer.start_sampler()
    t0 = time.time()
    iterations = 0
    while (sum(c.seconds for c in calls) < args.seconds or iterations < MIN_ITERATIONS) and time.time() - t0 < 2 * args.seconds + 20:
        iterations += 1
        try:
            calls += wl.iteration(spark, tracer)
        except Exception:  # a crashed job is a failed operation, not a crashed benchmark
            traceback.print_exc()
            errors += 1
            break
    t1 = time.time()
    tracer.stop_sampler()
    primary, variant = _rates(calls, "primary"), _rates(calls, "variant")
    if not primary or not variant:  # nothing was measured
        _stop_jvm(spark)
        return {"correct": False, "attempted": max(1, len(calls) + errors), "failed": max(1, errors), "metrics": {}}
    if args.trace:
        import layers

        peak_rss_mb = (vmhwm_kb() + vmhwm_kb(jvm_pid)) / 1024.0  # driver Python + JVM, before the probe
        live = layers.live_metrics(wl, spark)
        probe = layers.run_probe(wl.probe, spark, con, cache, args.seed, os.path.join(work, "probe"), tracer)
        app_id = spark.sparkContext.applicationId
        _stop_jvm(spark)  # flushes and closes the event log
        event_log = os.path.join(work, "eventlog", app_id)
        live["process.peak_rss_mb"] = peak_rss_mb
        metrics = layers.per_layer(wl, tracer, calls, setups, t0, t1, cores, event_log, live, primary, probe)
        calls += probe.calls
        tracer.dump(os.path.join(HERE, ".work", f"spans-{run_id}.json"))
    else:
        _stop_jvm(spark)
        values = {
            "setup_s": statistics.median(c.seconds for c in _quiet(warm_setups)),
            "primary_items_per_s": statistics.median(primary),
            "variant_items_per_s": statistics.median(variant),
            "bytes_out_per_in": wl.output_bytes() / wl.input_bytes(),
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in E2E}
    for c in calls:
        if not c.ok:
            print(f"perfbench: {c.phase} output check failed: {json.dumps(c.detail, default=str)}", file=sys.stderr)
    failed = sum(not c.ok for c in calls) + errors
    out = {"correct": failed == 0, "attempted": len(calls) + errors, "failed": failed, "metrics": metrics}
    print(
        f"perfbench: {args.workload} seed={args.seed} window={t1 - t0:.1f}s "
        f"setups(s, host steal)={[round(sum(setups[0]), 2)] + [(round(c.seconds, 2), round(c.steal, 3)) for c in warm_setups]} "
        f"calls(phase, s, host steal)={[(c.phase, round(c.seconds, 3), round(c.steal, 3)) for c in calls]}",
        file=sys.stderr,
    )
    return out


if __name__ == "__main__":
    sys.exit(main())
