#!/usr/bin/env python3
"""Run one benchmark workload on local[4] and print its metrics.

    python3 perfbench/run.py --workload counts_mixed --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (names and units
in BENCHMARK.json). Progress and a readable summary go to standard
error. Inputs, references and traces are cached under ``.perfbench/``
at the repository root; nothing is read or written outside it.
Every process a run starts, and every orphan of one, has ended and been
reaped before it exits.

One run, untraced part (the end-to-end metrics):

1. memory-bandwidth probe (``box.memcpy_ratio``), before any JVM;
2. the seed's input and reference, generated once per seed;
3. set-up in a fresh JVM, then ``SETUPS`` more set-ups, each a new
   session in that JVM; ``setup_s`` is their median;
4. the cold iteration: the first job the JVM runs (``cold_job_s``);
5. the workload's ``warmup_iters`` untimed warm-up iterations, then
   warm iterations until their walls add up to ``--seconds`` (at least
   ``MIN_WARM``); ``rows_per_s`` is input rows over their median wall;
6. ``peak_rss_mb``: after the timed iterations, the sum of each
   process's own peak RSS (``VmHWM``) over the JVM and its Python
   workers.

From step 3 on, ``box.CpuSampler`` samples how fast the cores run, and
each time metric is scaled to the reference core speed by the probe
over its own window. A run whose memcpy ratio is above
``box.MEMCPY_RATIO_MAX`` was taken in a memory-bandwidth noise window:
it prints ``"correct": false``. Every run appends its raw walls and box
readings to ``.perfbench/runs.jsonl``.

The traced part then starts a session with Spark's event log on, runs
a warm-up and ``traced_iters`` iterations inside spans, splits the work
into layers, runs the single-process probes in a fresh interpreter and
folds the event log over the last traced iteration.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

CORES = 4
# driver JVM heap (get_spark's SPARK_GRAFT_DRIVER_MEM; its default is
# 16g). With a 16g cap G1 grows the heap by however much garbage an
# iteration leaves, so peak RSS varied 2x between runs of the same
# input. With a 2g cap it still varied by 15% (G1 sizes the heap by GC
# timing), so the heap is fixed at 2g (-Xms) and is all touched in a
# run: the JVM's share of peak_rss_mb is then its 2g heap plus what it
# holds off the heap.
DRIVER_MEM = "2g"
SETUPS = 7
MIN_WARM = 2


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


class Tally:
    """Attempted and failed iterations; an iteration fails if it raises
    or if its output differs from the reference."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, wl, spark, ctx, ref) -> float | None:
        """One iteration: its wall time, or None if it failed. The check
        runs after the timed region."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            out = wl.iterate(spark, ctx)
            wall = time.perf_counter() - t0
            ok = wl.check(out, ref, ctx)
        except Exception:  # noqa: BLE001 — a failed iteration is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return None
        if not ok:
            log(f"{wl.name}: output differs from the reference")
            self.failed += 1
            return None
        return wall


def spark_conf(cache: Path) -> dict[str, str]:
    return {
        "spark.local.dir": str(cache / "spark-local"),
        "spark.sql.warehouse.dir": str(cache / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }


def setup(wl, data: Path, work: Path, conf: dict, tracer=None):
    """Session start + the workload's prepare (registry, compile, input
    location). Returns (spark, ctx, setup seconds, session seconds)."""
    from grokspark.session import get_spark

    t0 = time.perf_counter()
    with _span(tracer, "session.start"):
        spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)
    t1 = time.perf_counter()
    with _span(tracer, "prepare"):
        ctx = wl.prepare(spark, data, work)
    return spark, ctx, time.perf_counter() - t0, t1 - t0


def isolate(cache: Path) -> None:
    """Keep the JVM's and the Python workers' scratch files inside the
    cache directory and make the checkout importable by the workers."""
    tmp = cache / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(cache / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")


def traced(wl, seed, spark, ctx, ref, data, work, conf, tally, cpu, untraced_ref, extra):
    """The traced part of a run; returns the per-layer metrics. Ends by
    shutting the JVM down, which completes the event log it folds.
    ``untraced_ref`` is the untraced median wall at the reference core
    speed."""
    from perfbench import box
    from perfbench.micro import run_probe
    from perfbench.trace import Tracer, fold_event_log, read_event_log

    if untraced_ref != untraced_ref:  # NaN: no untraced iteration passed
        raise RuntimeError("no untraced iteration passed; nothing to compare")
    tracer = Tracer(run_id=f"{wl.name}-{os.getpid()}-{int(time.time())}")
    log_dir = work / "eventlog"
    log_dir.mkdir(parents=True)
    conf = {
        **conf,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    spark.stop()
    with tracer.span("setup"):
        spark, ctx, _setup, _start = setup(wl, data, work, conf, tracer)
    ctx.extra.update(cache=work.parent, seed=seed)
    with tracer.span("warmup"):
        tally.run(wl, spark, ctx, ref)
    walls, windows = [], []
    t_iters = time.monotonic()
    for _ in range(wl.traced_iters):
        with tracer.span("iteration") as s:
            wall = tally.run(wl, spark, ctx, ref)
        if wall is not None:
            # the timed region only, as the untraced wall; the span also
            # covers the output check and bounds the event-log window
            walls.append(wall)
            windows.append((s.start, s.end))
    if not walls:
        raise RuntimeError("every traced iteration failed")
    t_layers = time.monotonic()
    # both walls at the reference core speed: the box's speed changes
    # between the untraced and the traced part
    traced_ref = cpu.at_ref(statistics.median(walls), t_iters, t_layers)
    out = dict(extra)
    out["trace.overhead_ratio"] = traced_ref / untraced_ref
    layers = wl.layers(spark, ctx, ref, tracer)
    out.update(layers)
    chain = [v for k, v in layers.items() if k.startswith("layer.")]
    if chain:
        # the chain telescopes to its last prefix, the full query, so the
        # ratio checks that the chain's runs agree with the traced
        # iterations of the same session; it is not a completeness check
        chain_ref = cpu.at_ref(sum(chain), t_layers, time.monotonic())
        out["layer.coverage"] = chain_ref / traced_ref
    if ctx.registry is not None:
        from perfbench.inputs import compiled_routes

        compiled = {n: c for n, (_r, c) in compiled_routes(ctx.registry).items()}
        t_micro = time.monotonic()
        with tracer.span("micro"):
            out.update(run_probe(str(data), compiled))
        # the probe's kernel time per row, at the reference core speed
        kernel_ref = cpu.at_ref(
            1 / out["udfs.kernel_rows_per_s_1core"], t_micro, time.monotonic()
        )
        out["udfs.parallel_efficiency"] = (wl.rows / untraced_ref) * kernel_ref / CORES
    box.shutdown_jvm()
    out.update(fold_event_log(read_event_log(log_dir), *windows[-1], CORES))
    traces = work.parent / "traces"
    tracer.write(traces / f"{wl.name}-{tracer.run_id}.json")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    # imports grokspark: a checkout without the program fails here
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    from perfbench import box

    # every process the run starts ends before it does, on every way out
    box.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cache = ROOT / ".perfbench"
    isolate(cache)
    work = cache / f"work-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        return _run(args, spec, wl, cache, work)
    finally:
        try:
            box.shutdown_jvm()
        finally:
            box.stop_children()
            shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, wl, cache, work) -> int:
    from perfbench import box

    memcpy = box.memcpy_ratio()
    log(f"box.memcpy_ratio {memcpy:.2f}")
    t0 = time.perf_counter()
    data, ref = wl.inputs(cache, args.seed)
    log(f"input+reference {time.perf_counter() - t0:.1f}s  {ref['stats']}")
    trusted = memcpy <= box.MEMCPY_RATIO_MAX
    if not trusted:
        log(f"NOT TRUSTED: memory-bandwidth noise window (memcpy ratio {memcpy:.2f})")

    conf = spark_conf(cache)
    tally = Tally()
    with box.CpuSampler() as cpu:
        spark, ctx, first_setup, jvm_launch = setup(wl, data, work, conf)
        t_setups = time.monotonic()
        setups, starts = [], []
        for _ in range(SETUPS):
            spark.stop()
            spark, ctx, s, st = setup(wl, data, work, conf)
            setups.append(s)
            starts.append(st)
        t_cold = time.monotonic()
        cold = tally.run(wl, spark, ctx, ref)
        # untimed warm-up: iteration walls keep falling for a few
        # iterations after the cold job (JIT, heap sizing)
        t_warm = time.monotonic()
        for _ in range(wl.warmup_iters):
            tally.run(wl, spark, ctx, ref)
        warm, attempts = [], 0
        # --seconds counts timed walls, not the output checks between them
        timed = 0.0
        t_timed = time.monotonic()
        while timed < args.seconds or attempts < MIN_WARM:
            attempts += 1
            t0 = time.monotonic()
            wall = tally.run(wl, spark, ctx, ref)
            if wall is not None:
                warm.append(wall)
            timed += wall if wall is not None else time.monotonic() - t0
        t_end = time.monotonic()
        peak_rss = box.tree_peak_rss_bytes(box.jvm_pid())
        untraced_wall = statistics.median(warm) if warm else float("nan")
        untraced_ref = cpu.at_ref(untraced_wall, t_timed, t_end)
        probes = {
            "setups": cpu.mean_ms(t_setups, t_cold),
            "cold": cpu.mean_ms(t_cold, t_warm),
            "timed": cpu.mean_ms(t_timed, t_end),
        }
        log(
            f"{wl.name} seed={args.seed}: warm walls {[round(w, 3) for w in warm]}, "
            f"setups {[round(s, 3) for s in setups]}, cold {cold}, "
            f"first setup {first_setup:.2f}s, box.cpu_probe_ms {probes}"
        )

        metrics: dict[str, float]
        if args.trace:
            extra = {
                "box.memcpy_ratio": memcpy,
                "box.cpu_probe_ms": probes["timed"],
                "session.jvm_launch_s": jvm_launch,
                "session.start_s": statistics.median(starts),
            }
            try:
                metrics = traced(
                    wl, args.seed, spark, ctx, ref, data, work, conf, tally, cpu,
                    untraced_ref, extra,
                )
            except Exception:  # noqa: BLE001 — reported as a failed run below
                traceback.print_exc()
                tally.failed += 1
                metrics = {}
            declared = spec["per_layer"]
        else:
            # times at the reference core speed, each scaled by the probe
            # over its own window
            metrics = {
                "rows_per_s": wl.rows / untraced_ref if warm else 0.0,
                "cold_job_s": cpu.at_ref(cold, t_cold, t_warm) if cold is not None else 0.0,
                "setup_s": cpu.at_ref(statistics.median(setups), t_setups, t_cold),
                "peak_rss_mb": peak_rss / 2**20,
            }
            declared = spec["end_to_end"]
    log(f"ops_failed_ratio {tally.failed / tally.attempted:.3f}")
    # a layer this workload does not run reports 0
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared}
    unknown = set(metrics) - set(out)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    for name, m in out.items():
        log(f"  {name:40s} {m['value']:.6g} {m['unit']}")
    result = {
        "correct": tally.failed == 0 and bool(metrics) and trusted,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": out,
    }
    # every run's raw walls and box readings, kept next to its result
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "time": time.time(),
        "memcpy_ratio": memcpy,
        "cpu_probe_ms": probes,
        "walls": {"setups": setups, "cold": cold, "timed": warm},
        **result,
    }
    with open(cache / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
