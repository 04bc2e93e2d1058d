#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, one client, closed loop.

    python3 perfbench/run.py --workload vdf_etl --seed 1 --seconds 3 --trace 0

Run from the repository root. It generates the workload's inputs from
``--seed`` under ``.perfbench/`` (with the SHA-256 of every generated
byte), starts a Spark session on ``local[nproc]`` through the
program's own session factory, runs one untimed warm-up pass, then
runs rounds of the workload back to back until ``--seconds`` seconds
have passed and the last iteration is complete (a closed loop: one
client, the next round starts when the last one ends), checking every
round's outputs. It prints one report line per metric
(name, value, unit) and, last, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` ``metrics`` holds the end-to-end metrics named in
BENCHMARK.json; with ``--trace 1`` the per-layer ones, from spans kept
in memory and a fold of the Spark event log. The exit code is 0 only
when every op and correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = ("setup_s", "run_s", "rows_per_s", "peak_rss_mb")
TIMED_LAYERS = (
    "format.write_vdf", "format.read_vdf",
    "sources.paginated_read", "sources.partitioned_upsert",
    "embed.reembed_vdf", "functions.cleanup_df", "functions.quality_score",
    "dedup.exact_content", "dedup.minhash_pairs", "dedup.survivors",
    "semdedup.semdedup",
    "similarity.write_ivfpq_index", "sq8.write_index", "sparse_index.write",
    "similarity.ivfpq_probe", "sq8.probe", "hybrid.probe_batch",
    "similarity.append", "similarity.delete", "similarity.compact",
)
COUNTERS = {
    "format.files_written": "count", "format.bytes_per_input_byte": "ratio",
    "sources.upsert_calls": "count", "sources.upsert_failures": "count",
    "dedup.pairs_found": "count", "similarity.files_per_cell": "count",
}
SPARK_LAYERS = (
    "format", "sources", "embed", "functions", "dedup", "semdedup",
    "similarity", "sq8", "sparse_index", "hybrid",
)
SPARK_COUNTERS = (
    ("jobs", "count"), ("executor_cpu_s", "s"), ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("driver_gap_s", "s"),
)
# The session factory's default driver heap is half the machine's RAM,
# at least 8g. With it, a JVM that grows its heap as it pleases made
# peak_rss_mb bimodal from seed to seed on a 4-core 16 GB VM (vdf_etl:
# 4.8-6.8 GB); a fixed 1g heap, set through the factory's own override,
# keeps the figure steady and the box's shared memory free.
DRIVER_MEMORY = "1g"
MAX_RUN_S = 120.0  # no round starts later than this into the process (limit: 180 s)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric (name, unit) a traced run reports."""
    names = [("session.start_s", "s"), ("trace.run_s", "s"), ("trace.overhead_s", "s"),
             ("bench.round_self_s", "s")]
    names += [(f"{n}_s", "s") for n in TIMED_LAYERS]
    names += list(COUNTERS.items())
    names += [(f"{layer}.{c}", u) for layer in SPARK_LAYERS for c, u in SPARK_COUNTERS]
    return names


def _setup_env(work: str, cpus: int) -> None:
    """Environment the Spark driver JVM and its Python workers inherit."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # workers are launched by the JVM, not by this interpreter: without
    # the root on their path every pandas-UDF / mapInPandas task fails
    # with ModuleNotFoundError when the client is started elsewhere
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, the spark-submit launcher too: temp files stay in the
    # run directory and no hsperfdata file is written to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def _start_spark(work: str, trace: bool, eventlog_dir: str):
    from vector_io_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            # this Python has no zstd module: keep the log plain JSON lines
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _assert_worker_import(spark) -> str:
    """Run one Python-worker task that imports the program."""

    def probe(batches):
        import pandas as pd

        import vector_io_spark

        for _ in batches:
            yield pd.DataFrame({"f": [vector_io_spark.__file__]})

    found = spark.range(1, numPartitions=1).mapInPandas(probe, "f string").collect()[0]["f"]
    if not found.startswith(ROOT + os.sep):
        raise RuntimeError(f"Python workers import vector_io_spark from {found}, not from {ROOT}")
    return found


def _stop_spark(spark) -> None:
    """Stop the session, shut down its gateway JVM and wait until it and
    every process under it (the Python worker daemon) have ended."""
    from pyspark import SparkContext

    from perfbench.procstat import tree_pids, wait_gone

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    killed = wait_gone(started)
    if killed:
        print(f"perfbench: killed processes left after stop: {killed}", file=sys.stderr)


def _guarded(ops, what: str, fn, *args):
    """Run one unit of work; a failure ends it, is counted once in
    ``ops`` and reported on stderr, and the run goes on."""
    from perfbench.workloads import Counted

    try:
        return fn(*args) or 0
    except Counted as e:
        print(f"perfbench: {what}: {e}: {e.__cause__ or ''}", file=sys.stderr)
    except Exception as e:  # a failure in the benchmark's own code
        ops.fail(f"{what}: {type(e).__name__}: {e}")
        print(f"perfbench: {what}: {type(e).__name__}: {e}", file=sys.stderr)
    return 0


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "vector_io_spark", "__init__.py")):
        print(f"perfbench: no vector_io_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen
    from perfbench.procstat import PeakRss, machine_context, nproc

    if args.workload not in gen.GENERATORS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(work_root, "runs", tag)
    if os.path.isdir(work):
        import shutil

        shutil.rmtree(work)
    os.makedirs(work)
    cpus = nproc()
    _setup_env(work, cpus)
    ctx0 = machine_context()
    t_gen = time.perf_counter()
    inputs = gen.generate(args.workload, args.seed, os.path.join(work_root, "inputs"))

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ops

    ops = Ops()
    run_id = f"{tag}-{int(time.time())}"
    eventlog_dir = os.path.join(work, "eventlog")
    gen_s = time.perf_counter() - t_gen
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = _start_spark(work, bool(args.trace), eventlog_dir)
        start_s = time.perf_counter() - t0
        try:
            worker_file = _assert_worker_import(spark)
            tracer = Tracer(spark.sparkContext, run_id, enabled=bool(args.trace))
            wl = WORKLOADS[args.workload](spark, inputs, work, tracer, ops, args.seed)
            _guarded(ops, "warm-up", wl.warmup)
            setup_s = time.perf_counter() - t0

            def timed_round(i: int, traced: bool) -> tuple[bool, float, int]:
                tracer.enabled = traced
                r0 = time.perf_counter()
                with tracer.span("bench.round"):
                    rows = _guarded(ops, f"round {i}", wl.round, i)
                return traced, time.perf_counter() - r0, rows

            # A traced run runs every repeatable round twice, untraced and
            # traced, the first of the two alternating (a round runs
            # faster right after itself): the pairs give the tracing
            # overhead, and every round is traced for the per-layer metrics.
            min_rounds = wl.iteration_rounds * wl.min_iterations
            if args.trace:
                min_rounds = max(min_rounds, 2)
            rounds: list[tuple[bool, float, int]] = []  # (traced, seconds, rows)
            pairs: list[tuple[float, float]] = []  # (untraced, traced) seconds
            loop0 = time.perf_counter()
            i = 0
            while True:
                if args.trace and wl.repeatable(i):
                    pair = [timed_round(i, i % 2 == 1), timed_round(i, i % 2 == 0)]
                    rounds += pair
                    pairs.append(tuple(s for _, s, _ in sorted(pair)))
                else:
                    rounds.append(timed_round(i, bool(args.trace)))
                i += 1
                whole = i >= min_rounds and i % wl.iteration_rounds == 0
                if whole and time.perf_counter() - loop0 >= args.seconds:
                    break
                if time.perf_counter() - T_START >= MAX_RUN_S:
                    if not whole:  # the cap cut the loop short of a whole measurement
                        ops.attempted += 1
                        ops.fail(f"time cap: {MAX_RUN_S:.0f} s reached in round {i} (at least {min_rounds})")
                    break
            tracer.enabled = False
            loop_s = time.perf_counter() - loop0
            _guarded(ops, "finish", wl.finish)
        finally:
            t_stop = time.perf_counter()
            _stop_spark(spark)
            stop_s = time.perf_counter() - t_stop
    ctx1 = machine_context()

    untraced = [s for t, s, _ in rounds if not t]
    n_it = wl.iteration_rounds
    iterations = [sum(untraced[k : k + n_it]) for k in range(0, len(untraced) - n_it + 1, n_it)]
    if not iterations and not args.trace:
        # never a 0 run_s: a run without one whole iteration fails
        ops.attempted += 1
        ops.fail("no complete untraced iteration")
        iterations = [sum(untraced) or loop_s]
    e2e = {
        "setup_s": (setup_s, "s"),
        "run_s": (_median(iterations), "s"),
        "rows_per_s": (sum(r for _, _, r in rounds) / loop_s, "rows/s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "failed_ops_ratio": (ops.failed / max(1, ops.attempted), "ratio"),
        **wl.summary(),
    }
    layers = {}
    if args.trace:
        layers = _per_layer(tracer, wl, eventlog_dir, start_s, pairs)
        tracer.write(os.path.join(work, "spans.jsonl"))

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "input_sha256": inputs["sha256"], "input_bytes": inputs["input_bytes"],
        "rounds": len(rounds), "round_s": [s for _, s, _ in rounds], "session_start_s": start_s,
        "generate_s": gen_s, "loop_s": loop_s, "stop_s": stop_s,
        "process_s": time.perf_counter() - T_START,
        "nproc": cpus, "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"], "driver_memory": DRIVER_MEMORY,
        "loadavg_start": ctx0["loadavg"], "loadavg_end": ctx1["loadavg"],
        "steal_s": (ctx1["steal_s"] - ctx0["steal_s"]) if ctx0["steal_s"] is not None else None,
        "worker_import": worker_file, "failures": ops.failures[:20],
    }
    shown = layers if args.trace else e2e
    if not args.trace:
        shown.update((k, (v[0], "s")) for k, v in wl.counters.items() if k.startswith("probe_"))
    for name, (value, unit) in shown.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    print("context " + json.dumps(context))
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"context": context, "end_to_end": e2e, "per_layer": layers}, f, indent=1)

    if args.trace:
        metrics = {n: {"value": layers[n][0], "unit": u} for n, u in per_layer_names()}
    else:
        metrics = {n: {"value": e2e[n][0], "unit": e2e[n][1]} for n in END_TO_END}
    correct = ops.failed == 0
    print(json.dumps({"correct": correct, "attempted": ops.attempted, "failed": ops.failed, "metrics": metrics}))
    return 0 if correct else 1


def _per_layer(tracer, wl, eventlog_dir, start_s, pairs) -> dict:
    """Per-layer metrics of a traced run.

    A timed call reports the median self time of its spans inside the
    traced rounds; a layer called only during set-up (the catalog
    builds) reports its set-up spans instead. Spark-side counters are
    summed over the same spans, per traced round (set-up spans: per run).
    ``trace.overhead_s`` is the median traced round minus the median
    untraced round over the untraced/traced pairs.
    """
    from perfbench.eventlog import fold_dir, layer_counters
    from perfbench.trace import self_times

    spans = tracer.spans
    selfs = self_times(spans)
    rounds = {s["id"] for s in spans if s["name"] == "bench.round"}
    in_rounds = [s for s in spans if s["parent"] in rounds]
    in_setup = [s for s in spans if s["parent"] is None and s["name"] != "bench.round"]
    out = {
        "session.start_s": (start_s, "s"),
        "trace.run_s": (_median([t for _, t in pairs]), "s"),
        "trace.overhead_s": (_median([t for _, t in pairs]) - _median([u for u, _ in pairs]), "s"),
        "bench.round_self_s": (_median([selfs[r] for r in rounds]), "s"),
    }
    for name in TIMED_LAYERS:
        vals = [selfs[s["id"]] for s in in_rounds if s["name"] == name]
        vals = vals or [selfs[s["id"]] for s in in_setup if s["name"] == name]
        out[f"{name}_s"] = (_median(vals), "s")
    for name, unit in COUNTERS.items():
        out[name] = (_median(wl.counters.get(name, [])), unit)
    folded = fold_dir(eventlog_dir)
    measured = layer_counters(in_rounds, folded)
    setup = layer_counters(in_setup, folded)
    for layer in SPARK_LAYERS:
        acc, per = (measured[layer], max(1, len(rounds))) if layer in measured else (setup.get(layer, {}), 1)
        for c, unit in SPARK_COUNTERS:
            out[f"{layer}.{c}"] = (acc.get(c, 0) / per, unit)
    return out


if __name__ == "__main__":
    sys.exit(main())
