#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 12 --trace 0

Run it from the repository root. It starts Spark on ``local[k]`` with
k = min(4, nproc), generates the workload's inputs from ``--seed`` into a
fresh directory under ``.perfbench/``, warms up, then runs timed passes for
``--seconds`` seconds. Every pass is checked against an independent
restatement outside the timed interval. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A run record (settings, input sizes, every pass) is written to
``.perfbench/artifacts/``. The exit code is non-zero when any pass fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SLOTS = min(4, os.cpu_count() or 1)
DRIVER_HEAP = "3g"
WARMUP_PASSES = {"extract_batch": 6, "resume_increments": 4}
MIN_PASSES = 3
RUN_LIMIT_S = 150  # stop starting passes this long after process start


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_spark(run_dir: str):
    tmp = f"{run_dir}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    # the JVMs write nothing outside the run directory: neither spark-submit's
    # launcher nor the driver keeps a perf-data file in the system temp dir
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    # Python workers import the package from the checkout being measured
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [os.getcwd(), os.environ.get("PYTHONPATH")]))
    from openllm_ocr_annotator_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{SLOTS}]",
        shuffle_partitions=SLOTS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{run_dir}/spark-local",
            "spark.driver.extraJavaOptions": jvm_opts,
        },
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_process = process_start_epoch()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "openllm_ocr_annotator_spark", "__init__.py")):
        log(f"no openllm_ocr_annotator_spark package under {root}; run from the repository root")
        return 2
    sys.path[:0] = [HERE, root]
    from workloads import WORKLOADS, clean

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(root, ".perfbench", "runs", run_id)
    art_dir = os.path.join(root, ".perfbench", "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    spark = None
    try:
        spark = start_spark(run_dir)
        session_s = time.time() - t_process
        wl = WORKLOADS[args.workload](spark, SLOTS)
        return measure(spark, wl, args, run_id, run_dir, art_dir, session_s, t_process + RUN_LIMIT_S)
    finally:
        if spark is not None:
            stop_spark(spark)
        clean(run_dir)


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it started
    have exited."""
    from proctree import tree_pids

    started = set(tree_pids(os.getpid())) - {os.getpid()}
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM's gateway server exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)


def measure(spark, wl, args, run_id, run_dir, art_dir, session_s, deadline) -> int:
    from proctree import RssSampler, tree_usage
    from tracing import NullTracer, Tracer
    from workloads import clean

    pid = os.getpid()
    null = NullTracer()
    tracer = Tracer(spark, run_id) if args.trace else None

    t0 = time.perf_counter()
    wl.generate(f"{run_dir}/input", args.seed)
    input_s = time.perf_counter() - t0
    log(f"session {session_s:.2f}s, input {input_s:.2f}s")

    passes = []  # dicts: kind, wall, cpu, rss_peak, batches, errors
    n_warm = WARMUP_PASSES[wl.name]

    def one_pass(i: int, kind: str, sampler) -> dict:
        spark.catalog.clearCache()
        out_dir = f"{run_dir}/pass{i:03d}"
        tr = tracer if kind == "traced" else null
        rec = {"kind": kind, "errors": []}
        c0 = tree_usage(pid)[0]
        if kind != "warmup":
            sampler.resume()
        t0 = time.perf_counter()
        try:
            with tr.span("pass"):
                out = wl.run_pass(tr, out_dir)
        except Exception:
            out = None
            rec["errors"].append(traceback.format_exc(limit=5))
        rec["wall"] = time.perf_counter() - t0
        sampler.pause()
        rec["cpu"] = tree_usage(pid)[0] - c0
        rec["rss_peak"] = sampler.take_peak()
        tr.release()
        if out is not None:
            rec["batches"] = out.batches
            try:
                rec["errors"] += wl.check(out, out_dir)
                if kind == "traced":
                    rec["counts"] = wl.trace_counts(out, out_dir)
            except Exception:
                rec["errors"].append(traceback.format_exc(limit=5))
        for e in rec["errors"]:
            log(f"pass {i} ({kind}) FAILED: {e}")
        clean(out_dir)
        passes.append(rec)
        return rec

    with RssSampler(pid) as sampler:
        for i in range(n_warm):
            one_pass(i, "warmup", sampler)
        measured_s = 0.0
        i = n_warm
        while measured_s < args.seconds or i - n_warm < MIN_PASSES:
            if time.time() > deadline:
                log("run limit reached; stopping early")
                break
            kind = "timed"
            if tracer is not None:
                kind = "traced" if (i - n_warm) % 2 else "untraced"
            measured_s += one_pass(i, kind, sampler)["wall"]
            i += 1

    warm = [p for p in passes if p["kind"] == "warmup"]
    setup_s = session_s + input_s + sum(p["wall"] for p in warm)
    failed = sum(1 for p in passes if p["errors"])
    steady = [p for p in passes if p["kind"] in ("timed", "untraced") and not p["errors"]]
    if not steady:
        log("no timed pass succeeded; no metrics to report")
        return 1
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "slots": SLOTS,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_heap": spark.sparkContext.getConf().get("spark.driver.memory"),
        "pyspark": __import__("pyspark").__version__,
        "input_sizes": wl.sizes(),
        "setup": {"session_s": session_s, "input_s": input_s, "warmup_passes": len(warm)},
        "passes": passes,
    }

    if args.trace:
        from layers import layer_metrics

        metrics = layer_metrics(wl, tracer, passes, session_s, input_s)
        tracer.dump(os.path.join(art_dir, f"{run_id}.spans.jsonl"))
    else:
        walls = [p["wall"] for p in steady]
        docs = wl.docs_per_pass * len(steady)
        batch = [b for p in steady for b in p["batches"]] or walls
        metrics = {
            "setup_s": (setup_s, "s"),
            "docs_per_s": (docs / sum(walls), "docs/s"),
            "batch_p50_s": (statistics.median(batch), "s"),
            "cpu_s_per_kdoc": (statistics.median(p["cpu"] for p in steady) / wl.docs_per_pass * 1000, "s/kdoc"),
            "peak_rss_mb": (statistics.median(p["rss_peak"] for p in steady) / 2**20, "MB"),
        }
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    with open(os.path.join(art_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    result = {
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
