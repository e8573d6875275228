"""The repo benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. It starts one ``local[nproc]`` session
through ``session.get_spark``, makes the seeded inputs three times (the
median counts in ``setup_s``), builds the stores and makes one warm-up op,
then runs ops back to back for ``--seconds`` (at least one) and checks
every op's output. The last stdout line is one JSON object: ``--trace 0``
carries the end-to-end metrics, ``--trace 1`` the per-layer ones and the
overhead of tracing, and also writes every span to
``.perfbench/spans-<workload>-<seed>.json``. The lines before it name every
metric with its unit, including the ones only some workloads have.

``perfbench/README.md`` says why each workload is there and which
end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
SETUP_REPS = 3

BASE = ["self_s", "jobs", "tasks", "failed_tasks"]
ROWS = ["rows_in", "rows_out"]
# span -> fields reported per call; every traced run reports all of them
SPAN_FIELDS = {
    "session.get_spark": ["self_s"],
    "catalog.list_topics": BASE + ROWS,
    "capture.bounded_scan": BASE + ROWS,
    "jsonio.write_parquet_capture": BASE + ["rows_in", "bytes_written", "files_written"],
    "jsonio.read_parquet_capture": BASE + ["rows_out"],
    "jsonio.replay_frame": BASE + ROWS,
    "generator.generate_emailsend": BASE + ["rows_out"],
    "pipeline.curate_corpus": BASE + ["rows_in"],
    "dedup.minhash_candidate_pairs": BASE + ["rows_in", "candidate_pairs", "pair_yield"],
    "dedup.dedup_corpus": BASE + ROWS,
    "dedup.benchmark_overlap": BASE + ROWS,
    "quality.drop_bottom_quantile": BASE + ROWS,
    "curation.dsir_log_weights": BASE + ROWS,
    "curation.select_within_token_budget": BASE + ROWS,
    "packing.pack_token_stream": BASE + ROWS,
    "vecstore.ivf_topk_from_index": BASE + ROWS + ["candidate_fraction"],
    "retrieval.bm25_topk_from_index": BASE + ROWS,
    "vecstore.ivf_index_build": BASE + ["rows_in"],
    "retrieval.postings_index_build": BASE + ["rows_in"],
}
FIELD_UNITS = {"self_s": "s", "bytes_written": "bytes", "pair_yield": "ratio",
               "candidate_fraction": "ratio"}
# values the harness derives from op outputs (mean per sample)
DERIVED = {
    "packing.pack_token_stream.fill_ratio": "ratio",
    **{f"pipeline.funnel.{s}_docs": "count" for s in
       ("input", "deduped", "decontaminated", "filtered", "selected", "train")},
    **{f"stream.{p}.s": "s" for p in
       ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")},
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "stream.dropped_by_watermark": "count",
}
END_TO_END = {"setup_s": "s", "op_p50_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = {f"{span}.{f}": FIELD_UNITS.get(f, "count")
             for span, fields in SPAN_FIELDS.items() for f in fields}
    units.update(DERIVED)
    units["trace.overhead_s"] = "s"
    return units


def tail(times: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile of ``times`` with at
    least 10 samples beyond it; the maximum when there are 10 or fewer."""
    xs = sorted(times)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    return 100.0 * (n - 10) / n, xs[n - 11]


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its JVM child, from /proc."""
    def hwm(pid):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    kids, pids = [os.getpid()], [os.getpid()]
    while kids:
        parent = kids.pop()
        try:
            with open(f"/proc/{parent}/task/{parent}/children") as f:
                children = [int(c) for c in f.read().split()]
        except OSError:
            continue
        for c in children:
            try:
                with open(f"/proc/{c}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            if comm == "java":
                pids.append(c)
            else:
                kids.append(c)  # spark-submit wrappers sit between us and the JVM
    return sum(hwm(p) for p in pids)


def stop_jvm() -> None:
    """Close the gateway JVM's stdin, on which it exits, and wait for it;
    its Python workers end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def measure(wl, tracer, seconds: float, first_op: int) -> dict:
    """Closed loop, one client, concurrency 1: the next op starts when the
    last one ends. A raised op or a failed check counts as failed and the
    loop goes on."""
    times, rates = [], {}
    failed = 0
    start = time.perf_counter()
    i = first_op
    while time.perf_counter() - start < seconds:
        t0 = time.perf_counter()
        try:
            results = wl.op(i)
        except Exception:  # noqa: BLE001 — counted, never fatal
            print(f"op {i} raised:", file=sys.stderr)
            traceback.print_exc()
            results = None
        times.append(time.perf_counter() - t0)
        tracer.end_op()
        i += 1
        try:
            ok = results is not None and wl.check(results)
        except Exception:  # noqa: BLE001
            print(f"check of op {i - 1} raised:", file=sys.stderr)
            traceback.print_exc()
            ok = False
        failed += not ok
        for r in results or ():
            for name, (n, dt) in r.rates.items():
                acc = rates.setdefault(name, [0, 0.0])
                acc[0] += n
                acc[1] += dt
    return {"times": times, "failed": failed, "rates": rates}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT]
    if not os.path.isdir(os.path.join(ROOT, "pulsar_replay_spark")):
        print("perfbench: run from the root of a checkout holding pulsar_replay_spark/",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files: both JVMs would write them to /tmp, outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={scratch}/tmp -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    try:
        return run(args, scratch, out_dir)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def run(args, scratch: str, out_dir: str) -> int:
    from perfbench.trace import NullTracer, Tracer
    from perfbench.workloads import Workload
    from pulsar_replay_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        if args.trace:  # the session already exists: record its start as a span
            tracer.spans.append({"id": 0, "name": "session.get_spark", "parent": None,
                                 "phase": "setup", "start": t0, "end": t0 + session_s})
        wl = Workload(args.workload, spark, os.path.join(scratch, "work"), args.seed)
        with tracer.patch(wl.targets()):
            reps = []
            for rep in range(SETUP_REPS):
                t = time.perf_counter()
                wl.prepare(rep)
                tracer.end_op()
                reps.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.build()
            wl.warm()
            tracer.end_op()
            warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(reps) + warm_s
        wl.clear_samples()

        base = measure(wl, tracer, args.seconds, 1)
        extra = wl.samples("extra")
        if args.trace:
            tracer.phase = "measure"
            wl.clear_samples()
            with tracer.patch(wl.targets()):
                traced = measure(wl, tracer, args.seconds, 1 + len(base["times"]))
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
            layer = tracer.per_layer(SPAN_FIELDS)
            derived = wl.samples("layer")
        rss = peak_rss_mb()
    finally:
        spark.stop()
        stop_jvm()

    times = base["times"]
    p50 = statistics.median(times)
    pct, tail_s = tail(times)
    e2e = {"setup_s": setup_s, "op_p50_s": p50}

    print(f"# workload {args.workload}, seed {args.seed}: ops "
          + " ".join(f"{t:.2f}" for t in times) + f" s; set-up: session {session_s:.2f} s, prepare "
          + " ".join(f"{r:.2f}" for r in reps) + f" s, build and warm-up {warm_s:.2f} s")
    lines = [(k, v, END_TO_END[k]) for k, v in e2e.items()]
    lines.append(("peak_rss_mb", rss, "MB"))
    lines.append(("op_tail_s", tail_s, f"s (p{pct:.0f} of {len(times)} ops)"))
    lines.append(("failed_op_share", base["failed"] / len(times), "ratio"))
    for name, (n, dt) in base["rates"].items():
        lines.append((f"{name}_per_s", n / dt, "1/s"))
    for name, vs in extra.items():
        lines.append((name, statistics.median(vs), "s" if name.endswith("_s") else "ratio"))
    for name, value, unit in lines:
        print(f"{name} {value:.6g} {unit}")

    phases = [base]
    if args.trace:
        phases.append(traced)
        for k in DERIVED:
            vs = derived.get(k, [])
            layer[k] = sum(vs) / len(vs) if vs else 0.0
        layer["trace.overhead_s"] = statistics.median(traced["times"]) - p50
        print(f"trace.overhead_s {layer['trace.overhead_s']:.6g} s "
              "(traced op median minus untraced op median)")
        units = per_layer_units()
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    attempted = sum(len(p["times"]) for p in phases)
    failed = sum(p["failed"] for p in phases)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
