#!/usr/bin/env python3
"""The repository benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload session --seed 1 --seconds 10 --trace 0

Workloads (see README.md): ``session`` (facade requests against a
persisted ANN index) and ``batch_sf01`` (the headline registry queries
at sf0.1). Inputs are generated from ``--seed`` under
``.perfbench_work/`` in the checkout; nothing outside the checkout is
read or written.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the public functions of the measured layers are
wrapped, every operation runs under its own Spark job group, and the
last line carries the per-layer metrics instead. The line before it is
an information record (host, Spark version, per-request detail).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("session", "batch_sf01")
DRIVER_MEM = "3g"
# reconciliation tolerance: an operation's wall not covered by its
# child spans, and task time beyond cores x wall, may each be at most
# this share of the wall (or RECON_FLOOR_S, whichever is larger)
RECON_TOL = 0.05
RECON_FLOOR_S = 0.005

E2E = (
    ("setup_s", "s"), ("batch_wall_s", "s"), ("batch_cpu_s", "s"),
    ("peak_rss_mb", "MB"),
)
SESSION_KINDS = ("put", "search", "ask", "ann_query", "ann_upsert")
SPARK_COUNTERS = (
    ("spark.jobs", "jobs", "count"), ("spark.eager_jobs", "eager_jobs",
                                      "count"),
    ("spark.stages", "stages", "count"), ("spark.tasks", "tasks", "count"),
    ("spark.sched_gap_s", "sched_gap_s", "s"),
    ("spark.task_run_s", "task_run_s", "s"),
    ("spark.task_cpu_s", "task_cpu_s", "s"), ("spark.gc_s", "gc_s", "s"),
    ("spark.shuffle_read_mb", "shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "shuffle_write_mb", "MB"),
    ("spark.spill_mb", "spill_mb", "MB"),
    ("pyworker.cpu_s", "pyworker_cpu_s", "s"),
)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> int:
    """Keep every temporary file of Spark, the JVM, the Python workers
    and DuckDB inside ``work``; size local mode to the usable cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
        " -XX:-UsePerfData'"
        f" --conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
        " --conf spark.ui.showConsoleProgress=false"
        " pyspark-shell"
    )
    return cores


def _stop_spark(spark) -> None:
    """Stop the session, close the gateway JVM and wait until it and
    the processes it started (the Python workers) have exited; kill
    what is still running after the wait. Only processes this run
    started are touched."""
    from pyspark import SparkContext

    from probe import alive, descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    started = {}
    if proc is not None:
        started = descendants(proc.pid)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid, start in started.items():
        while alive(pid, start) and time.time() < deadline:
            time.sleep(0.1)
        if alive(pid, start):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _reconcile(tracer, ops, cores) -> list[str]:
    """Check every traced operation's accounting; return failures."""
    from spans import covered

    bad = []
    for i, op in enumerate(ops):
        spans = tracer.op_spans(i)
        root = next(s for s in spans if s.name == f"op.{op.kind}")
        kids = [s for s in spans if s.parent == root.sid]
        tol = max(RECON_TOL * op.wall_s, RECON_FLOOR_S)
        uncovered = root.dur - covered(kids, root.t0, root.t1)
        c = op.spark
        if uncovered > tol:
            bad.append(f"{op.kind}/{op.name}: {uncovered:.4f}s outside spans")
        if c["sched_gap_s"] < -tol:
            bad.append(f"{op.kind}/{op.name}: task time {c['task_run_s']:.3f}"
                       f"s exceeds {cores} x wall {op.wall_s:.3f}s")
        if c["jobs_outside_op"]:
            bad.append(f"{op.kind}/{op.name}: {c['jobs_outside_op']} jobs "
                       "outside the operation")
    return bad


def _per_kind(ops) -> dict:
    out = {}
    for kind in sorted({o.kind for o in ops}):
        walls = [o.wall_s * 1e3 for o in ops if o.kind == kind]
        out[f"{kind}_p50_ms"] = {"value": _median(walls), "unit": "ms",
                                 "n": len(walls)}
    return out


def _layer_metrics(ctx, tracer, start_s, recon_bad) -> dict:
    """Per-layer metrics from the spans and counters of a traced run."""
    from spans import total_time
    from workloads import PROBES

    ops = ctx.ops
    setup_spans = tracer.op_spans(-1)

    def per_op(kind, name):
        """Time in ``name`` per operation of ``kind`` that called it."""
        out = []
        for i, o in enumerate(ops):
            spans = tracer.op_spans(i)
            if o.kind == kind and any(s.name == name for s in spans):
                out.append(total_time(spans, name))
        return out

    def med_ms(kind, name):
        return _median(per_op(kind, name)) * 1e3

    def run_total(name):
        return sum(total_time(tracer.op_spans(i), name)
                   for i in range(len(ops)))

    deltas = []
    for i, o in enumerate(ops):
        if o.kind == "ann_upsert":
            spans = tracer.op_spans(i)
            deltas.append(
                total_time(spans, "api.refresh_ann_index")
                - total_time(spans, "operators.hnsw.retrain_check")
                - total_time(spans, "api.build_ann_serving")
            )
    ann = [o for o in ops if o.kind == "ann_query"]
    m = {
        "session.start_s": (start_s, "s"),
        "api.open_s": (total_time(setup_spans, "api.open"), "s"),
        "operators.hnsw.build_s": (
            total_time(setup_spans, "api.build_ann_serving"), "s"),
        "api.put_ms": (med_ms("put", "api.put"), "ms"),
        "plans.parser_ms": (med_ms("search", "plans.parser"), "ms"),
        "operators.search.bm25_build_ms": (
            med_ms("search", "operators.search.bm25_build"), "ms"),
        "operators.ask.ask_ms": (med_ms("ask", "operators.ask.ask"), "ms"),
        "operators.hnsw.probe_ms": (
            med_ms("ann_query", "operators.hnsw.probe"), "ms"),
        "operators.hnsw.cells_probed_frac": (
            statistics.fmean(o.cells / PROBES for o in ann)
            if ann else 0.0, "ratio"),
        "operators.hnsw.delta_ms": (_median(deltas) * 1e3, "ms"),
        "operators.hnsw.retrain_check_ms": (
            med_ms("ann_upsert", "operators.hnsw.retrain_check"), "ms"),
        "operators.hnsw.index_partitions": (
            float(ctx.info.get("index_partitions", [0])[-1]), "count"),
        "catalog.load_ms": (run_total("catalog.load") * 1e3, "ms"),
        "registry.build_s": (run_total("registry.build"), "s"),
        "registry.exec_s": (
            float(sum(total_time(tracer.op_spans(i), "action")
                      for i, o in enumerate(ops) if o.kind == "query")), "s"),
        "spark.catalyst_ms": (
            sum(s.value for s in tracer.spans
                if s.name == "spark.catalyst"), "ms"),
    }
    for name, key, unit in SPARK_COUNTERS:
        m[name] = (float(sum(o.spark[key] for o in ops)), unit)
    kinds = _per_kind(ops)
    for kind in SESSION_KINDS:
        m[f"session.{kind}_p50_ms"] = (
            kinds.get(f"{kind}_p50_ms", {"value": 0.0})["value"], "ms")
    rec = ctx.info.get("recalls")
    m["session.ann_recall_at_10"] = (statistics.fmean(rec) if rec else 0.0,
                                     "ratio")
    m["trace.overhead_s"] = (
        sum(s.dur for s in tracer.spans
            if s.name in ("spark.catalyst", "trace.counters")), "s")
    m["trace.reconciled_frac"] = (1.0 - len(recon_bad) / len(ops), "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwind, so Spark is stopped


def main(argv=None) -> int:
    args = _args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isfile(os.path.join(ROOT, "memvid_spark", "__init__.py")):
        print("perfbench: no memvid_spark package next to perfbench/ — run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(
        ROOT, ".perfbench_work",
        f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}",
    )
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        return _run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out_dir: str) -> int:
    cores = _environment(work)
    import datagen
    import workloads as wl
    from probe import ProcSampler, Recorder, steal_s

    t_run = time.perf_counter()
    data_dir = os.path.join(work, "data")
    datagen.write_sf01(args.seed, data_dir)
    phases = {"datagen": time.perf_counter() - t_run}

    sampler = ProcSampler().start()
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()
        tracer.begin_op(-1)
    spark = None
    try:
        t_setup = time.perf_counter()
        from memvid_spark.session import get_spark

        spark = get_spark("perfbench")
        start_s = time.perf_counter() - t_setup
        ctx = wl.Context(spark, args.seed, work, data_dir,
                         Recorder(spark, cores, f"pb{os.getpid()}"), tracer,
                         sampler)
        if args.workload == "session":
            wl.setup_session(ctx)
        else:
            wl.setup_batch(ctx)
        setup_s = time.perf_counter() - t_setup
        phases["setup"] = setup_s

        # the measured work is fixed: one pass over the workload's
        # operation list (sized to take about the run_seconds of
        # BENCHMARK.json on a 4-core host; --seconds does not change
        # it), so runs of faster code or on faster hosts stay comparable
        steal0 = steal_s()
        if args.workload == "session":
            wl.run_session(ctx)
        else:
            wl.run_batch(ctx)
        sampler.stop()
        phases["measure"] = time.perf_counter() - t_setup - setup_s
        steal_share = (steal_s() - steal0) / (cores * phases["measure"])

        t_check = time.perf_counter()
        if args.workload == "session":
            wl.check_session(ctx)
        else:
            wl.check_batch(ctx)
        phases["check"] = time.perf_counter() - t_check
        spark_version = spark.version
    finally:
        sampler.stop()
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            t_stop = time.perf_counter()
            _stop_spark(spark)
            phases["stop"] = time.perf_counter() - t_stop

    ops = ctx.ops
    recalls = ctx.info.get("recalls", [])
    failed = sum(not o.ok for o in ops) + sum(
        r < wl.RECALL_MIN for r in recalls)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": cores,
        "spark_version": spark_version, "python": sys.version.split()[0],
        "local_mode_only": ["batch_cpu_s", "peak_rss_mb", "pyworker.cpu_s"],
        "ops": len(ops), "per_kind": _per_kind(ops),
        "peak_rss_mb_by_process": sampler.peak_parts,
        "failures": [f"{o.kind}/{o.name}: {o.note}" for o in ops if not o.ok],
        "phase_s": phases,
        # share of the CPUs' time a hypervisor took during the measured
        # pass: on a shared VM, high values explain slow runs
        "steal_share": steal_share,
    }
    if args.workload == "session":
        info["ann_recall_at_10"] = recalls
        info["index_partitions_after_each_upsert"] = ctx.info[
            "index_partitions"]
        info["n_cells"] = ctx.info["n_cells"]
    else:
        info["oracle_rows"] = ctx.info["oracle_rows"]
    if tracer is None:
        e2e = {
            "setup_s": setup_s,
            "batch_wall_s": sum(o.wall_s for o in ops),
            "batch_cpu_s": sum(o.spark["jvm_cpu_s"] + o.spark["pyworker_cpu_s"]
                               for o in ops),
            "peak_rss_mb": sampler.peak_rss_mb,
        }
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}
    else:
        recon_bad = _reconcile(tracer, ops, cores)
        info["reconcile_failures"] = recon_bad
        info["reconcile_tolerance"] = {"share_of_wall": RECON_TOL,
                                       "floor_s": RECON_FLOOR_S}
        tracer.write(os.path.join(
            out_dir, f"trace-{args.workload}-s{args.seed}.jsonl"))
        metrics = _layer_metrics(ctx, tracer, start_s, recon_bad)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops) + len(recalls),
        "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
