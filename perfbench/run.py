"""Benchmark runner: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  A run

1. builds the inputs with ``prepare.py`` in a process of its own if this
   checkout has no cache for the current sources yet (not timed);
2. starts a Spark session on ``local[<cores>]`` and loads the corpus;
3. draws the run's inputs from ``--seed`` and works out every expected
   output (not timed);
4. runs one iteration that is not measured (the warm-up); ``setup_s`` is
   session start + load + warm-up;
5. runs checked iterations on the same inputs until ``--seconds`` have
   passed (at least one);
6. with ``--trace 1``, follows each of those iterations with a traced one
   on the same inputs (spans, Spark job groups, event log) for twice the
   time, and reports per-layer metrics and the tracing overhead instead
   of the end-to-end metrics.

The last line of standard output is the result object.  See README.md
for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

from bench_stats import (
    attribute_jobs,
    latency_summary,
    self_times,
    subtree_ids,
    union_length,
)
from bench_proc import tree_peak_rss_mb, tree_pids, wait_gone
from bench_trace import Tracer, read_event_log
from prepare import CURATE_QUERIES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ROUND_SMALL = 1000  # rounds attempting fewer URLs count toward round_floor_s


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        from eget_spark.session import get_spark

        import workloads as wl
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    import prepare

    cache_root = os.path.join(ROOT, ".perfbench", "cache")
    work_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for d in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(work_dir, d), exist_ok=True)
    # everything Spark and its workers write stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["EGET_WAREHOUSE"] = os.path.join(work_dir, "warehouse")
    try:
        cache_dir = prepare.cache_path(cache_root)
        if not prepare.is_ready(cache_dir):
            t = time.perf_counter()
            # its own process and JVM: every measured run starts equally cold
            subprocess.run(
                [sys.executable, os.path.join(HERE, "prepare.py"), cache_root],
                check=True,
                stdout=sys.stderr,
            )
            print(f"perfbench: prepared inputs in {time.perf_counter() - t:.1f}s",
                  file=sys.stderr)
        return run(args, get_spark, wl, cache_dir, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def run(args, get_spark, wl, cache_dir, work_dir) -> int:
    cores = len(os.sched_getaffinity(0))
    events_dir = os.path.join(work_dir, "events")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cores=cores,
        extra_conf=conf,
    )
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    gateway = sc._gateway
    log = lambda msg: print(f"perfbench: {msg}", file=sys.stderr, flush=True)  # noqa: E731
    log(f"{args.workload} seed={args.seed} cores={cores} session {session_s:.2f}s")

    try:
        tracer = Tracer()
        ctx = wl.Context(spark=spark, tracer=tracer, cache_dir=cache_dir, work_dir=work_dir)
        t = time.perf_counter()
        wl.load_data(ctx)
        load_s = time.perf_counter() - t
        prepare_inputs, iterate = wl.WORKLOADS[args.workload]
        t = time.perf_counter()
        inputs = prepare_inputs(ctx, random.Random(args.seed))
        log(f"inputs and expected outputs in {time.perf_counter() - t:.1f}s")

        all_ops = []

        def run_iteration():
            with tracer.span("iteration") as sp:
                ops = iterate(ctx, inputs)
            # warm-up outputs are not checked: only its exceptions count
            all_ops.extend(op for op in ops if ctx.check or not op.ok)
            for op in ops:
                if not op.ok:
                    log(f"FAILED {op.name}: {op.error}")
            return sp, ops

        ctx.check = False
        _, warm_ops = run_iteration()
        ctx.check = True
        warmup_s = sum(op.seconds for op in warm_ops)
        log("warm-up " + " ".join(f"{op.name}={op.seconds:.2f}s" for op in warm_ops))
        setup_s = session_s + load_s + warmup_s

        def set_tracing(on):
            if on:
                tracer.sc = sc
                for owner, attr, name in wl.TRACED_OPERATORS:
                    tracer.patch(owner, attr, name)
            else:
                tracer.unpatch()
                tracer.sc = None
                sc.setLocalProperty("spark.jobGroup.id", None)

        # untraced iterations; with --trace 1 each is followed by a traced
        # one on the same inputs, so both see the same JIT and cache state
        plain, traced = [], []
        start = time.perf_counter()
        while not plain or time.perf_counter() - start < args.seconds * (1 + args.trace):
            plain.append(run_iteration())
            if args.trace:
                set_tracing(True)
                try:
                    traced.append(run_iteration())
                finally:
                    set_tracing(False)
        peak_rss_mb = tree_peak_rss_mb()
    finally:
        t_stop = time.perf_counter()
        children = tree_pids() - {os.getpid()}
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        # the Python worker daemon exits on its own once the JVM is gone
        left = wait_gone(children, timeout=30)
        if left:
            log(f"processes still running after stop: {sorted(left)}")
        log(f"stopped in {time.perf_counter() - t_stop:.1f}s")

    def iter_seconds(its):
        return [sum(op.seconds for op in ops) for _, ops in its]

    def iter_cpu(its):
        return [sum(op.cpu_s for op in ops) for _, ops in its]

    failed = sum(1 for op in all_ops if not op.ok)
    result = {"correct": failed == 0, "attempted": len(all_ops), "failed": failed}
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "iterations": len(plain),
        "iter_s": latency_summary(iter_seconds(plain)),
        "iter_s_values": [round(x, 3) for x in iter_seconds(plain)],
        "iter_cpu_s_values": [round(x, 3) for x in iter_cpu(plain)],
        "ops": {
            name: latency_summary(
                [op.seconds for _, ops in plain for op in ops if op.name == name]
            )
            for name in sorted({op.name for _, ops in plain for op in ops})
        },
    }
    log("summary " + json.dumps(summary))

    def figures(its):
        return {
            "iter_s": statistics.median(iter_seconds(its)),
            "iter_cpu_s": statistics.median(iter_cpu(its)),
        }

    plain_m = figures(plain)
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "iter_wall_s": (plain_m["iter_s"], "s"),
            "iter_cpu_s": (plain_m["iter_cpu_s"], "s"),
        }
    else:
        jobs, tasks = read_event_log(events_dir)
        tracer.dump(
            os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-seed{args.seed}.jsonl")
        )
        metrics = layer_metrics(tracer.spans, jobs, tasks, traced, cores)
        traced_m = figures(traced)
        metrics.update(
            {
                "session.start_s": (session_s, "s"),
                "setup.data_s": (load_s, "s"),
                "setup.warmup_s": (warmup_s, "s"),
                "proc.peak_rss_mb": (peak_rss_mb, "MB"),
                "trace.overhead_s": (traced_m["iter_s"] - plain_m["iter_s"], "s"),
                "trace.overhead_cpu_s": (
                    traced_m["iter_cpu_s"] - plain_m["iter_cpu_s"], "s"),
            }
        )
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps(result))
    return 0


def layer_metrics(spans, jobs, tasks, traced, cores):
    """Per-layer metrics of the traced iterations, per iteration."""
    n_it = len(traced)
    roots = [sp for sp, _ in traced]
    in_run = set()
    for r in roots:
        in_run |= subtree_ids(spans, r.id)
    spans = [s for s in spans if s.id in in_run]
    # the program's work: op spans and below (output checks run outside them)
    op_names = {op.name for _, ops in traced for op in ops}
    in_ops = set()
    for s in spans:
        if s.name in op_names:
            in_ops |= subtree_ids(spans, s.id)
    own = attribute_jobs(jobs, spans)
    selft = self_times(spans)

    def named(name):
        return [s for s in spans if s.name == name]

    def total_s(name):
        return sum(s.dur for s in named(name)) / n_it

    def jobs_under(span):
        return [j for sid in subtree_ids(spans, span.id) for j in own[sid]]

    def job_count(name):
        return sum(len(jobs_under(s)) for s in named(name)) / n_it

    def job_union_s(name):
        return sum(
            union_length([(j.submit, j.end) for j in jobs_under(s)]) for s in named(name)
        ) / n_it

    ops = [op for _, its in traced for op in its]
    cops = [op for op in ops if op.kind in ("crawl", "site_crawl")]
    rounds = [st for op in cops for st in op.stats]
    small = [st.duration_sec for st in rounds if st.attempted < ROUND_SMALL]
    attempted = sum(st.attempted for st in rounds)
    success = sum(st.success or 0 for st in rounds)
    loop_s = total_s("crawl")
    crawl_jobs = job_count("crawl")
    crawl_job_s = job_union_s("crawl")

    def per_it(xs):
        return sum(xs) / n_it

    def op_median(kind):
        xs = [op.seconds for op in ops if op.kind == kind]
        return statistics.median(xs) if xs else 0.0

    m = {
        "crawl.loop_s": (loop_s, "s"),
        "crawl.self_s": (per_it(selft[s.id] for s in named("crawl")), "s"),
        "crawl.rounds": (len(rounds) / n_it, "count"),
        "crawl.jobs": (crawl_jobs, "count"),
        "crawl.jobs_per_round": (crawl_jobs * n_it / len(rounds) if rounds else 0.0, "count"),
        "crawl.round_floor_s": (statistics.median(small) if small else 0.0, "s"),
        "crawl.round_peak_s": (max((st.duration_sec for st in rounds), default=0.0), "s"),
        "crawl.job_s": (crawl_job_s, "s"),
        "crawl.driver_s": (loop_s - crawl_job_s, "s"),
        "crawl.attempted": (attempted / n_it, "count"),
        "crawl.admitted": (per_it(st.admitted for st in rounds), "count"),
        "crawl.deferred": (per_it(st.deferred for st in rounds), "count"),
        "crawl.fetch_hit_ratio": (success / attempted if attempted else 0.0, "ratio"),
        "spans.markdown_pass_s": (total_s("spans.markdown_pass"), "s"),
        "spans.markdown_jobs": (job_count("spans.markdown_pass"), "count"),
        "spans.markdown_bytes": (per_it(op.md_bytes for op in cops), "count"),
        "tables.append_s": (total_s("tables.append"), "s"),
        "tables.appends": (len(named("tables.append")) / n_it, "count"),
        "tables.append_jobs": (job_count("tables.append"), "count"),
        "tables.read_s": (total_s("tables.read"), "s"),
        "tables.files_written": (per_it(op.table_files for op in cops), "count"),
        "tables.bytes_written": (per_it(op.table_bytes for op in cops), "bytes"),
    }
    for name in (
        "seen.anti_join_seen",
        "sequence.with_global_seq",
        "politeness.schedule_round",
        "links.robots_allowed",
    ):
        m[f"{name}_s"] = (total_s(name), "s")
        m[f"{name}_jobs"] = (job_count(name), "count")
    for kind in ("site_crawl", "chunk", "convert"):
        m[f"api.{kind}_s"] = (op_median(kind), "s")
        m[f"api.{kind}_jobs"] = (job_count(f"op.{kind}"), "count")
    conv = [op for op in ops if op.kind == "convert"]
    m["converters.files_per_s"] = (
        sum(op.items for op in conv) / sum(op.seconds for op in conv) if conv else 0.0,
        "1/s",
    )
    for q in CURATE_QUERIES:
        m[f"curate.{q}.s"] = (total_s(f"curate.{q}"), "s")
        m[f"curate.{q}.jobs"] = (job_count(f"curate.{q}"), "count")

    run_jobs = [j for j in jobs if j.group in in_ops]
    run_job_ids = {j.id for j in run_jobs}
    run_tasks = [t for t in tasks if t["job"] in run_job_ids]
    wall = sum(op.seconds for op in ops)
    task_s = sum(t["run_s"] for t in run_tasks)
    m.update(
        {
            "spark.jobs": (len(run_jobs) / n_it, "count"),
            "spark.stages": (len({t["stage"] for t in run_tasks}) / n_it, "count"),
            "spark.tasks": (len(run_tasks) / n_it, "count"),
            "spark.task_s": (task_s / n_it, "s"),
            "spark.gc_s": (sum(t["gc_s"] for t in run_tasks) / n_it, "s"),
            "spark.shuffle_write_bytes": (
                sum(t["shuffle_write"] for t in run_tasks) / n_it, "bytes"),
            "spark.shuffle_read_bytes": (
                sum(t["shuffle_read"] for t in run_tasks) / n_it, "bytes"),
            "spark.busy_frac": (task_s / (wall * cores) if wall else 0.0, "ratio"),
        }
    )
    return m


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
