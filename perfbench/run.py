#!/usr/bin/env python3
"""Benchmark entry point for geokitten_spark.

    python3 perfbench/run.py --workload geo_tile --seed 1 --seconds 12 --trace 0

runs one workload in one Spark session (``local[k]``, a closed loop with
one client: jobs back to back) and prints, as the last line of stdout, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones (tracing off); with
``--trace 1`` they are the per-layer ones, read from spans recorded around
each call into the package and from Spark's own event log.  A readable
table and a JSON record (protocol, input shape, all values) go to
``.perfbench_out/``.  Exit code 0 only when every job ran and every output
check passed.

    python3 perfbench/run.py --compare OLD.json NEW.json

compares two records, and refuses when they ran on a different core
count, ``local[k]`` or Spark version.
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
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "session.driver_s": "s",
    "session.n_stages": "count",
    "session.n_tasks": "count",
    "session.executor_cpu_s": "s",
    "session.cpu_util": "ratio",
    "session.gc_s": "s",
    "session.task_skew": "ratio",
    "session.failed_tasks": "count",
    "functions.python_s": "s",
    "functions.arrow_bytes_sent": "B",
    "functions.arrow_bytes_returned": "B",
    "functions.extract_text_us_per_doc": "us",
    "cells.h3_encode_ns_per_pt": "ns",
    "cells.s2_encode_ns_per_pt": "ns",
    "geom.pip_ns_per_test": "ns",
    "operators.cover_build_s": "s",
    "operators.cover_rows": "count",
    "operators.refine_rows_in": "count",
    "operators.refine_hit_ratio": "ratio",
    "operators.shuffle_write_bytes": "B",
    "operators.shuffle_read_bytes": "B",
    "operators.spill_bytes": "B",
    "plans.snapshot_bytes": "B",
    "sources.geoparquet_bytes": "B",
    "viz.tiles_rendered": "count",
    "viz.render_ms_per_tile": "ms",
    "trace.docs_per_s": "docs/s",
    "trace.overhead": "ratio",
}
# counts of corpus_graph only, which BENCHMARK.json does not list: they go
# to the table and the record, not to the result line
TABLE_ONLY = ("operators.band_candidate_pairs", "operators.band_verify_ratio",
              "operators.knn_candidates_per_pt")
LAYERS = ("session", "functions", "cells", "geom", "operators", "plans", "sources", "viz")
# jobs kept getting faster, by up to 30%, over the first few runs of a
# session: run these untimed after the warm-up job, before the loop
EXTRA_WARMUP_JOBS = 1
MIN_JOBS = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4, help="k of local[k]; capped at nproc")
    p.add_argument("--compare", nargs=2, metavar=("OLD", "NEW"))
    return p.parse_args(argv)


def start_spark(k: int, work: str, trace: bool):
    """Start the session with every scratch path inside ``work``; returns
    (spark, seconds the start took)."""
    from geokitten_spark.session import get_spark

    confs = {
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -Xlog:disable"
        ),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{k}]", extra_confs=confs)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
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
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def run_loop(wl, seconds: float, tracer, trace: bool, rss) -> dict:
    """Closed loop: run ``wl.job()`` back to back for ``seconds``.  In a
    traced run every other job records spans, the rest run untraced."""
    walls, traced, errors, peaks = [], [], [], []
    deadline = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < deadline or len(walls) < MIN_JOBS or (trace and len(traced) < MIN_JOBS):
        record = trace and i % 2 == 1
        tracer.enabled = record
        rss.take_mb()
        t0 = time.perf_counter()
        try:
            wl.job()
        except Exception:  # a failed job counts in `failed`, the loop goes on
            errors.append(traceback.format_exc())
        else:
            (traced if record else walls).append(time.perf_counter() - t0)
            peaks.append(rss.take_mb())
        tracer.enabled = False
        wl.finish_job()
        i += 1
        if len(errors) > 2:
            break
    return {"walls": walls, "traced": traced, "errors": errors, "attempted": i, "peaks": peaks}


class JobStats:
    """Event-log view of the traced jobs, per job (totals / jobs)."""

    def __init__(self, log, tracer, roots):
        self.log, self.tracer, self.n = log, tracer, max(1, len(roots))
        self.g = log.group_stats({s.group for r in roots for s in tracer.subtree(r)})

    def input_rows(self, match) -> float:
        return self.log.input_rows(self.g, match) / self.n

    def node_metric(self, metric: str, match=lambda node: True) -> float:
        return self.log.node_metric(self.g, metric, match) / self.n

    def span_max_join_rows(self, name: str) -> float:
        """Median over spans called ``name`` of the largest join output."""
        from perfbench.tracing import OUTPUT_ROWS

        per_span = []
        for s in self.tracer.spans:
            if s.name != name:
                continue
            g = self.log.group_stats({s.group})
            nodes = self.log.nodes
            per_span.append(max(
                (v for aid, v in g.accums.items()
                 if nodes[aid][1] == OUTPUT_ROWS and "Join" in nodes[aid][0].name),
                default=0.0,
            ))
        return statistics.median(per_span) if per_span else 0.0


def layer_split(log, tracer, roots, k: int, udf_layers: dict) -> list[dict]:
    """Per traced job: its wall, the parts of every span, the seconds the
    clamps dropped, and whether the measured parts account for the wall
    (see ``tracing.closes``)."""
    from perfbench.tracing import closes, residual_s, self_time, span_parts

    jobs = []
    for root in roots:
        parts, spans, clamped = {}, {}, 0.0
        for s in tracer.subtree(root):
            wall = self_time(s, tracer.children(s))
            p, c = span_parts(s, wall, log.group_stats({s.group}), log, k, udf_layers)
            clamped += c
            for name, v in p.items():
                parts[name] = parts.get(name, 0.0) + v
            spans[s.name] = spans.get(s.name, 0.0) + s.wall
        g = log.group_stats({s.group for s in tracer.subtree(root)})
        jobs.append({
            "wall": root.wall, "parts": parts, "spans": spans, "stats": g, "clamped_s": clamped,
            "residual_s": residual_s(parts), "closes": closes(parts, clamped, root.wall),
        })
    return jobs


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector so far.  The
    executors share the driver JVM in local mode, so this covers task and
    driver GC alike."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def per_layer_metrics(jobs, stats, wl, k, probe_values, start_s, walls, traced, gc_s) -> dict:
    from perfbench.tracing import ARROW_RETURNED, ARROW_SENT, PYTHON_TIME

    def med(fn):
        return statistics.median([fn(j) for j in jobs]) if jobs else 0.0

    m = {name: 0.0 for name in (*PER_LAYER, *TABLE_ONLY)}
    m.update({
        "session.start_s": start_s,
        "session.driver_s": med(lambda j: j["parts"].get("session.driver", 0.0)),
        "session.n_stages": med(lambda j: j["stats"].n_stages),
        "session.n_tasks": med(lambda j: j["stats"].n_tasks),
        "session.executor_cpu_s": med(lambda j: j["stats"].cpu_s),
        "session.cpu_util": med(lambda j: j["stats"].cpu_s / (j["wall"] * k)),
        "session.gc_s": gc_s,
        "session.task_skew": med(lambda j: j["stats"].task_skew),
        "session.failed_tasks": med(lambda j: j["stats"].failed_tasks),
        "functions.python_s": stats.node_metric(PYTHON_TIME) / 1e3,
        "functions.arrow_bytes_sent": stats.node_metric(ARROW_SENT),
        "functions.arrow_bytes_returned": stats.node_metric(ARROW_RETURNED),
        "operators.cover_build_s": wl.cover_build_s,
        "operators.shuffle_write_bytes": med(lambda j: j["stats"].shuffle_write_bytes),
        "operators.shuffle_read_bytes": med(lambda j: j["stats"].shuffle_read_bytes),
        "operators.spill_bytes": med(lambda j: j["stats"].spill_bytes),
        "trace.docs_per_s": wl.n_docs / statistics.median(traced),
        "trace.overhead": 1.0 - statistics.median(walls) / statistics.median(traced),
    })
    m.update(probe_values)
    m.update(wl.counters(stats))
    return m


def layer_table(jobs) -> list[str]:
    """Readable per-layer split of the median traced job."""
    if not jobs:
        return ["(no traced job)"]
    wall = statistics.median(j["wall"] for j in jobs)
    lines = [f"per-layer split, median of {len(jobs)} traced jobs, job wall {wall:.3f} s",
             f"  {'layer':<10} {'self s':>9} {'share':>7}  parts"]
    for layer in LAYERS:
        names = sorted({n for j in jobs for n in j["parts"] if n.split(".")[0] == layer})
        if not names:
            continue
        per = {n: statistics.median(j["parts"].get(n, 0.0) for j in jobs) for n in names}
        total = sum(per.values())
        detail = ", ".join(f"{n.split('.', 1)[1]} {v:.3f}" for n, v in per.items())
        lines.append(f"  {layer:<10} {total:9.3f} {total / wall:7.1%}  {detail}")
    lines.append("  spans (median wall s): " + ", ".join(
        f"{n} {statistics.median(j['spans'].get(n, 0.0) for j in jobs):.3f}"
        for n in jobs[0]["spans"]))
    share = lambda fn: statistics.median(fn(j) / j["wall"] for j in jobs)  # noqa: E731
    idle = lambda j: j["parts"].get("session.idle", 0.0)  # noqa: E731
    n_closed = sum(j["closes"] for j in jobs)
    lines.append(
        f"  remainders, median share of the job wall: idle slots {share(idle):.1%}, wait "
        f"{share(lambda j: j['residual_s'] - idle(j)):.1%}, clamped {share(lambda j: j['clamped_s']):.1%}"
    )
    lines.append(f"  measured parts account for the wall within 10%: {n_closed}/{len(jobs)} jobs")
    return lines


def compare(old_path: str, new_path: str) -> int:
    from perfbench.protocol import comparable

    with open(old_path) as f:
        old = json.load(f)
    with open(new_path) as f:
        new = json.load(f)
    ok, why = comparable(old, new)
    if not ok:
        print(f"refusing to compare: {why}", file=sys.stderr)
        return 3
    for name, rec in new["metrics"].items():
        if name in old["metrics"] and old["metrics"][name]["value"]:
            ratio = rec["value"] / old["metrics"][name]["value"]
            print(f"{name:<40} {old['metrics'][name]['value']:>14.6g} -> {rec['value']:>14.6g}  x{ratio:.3f}")
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.compare:
        sys.path.insert(0, ROOT)
        return compare(*args.compare)
    if not os.path.isfile(os.path.join(ROOT, "geokitten_spark", "__init__.py")):
        print(f"geokitten_spark not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    k = max(1, min(args.cores, os.cpu_count() or 1))
    run_id = uuid.uuid4().hex[:8]
    work = os.path.join(WORK_DIR, f"{args.workload}-{args.seed}-{run_id}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT_DIR, exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_CPUS": str(k),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    try:
        return run_workload(args, k, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_workload(args, k: int, run_id: str, work: str) -> int:
    """Set up, time, check and report one workload (see the module docstring)."""
    from perfbench import probes, protocol
    from perfbench.inputs import polygons
    from perfbench.tracing import EventLog, Tracer
    from perfbench.workloads import WORKLOADS

    control0, ticks0 = protocol.cpu_control_sec(), protocol.cpu_ticks()
    trace = bool(args.trace)
    spark = None
    try:
        with protocol.PeakRss() as rss:
            t_setup = time.perf_counter()
            spark, start_s = start_spark(k, work, trace)
            tracer = Tracer(spark, run_id, enabled=False)
            wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
            t0 = time.perf_counter()
            wl.build()
            build_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.job()  # warm-up: Python worker spawn, imports, codegen
            wl.finish_job()
            warm_s = time.perf_counter() - t0
            setup_s = time.perf_counter() - t_setup
            roots_before = len(tracer.spans)
            t0 = time.perf_counter()
            for _ in range(EXTRA_WARMUP_JOBS):
                wl.job()
                wl.finish_job()
            extra_warm_s = time.perf_counter() - t0
            gc0 = jvm_gc_s(spark)
            loop = run_loop(wl, args.seconds, tracer, trace, rss)
            gc_per_job = (jvm_gc_s(spark) - gc0) / loop["attempted"]
        errors = loop["errors"]
        if not loop["walls"] or (trace and not loop["traced"]):
            # every job of a kind failed: nothing to measure or check
            return report_failure(errors, loop["attempted"])
        failed = len(errors)
        t0 = time.perf_counter()
        tracer.enabled = trace  # records the resumed rerun of checkpoint_sink
        try:
            check_errors = wl.check()
        except Exception:
            return report_failure(errors + [traceback.format_exc()], loop["attempted"] + 1)
        tracer.enabled = False
        check_s = time.perf_counter() - t0
        if check_errors:
            failed += 1
            errors.extend(check_errors)
        attempted = loop["attempted"] + 1
        probe_values = {}
        if trace:
            polys = polygons(args.seed)
            probe_values = probes.run(args.seed, inputs_html(spark, args.seed), polys)
            if wl.cover_build_s is None:
                wl.build_cover(polys)
    finally:
        if spark is not None:
            stop_spark(spark)
    proto = protocol.record(ROOT, k, control0, ticks0)
    walls = loop["walls"]
    rec = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "seconds": args.seconds,
        "protocol": proto, "shape": wl.input_shape, "job_walls": walls, "traced_walls": loop["traced"],
        "job_peak_rss_mb": loop["peaks"],
        "setup": {"start_s": start_s, "build_s": build_s, "warm_s": warm_s, "setup_s": setup_s,
                  "extra_warm_s": extra_warm_s},
        "check_s": check_s,
        "errors": errors,
    }
    lines = [f"{args.workload} seed={args.seed} local[{k}] nproc={proto['nproc']} "
             f"pyspark={proto['pyspark']} cpu_control_sec={proto['cpu_control_sec']} "
             f"steal%={proto['steal_pct']}",
             f"input: {json.dumps(wl.input_shape)}"]
    if trace:
        log = EventLog.find(os.path.join(work, "eventlog"))
        roots = [s for s in tracer.spans[roots_before:] if s.name == "session.job"]
        jobs = layer_split(log, tracer, roots, k, wl.udf_layers)
        stats = JobStats(log, tracer, roots)
        values = per_layer_metrics(
            jobs, stats, wl, k, probe_values, start_s, walls, loop["traced"], gc_per_job
        )
        units = PER_LAYER
        unattributed = log.unattributed_stage_s(
            {s.group for s in tracer.spans}, [(r.start, r.end) for r in roots]
        )
        lines += layer_table(jobs)
        lines += [f"  resumed rerun: {s.name} {s.wall:.3f} s, " + ", ".join(
            f"{c.name} {c.wall:.3f} s" for c in tracer.children(s))
            for s in tracer.spans if s.name == "session.resume"]
        lines.append(f"  stage time outside every span: {unattributed:.3f} s")
        lines.append("  " + ", ".join(f"{n} {values[n]:.4g}" for n in TABLE_ONLY))
        lines.append(
            f"tracing overhead: {values['trace.overhead']:.1%} "
            f"(untraced {wl.n_docs / statistics.median(walls):.0f} docs/s over {len(walls)} jobs, "
            f"traced {values['trace.docs_per_s']:.0f} docs/s over {len(loop['traced'])} jobs)"
        )
        tracer.dump(os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-{run_id}-spans.json"))
        rec["jobs"] = [{k2: v for k2, v in j.items() if k2 != "stats"} for j in jobs]
        rec["table_only"] = {n: values[n] for n in TABLE_ONLY}
    else:
        values = {
            "docs_per_s": wl.n_docs / statistics.median(walls),
            "setup_s": setup_s,
            "peak_rss_mb": statistics.median(loop["peaks"]),
        }
        units = END_TO_END
        extra = {"failed_frac": failed / attempted, "jobs": len(walls),
                 "job_median_s": statistics.median(walls), "job_max_s": max(walls)}
        if hasattr(wl, "resume_s"):
            extra["resume_s"] = wl.resume_s
            extra["write_bytes_per_doc"] = wl.write_bytes() / wl.n_docs
        rec["extra"] = extra
        lines += [f"  {n:<22} {v:14.4f} {units[n]}" for n, v in values.items()]
        lines += [f"  {n:<22} {v:14.4f}" for n, v in extra.items()]
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in units.items()}
    rec["metrics"] = metrics
    with open(os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}.json"), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    for e in errors:
        print(f"FAILED: {e}", file=sys.stderr)
    print("\n".join(lines))
    correct = not check_errors
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct and failed == 0 else 1


def report_failure(errors: list[str], attempted: int) -> int:
    """Result line of a run with nothing to measure: every attempt failed."""
    for e in errors:
        print(f"FAILED: {e}", file=sys.stderr)
    print(json.dumps({"correct": False, "attempted": attempted, "failed": attempted, "metrics": {}}))
    return 1


def inputs_html(spark, seed: int, n: int = 2000):
    """A seeded sample of page html as a pandas Series, for the probes."""
    from perfbench.inputs import pages

    return pages(spark, seed, n).select("html").toPandas()["html"]


if __name__ == "__main__":
    sys.exit(main())
