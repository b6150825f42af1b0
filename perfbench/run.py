"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload {dedup,catalog} --seed N \\
        --seconds S --trace {0,1} [--tier {default,tiny}]

Run from the root of a checkout.  The workload runs in this one Python
process on ``local[<cores>]`` (every core this process may use) as a
closed loop with a single caller: each call into the program starts
when the previous one has returned.  Load enters only through public
entry points: ``pipeline.run``, ``IncrementalDedup.process_batch`` and
``QUERIES[name]``.  See ``workloads.py`` for what the warm-up and a
timed pass of each workload do and how their outputs are checked.

A run builds the session, runs the workload's untimed warm-up (the JVM,
its code generation and the Python workers reach a steady state there;
the first work in a fresh JVM costs about twice a settled pass), then
runs ``max(2, round(seconds / PASS_S))`` timed passes, where
``PASS_S`` is set per workload from its settled pass time on 4 cores:
two for dedup and four for catalog at ``--seconds 16``.  The count does not
depend on how fast the host runs: passes keep getting faster for
several passes after the warm-up, so a count that grew on a fast host
would move the median.  Set-up is the session build plus the
warm-up.  Every pass's outputs, the warm-up's included, are checked.

The last line on stdout is one JSON object: ``correct``, ``attempted``
and ``failed`` operations (a ``pipeline.run``, a ``process_batch`` or a
query; it fails if it raises or fails its check) and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0`` (the median
timed pass, and set-up), its per-layer metrics with ``--trace 1``.  A
traced run sets a Spark job group around every call into a layer and
reads the work each group did back from Spark's status store
(``trace.py``); per-layer figures are medians over the timed passes,
except ``stream.*``, which come from the dedup warm-up.  Metrics a
workload does not exercise read 0 in its traced runs.  The figures each
workload's users see (cold run, resume, per-batch and per-query times,
recall) are printed to stderr with their sample counts.

The exit code is 0 only when every check passed.  Generated inputs are
cached under ``.perfbench_work/inputs``; everything else a run writes,
Spark's temporary files included, goes to a per-run directory under
``.perfbench_work`` that is deleted at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_PASSES = 2   # timed passes per run, whatever --seconds says


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def declared_metrics() -> dict[str, dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


# --- per-layer figures ------------------------------------------------------

def stream_layers(wl, warm, tracer, cores: int) -> dict[str, float]:
    """The dedup warm-up: the stream leg, in a fresh JVM."""
    from perfbench.trace import sum_totals

    spans = [s for s in tracer.spans if s.name.startswith("stream:")]
    totals = tracer.totals(spans)
    batches = [s for s in spans if s.name.startswith("stream:batch")]
    batch_s = sum(s.seconds for s in batches)
    st = sum_totals(totals, spans)
    return {
        "stream.batch_s": median([s.seconds for s in batches]),
        "stream.compact_s": sum(s.seconds for s in spans if s.name == "stream:compact"),
        "stream.state_bytes": wl.last["stream_state_bytes"],
        "stream.state_files": wl.last["stream_state_files"],
        "stream.jobs_per_batch": st.jobs / len(batches),
        "stream.shuffle_bytes": st.shuffle_bytes,
        "stream.python_bytes": st.python_bytes,
        "stream.cpu_util": st.run_ms / 1000 / (batch_s * cores) if batch_s else 0.0,
        "stream.pass_s": warm.wall_s,
        "stream.span_share": batch_s / warm.wall_s,
    }


def dedup_layers(wl, p, tracer, cores: int) -> dict[str, float]:
    """One timed dedup pass: the stage chain and its storage."""
    from codedup.pipeline import STAGES

    spans = tracer.spans
    totals = tracer.totals(spans)
    by_name = {s.name: s for s in spans}
    out: dict[str, float] = {}

    def group_of(name):
        return totals[by_name[name].group] if name in by_name else None

    rows = wl.last.get("stage_rows", {})
    for st in STAGES:
        out[f"stage.{st}.s"] = by_name[f"write:{st}"].seconds if f"write:{st}" in by_name else 0.0
        out[f"stage.{st}.rows"] = rows.get(st, 0)
    for st in ("signatures", "candidates", "verified", "clusters"):
        t = group_of(f"write:{st}")
        out[f"stage.{st}.shuffle_bytes"] = t.shuffle_bytes if t else 0
    for st in ("signatures", "verified"):
        t = group_of(f"write:{st}")
        out[f"stage.{st}.python_bytes"] = t.python_bytes if t else 0
    for st in ("candidates", "verified"):
        t = group_of(f"write:{st}")
        out[f"stage.{st}.task_skew"] = t.task_skew if t else 0.0
        out[f"stage.{st}.spill_bytes"] = t.spill_bytes if t else 0
    out["verify.accept_ratio"] = (rows.get("verified", 0) / rows["candidates"]
                                  if rows.get("candidates") else 0.0)
    out["stage.verified.fault_rows"] = p.values.get("fault_rows", 0)

    batch_s = median(p.ops.get("batch", []))
    cold = [s for s in spans if s.name.startswith("write:") or s.name == "tail:cold"]
    stage_sum = sum(s.seconds for s in spans if s.name.startswith("write:"))
    run_ms = sum(totals[s.group].run_ms for s in cold)
    out["pipeline.spark_jobs"] = sum(totals[s.group].jobs for s in cold)
    out["pipeline.cpu_util"] = run_ms / 1000 / (batch_s * cores) if batch_s else 0.0
    out["pipeline.other_s"] = batch_s - stage_sum
    out["pipeline.span_share"] = stage_sum / batch_s if batch_s else 0.0
    out["pipeline.batch_s"] = batch_s
    out["pipeline.recall"] = p.values.get("recall", 0.0)
    out["pipeline.precision"] = p.values.get("precision", 0.0)
    out["storage.bytes_written"] = wl.last.get("storage_bytes", 0)
    out["storage.write_amp"] = out["storage.bytes_written"] / (wl.input_mb * 1e6)
    if "resume" in p.ops:   # the one pass that resumed its job
        out["pipeline.resume_s"] = p.ops["resume"][0]
        out["storage.read_s"] = sum(s.seconds for s in spans if s.name.startswith("read:"))
        out["storage.is_complete_s"] = sum(s.seconds for s in spans
                                           if s.name.startswith("is_complete:"))
    return out


def catalog_layers(wl, p, tracer, cores: int) -> dict[str, float]:
    from perfbench.trace import sum_totals
    from perfbench.workloads import CATALOG_TIERS

    spans = [s for s in tracer.spans if s.name.startswith("query:")]
    totals = tracer.totals(spans)
    t = sum_totals(totals, spans)
    per_q = {s.name[len("query:"):]: s.seconds for s in spans}
    span_s = sum(per_q.values())
    out = {f"catalog.{q}.s": per_q.get(q, 0.0) for q in CATALOG_TIERS["default"]}
    out["catalog.shuffle_bytes"] = t.shuffle_bytes
    out["catalog.python_bytes"] = t.python_bytes
    out["catalog.spark_jobs"] = t.jobs
    out["catalog.cpu_util"] = t.run_ms / 1000 / (span_s * cores) if span_s else 0.0
    out["catalog.pass_s"] = p.wall_s
    out["catalog.span_share"] = span_s / p.wall_s if p.wall_s else 0.0
    return out


# --- the run ---------------------------------------------------------------

def settle(spark) -> None:
    """Free what earlier passes left behind before the next one starts:
    collecting the Python proxies and then the JVM heap lets Spark's
    context cleaner drop the shuffle files, broadcasts and checkpointed
    blocks those passes no longer reference."""
    gc.collect()
    spark._jvm.java.lang.System.gc()
    time.sleep(0.25)


def report_pass(label: str, p) -> None:
    ops = ", ".join(f"{k} {sum(v):.4g}" for k, v in p.ops.items())
    print(f"# {label}: {p.wall_s:.4g} s ({ops})", file=sys.stderr)
    for e in p.errors:
        print(f"# FAILED: {e}", file=sys.stderr)


def summarize(workload: str, warm, passes, session_s: float, setup_s: float) -> None:
    """The figures each workload's users see, with sample counts."""
    def line(name, xs, unit):
        if xs:
            print(f"# {name}: median {median(xs):.4g} {unit}, max {max(xs):.4g} {unit}, "
                  f"n={len(xs)}", file=sys.stderr)

    ops: dict[str, list[float]] = {}
    values: dict[str, list[float]] = {}
    for p in passes:
        for k, v in p.ops.items():
            ops.setdefault(k, []).extend(v)
        for k, v in p.values.items():
            values.setdefault(k, []).append(v)
    print(f"# {workload}: setup {setup_s:.4g} s (session {session_s:.4g} s, warm-up "
          f"{warm.wall_s:.4g} s), {len(passes)} timed pass(es)", file=sys.stderr)
    line("pass_s", [p.wall_s for p in passes], "s")
    if workload == "dedup":
        line("batch_s (cold pipeline.run)", ops.get("batch"), "s")
        line("resume_s (resumed pipeline.run)", ops.get("resume"), "s")
        line("recall", values.get("recall"), "")
        line("precision", values.get("precision"), "")
        line("warm-up stream_batch_s (process_batch)", warm.ops.get("stream_batch"), "s")
        line("warm-up stream leg", [warm.wall_s], "s")
        line("stream sha256 pairs", values.get("stream_pairs"), "")
        line("stream sha256 pairs not in the batch run (star regime)",
             values.get("stream_pairs_not_in_batch"), "")
    else:
        for q, xs in ops.items():
            line(f"catalog.{q}", xs, "s")


def run(args) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import Catalog, Dedup, bench_session, make_dedup_inputs

    cores = len(os.sched_getaffinity(0))
    inputs = None
    if args.workload == "dedup":   # generation stays outside every timed region
        inputs = make_dedup_inputs(os.path.join(WORK, "inputs"), args.seed, args.tier)

    t0 = time.perf_counter()
    spark = bench_session(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.workload == "dedup":
            wl = Dedup(spark, tracer, inputs, args.run_dir, args.tier)
        else:
            wl = Catalog(spark, tracer, args.tier)
        warm = wl.warm_up()
        setup_s = time.perf_counter() - t0
        report_pass("warm-up", warm)
        if args.trace and args.workload == "dedup":
            stream = stream_layers(wl, warm, tracer, cores)

        passes, layers = [], []
        n_passes = max(MIN_PASSES, round(args.seconds / wl.PASS_S))
        while len(passes) < n_passes:
            settle(spark)
            tracer.reset()
            p = wl.run_pass()
            passes.append(p)
            report_pass(f"pass {len(passes)}", p)
            if args.trace:
                fn = dedup_layers if args.workload == "dedup" else catalog_layers
                layers.append(fn(wl, p, tracer, cores))
                if len(passes) == 1 and args.workload == "dedup":
                    layers[0].update(stream)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
    finally:
        stop_spark(spark)

    summarize(args.workload, warm, passes, session_s, setup_s)
    if args.workload == "dedup":
        print(f"# stage_rows {json.dumps(wl.last.get('stage_rows', {}), sort_keys=True)}",
              file=sys.stderr)
    attempted = sum(p.attempted for p in [warm, *passes])
    failed = sum(p.failed for p in [warm, *passes])
    declared = declared_metrics()
    if args.trace:
        kind = "per_layer"
        metrics = {k: median([lay[k] for lay in layers if k in lay])
                   for k in set().union(*layers)}
        metrics["session.start_s"] = session_s
        metrics["session.warmup_s"] = warm.wall_s
        metrics["session.peak_rss_mb"] = peak_rss_mb
        metrics["trace.pass_s"] = median([p.wall_s for p in passes])
    else:
        kind = "end_to_end"
        metrics = {"setup_s": setup_s, "pass_s": median([p.wall_s for p in passes])}
    undeclared = set(metrics) - set(declared[kind])
    if undeclared:
        raise SystemExit(f"error: {sorted(undeclared)} are not {kind} metrics of BENCHMARK.json")
    if kind == "end_to_end" and set(metrics) != set(declared[kind]):
        raise SystemExit("error: BENCHMARK.json declares end-to-end metrics this run lacks")
    # a per-layer metric of a layer this workload does not exercise reads 0
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0), "unit": u}
                    for k, u in declared[kind].items()},
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["dedup", "catalog"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tier", choices=["default", "tiny"], default="default",
                    help="input size; tiny is for the benchmark's own smoke test")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "codedup", "pipeline.py")):
        print(f"error: the codedup package is missing from {ROOT}", file=sys.stderr)
        return 2

    args.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(args.run_dir, "tmp")
    os.makedirs(tmp)
    # Spark's scratch space, Python's and the JVM's temporary files and
    # the warehouse dir all stay inside the checkout (without perf data
    # the JVM writes nothing to /tmp); workers import codedup from it
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
                    "-XX:-UsePerfData") if o)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the cross-session pair spill would serve MinHash queries from disk
    os.environ["CODEDUP_QUERY_CACHE"] = "off"
    sys.path.insert(0, ROOT)
    try:
        result = run(args)
    finally:
        shutil.rmtree(args.run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
