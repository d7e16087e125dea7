"""Seeded benchmark of the engine: MERGE ingest, Cypher reads, graph
analytics and LLM-data curation.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 3 --trace 0

Run from the repository root. ``--workload all`` runs ingest, cypher_read and
batch in turn; ``analytics`` and ``curation`` run the two halves of batch.
With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer ones (see ``perfbench/metrics.py``). The
line before it (``REPORT {...}``) holds every named metric with its unit,
the input sizes, CPU steal and the errors of wrong or failed operations.
Scratch files live in ``.perfbench_work/`` and are removed at exit; traced
runs leave their spans in ``.perfbench_out/``."""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        # the status store must keep every job and stage of a span until
        # the span reads them (an SCC call alone runs ~1000 stages)
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # for spark-submit's launcher JVM as well as the driver JVM: no
        # hsperfdata files in /tmp, temp files under ``work``
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in args) + " pyspark-shell",
    })
    import tempfile

    tempfile.tempdir = tmp


def med(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tr, cpus: int, gc_s: float) -> dict:
    """Per-layer metrics from the measured spans (the setup spans for the
    session and the store bulk load); 0 where the layer was not called."""
    from metrics import ALGORITHMS, CURATION, PER_LAYER

    out = dict.fromkeys(PER_LAYER, 0.0)
    meas = [s for s in tr.spans if s["phase"] == "measure"]
    out["session.get_spark_s"] = med([s["dur_s"] for s in tr.named("session.get_spark")])

    batches = [s for s in tr.spans if "bytes_written" in s]
    if batches:
        kids = [tr.children(b) for b in batches]
        out["writer.merge_nodes_s"] = med([sum(k["dur_s"] for k in ks if k["name"] == "writer.merge_nodes") for ks in kids])
        out["writer.merge_edges_s"] = med([sum(k["dur_s"] for k in ks if k["name"] == "writer.merge_edges") for ks in kids])
        out["writer.jobs_per_batch"] = med([sum(k["jobs"] for k in ks) for ks in kids])
        out["writer.task_s_per_batch"] = med([sum(k["task_s"] for k in ks) for ks in kids])
        out["writer.files_written_per_batch"] = med([b["files_written"] for b in batches])
        out["writer.bytes_written_per_batch"] = med([b["bytes_written"] for b in batches])
        out["writer.write_amp"] = med([b["bytes_written"] / b["input_bytes"] for b in batches])

    stmts = [s for s in meas if s["name"] in ("read.stmt", "ingest.read")]
    if stmts:
        steps = [{k["name"].split(".")[1]: k for k in tr.children(s)} for s in stmts]
        steps = [st for st in steps if len(st) == 3]  # statements that raised are left out
        for step in ("compile", "plan", "exec"):
            out[f"cypher_text.{step}_s"] = med([st[step]["dur_s"] for st in steps])
        out["cypher_text.compile_jobs"] = med([st["compile"]["jobs"] for st in steps])
        out["cypher_text.jobs_per_stmt"] = med([sum(k["jobs"] for k in st.values()) for st in steps])
        out["cypher_text.tasks_per_stmt"] = med([sum(k["tasks"] for k in st.values()) for st in steps])

    for short in ALGORITHMS:
        calls = [s for s in meas if s["name"] == f"algorithms.{short}"]
        if calls:
            for f in ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
                out[f"algorithms.{short}.{f}"] = med([c[f] for c in calls])
            out[f"algorithms.{short}.utilization"] = med(
                [c["task_s"] / (c["dur_s"] * cpus) for c in calls])

    for prefix in CURATION:
        calls = [s for s in meas if s["name"] == prefix]
        if calls:
            out[f"{prefix}_s"] = med([c["dur_s"] for c in calls])
            out[f"{prefix}.tasks"] = med([c["tasks"] for c in calls])
            out[f"{prefix}.task_s"] = med([c["task_s"] for c in calls])
            out[f"{prefix}.shuffle_bytes"] = med(
                [c["shuffle_read_bytes"] + c["shuffle_write_bytes"] for c in calls])
            if prefix.startswith("multimodal."):
                out["multimodal.task_s_per_row"] = med(
                    [c["task_s"] / c["rows"] for c in calls if c["rows"]])

    out["host.steal_share"] = tr.steal_share("measure")
    out["host.cpus"] = cpus
    out["jvm.gc_s"] = gc_s
    return out


def run_workload(name: str, args, work: str, cpus: int) -> dict:
    """Set up ``SETUPS`` times, warm up, measure; return the result record."""
    import tracing
    from metrics import END_TO_END, PER_LAYER
    from workloads import WORKLOADS, Ctx, deadline_loop

    tr = tracing.Tracer(bool(args.trace), f"{name}-{args.seed}-{os.getpid()}")
    ctx = Ctx(args.seed, args.seconds, tr, os.path.join(work, name))
    wl = WORKLOADS[name](ctx)
    setups, phases = [], {"start": time.perf_counter()}
    with tr.timed_region("setup"):
        for _ in range(wl.SETUPS):
            ctx.stop_session()
            t0 = time.perf_counter()
            ctx.new_session()
            wl.setup()
            setups.append(time.perf_counter() - t0)
    phases["setup"] = time.perf_counter()
    tr.phase = "warmup"
    wl.warmup()
    phases["warmup"] = time.perf_counter()
    tr.phase = "measure"
    gc0 = tracing.jvm_gc_s(ctx.spark)
    with tr.timed_region("measure"):
        deadline_loop(ctx, wl)
    gc_s = tracing.jvm_gc_s(ctx.spark) - gc0
    phases["measure"] = time.perf_counter()
    tr.phase = "finish"
    samples, items = wl.finish()
    phases["finish"] = time.perf_counter()
    rss = tracing.vm_hwm_mb(tracing.jvm_pid(ctx.spark)) + tracing.vm_hwm_mb()

    e2e = {
        "setup_s": med(setups),
        "op_p50_s": med(samples),
        "items_per_s": items / sum(samples) if samples else 0.0,
    }
    report = {
        "workload": name, "seed": args.seed, "trace": args.trace, "seconds": args.seconds,
        "attempted": ctx.attempted, "failed": ctx.failed,
        "failed_share": ctx.failed / max(ctx.attempted, 1),
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in e2e.items()},
        "named": {**ctx.named, "peak_rss_mb": {"value": rss, "unit": "MB"}},
        "setup_samples_s": setups,
        "phase_wall_s": {k: phases[k] - phases[p] for p, k in zip(phases, list(phases)[1:])},
        "op_samples_s": samples,
        "host": {"cpus": cpus, "steal_share_measure": tr.steal_share("measure"),
                 "steal_share_setup": tr.steal_share("setup"), "jvm_gc_s": gc_s},
        "inputs": ctx.sizes,
        "errors": ctx.errors[:5],
    }
    if args.trace:
        layers = layer_metrics(tr, cpus, gc_s)
        report["per_layer"] = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in layers.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tr.write(os.path.join(out_dir, f"spans-{name}-{args.seed}.json"))
        metrics = report["per_layer"]
    else:
        metrics = report["end_to_end"]
    ctx.stop_session()
    return {"report": report, "metrics": metrics,
            "correct": ctx.failed == 0 and ctx.attempted > 0 and bool(samples)}


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and every process it started (the Python
    worker daemon and its workers), and wait for each to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    family = descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    end = time.time() + 15
    for pid in family:
        while os.path.exists(f"/proc/{pid}") and time.time() < end:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "neo4j_graphdb_spark")):
        print(f"engine package neo4j_graphdb_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    prepare_env(work, cpus)
    from workloads import BENCHMARKED

    names = list(BENCHMARKED) if args.workload == "all" else [args.workload]
    results = {}
    try:
        for name in names:
            results[name] = run_workload(name, args, work, cpus)
            print("REPORT " + json.dumps(results[name]["report"], default=float), flush=True)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    if len(names) == 1:
        metrics = results[names[0]]["metrics"]
    else:
        metrics = {f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["report"]["attempted"] for r in results.values()),
        "failed": sum(r["report"]["failed"] for r in results.values()),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
