#!/usr/bin/env python3
"""CDC benchmark: one workload, one JSON result line.

    python3 cdcbench/run.py --workload bulk_backfill --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. With ``--trace 0`` the last stdout line
carries every end-to-end metric of BENCHMARK.json; with ``--trace 1`` it
carries every per-layer metric (spans around each layer call, task metrics
from the event log). The line before it is a ``{"detail": ...}`` record: host,
every raw sample, phase wall times, errors.
All scratch data lives under ``.cdcbench_work/`` and is removed at exit;
traced runs keep their spans under ``.cdcbench_out/``.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".cdcbench_work")
OUT = os.path.join(ROOT, ".cdcbench_out")


# ---------------- statistics ----------------
def p50(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


# ---------------- host and session ----------------
def host_block() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    import pyspark
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "heap_mb": mem_kb // 2048, "pyspark": pyspark.__version__,
            "python": sys.version.split()[0]}


def start_session(host: dict, trace: bool, event_dir: str):
    """local[nproc], heap = half of MemTotal pinned with -Xms; every
    scratch path inside the checkout. The young generation is pinned to
    half the heap: G1 otherwise shrinks it on runs its pause goal finds
    slow, and peak RSS then varied by a quarter between runs."""
    heap = f"{host['heap_mb']}m"
    tmp = os.path.join(WORK, "tmp")
    jvm_tmp = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        SPARK_DRIVER_MEM=heap,
        SPARK_DRIVER_JAVA_OPTS=f"-Xms{heap} -Xmn{host['heap_mb'] // 2}m {jvm_tmp}",
        SPARK_LAUNCHER_OPTS=jvm_tmp,  # the JVM spark-submit runs first
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if trace:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    from nifi_spark.session import get_spark
    spark = get_spark("cdcbench", parallelism=host["nproc"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return spark


def jvm_proc():
    from pyspark import SparkContext
    return getattr(SparkContext._gateway, "proc", None)


def peak_rss_mb(proc) -> float:
    with open(f"/proc/{proc.pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def stop_session(spark, proc) -> None:
    """Stop Spark, then the gateway JVM (it exits when its stdin closes)."""
    from pyspark import SparkContext
    try:
        spark.stop()
    finally:
        SparkContext._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ---------------- metrics ----------------
def end_to_end(wl, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    s = wl.s
    vals = {"setup_s": setup_s,
            "apply_events_per_s": s.events / s.apply_s if s.apply_s else None,
            "resume_s_p50": p50(s.resume_s), "peak_rss_mb": rss_mb}
    for m in ("batch_s", "lag_s", "read_s"):
        vals[f"{m}_p50"] = p50(getattr(s, m))
    samples = {m: [round(x, 4) for x in getattr(s, m)]
               for m in ("batch_s", "lag_s", "read_s", "resume_s")}
    return vals, {"samples": samples,
                  "sample_counts": {m: len(xs) for m, xs in samples.items()}}


def per_layer(wl, tracer, folded: dict, extras: dict) -> dict:
    from spans import self_time
    spans = tracer.measured()
    by_parent: dict = {}
    for sp in spans:
        by_parent.setdefault(sp["parent"], []).append(sp)

    def named(name):
        return [sp for sp in spans if sp["name"] == name]

    def dur(ss):
        return sum(sp["end"] - sp["start"] for sp in ss)

    def jobs(ss):
        return sum(len(sp["jobs"]) for sp in ss)

    def task(ss, key):
        return sum(folded.get(sp["id"], {}).get(key, 0) for sp in ss)

    m = {}
    merge = named("storage.merge")
    m.update({"storage.merge.calls": len(merge), "storage.merge.s": dur(merge),
              "storage.merge.jobs": jobs(merge)})
    for key in ("task_s", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes", "gc_s", "output_bytes"):
        m[f"storage.merge.{key}"] = task(merge, key)
    m["storage.write_amp"] = (m["storage.merge.output_bytes"] / extras["change_bytes"]
                              if extras["change_bytes"] else 0.0)
    for key in ("table_bytes", "table_files", "manifest_bytes"):
        m[f"storage.{key}"] = extras[key]
    reads = named("storage.read")
    m.update({"storage.read.s": dur(reads),
              "storage.read.input_bytes": task(reads, "input_bytes"),
              "storage.read.files": wl.s.read_files})
    evolve = named("storage.evolve")
    m.update({"storage.evolve.calls": len(evolve), "storage.evolve.s": dur(evolve),
              "pipeline.sub_batches": wl.s.sub_batches})
    applies = named("pipeline.apply_until")
    m.update({"pipeline.apply_until.calls": len(applies),
              "pipeline.apply_until.self_s": sum(
                  self_time(a, by_parent.get(a["id"], [])) for a in applies),
              "pipeline.apply_until.self_jobs": jobs(applies),
              "pipeline.quarantined_rows": wl.s.quarantined})
    for name in ("provenance.emit", "provenance.emit_counts"):
        ss = named(name)
        m.update({f"{name}.calls": len(ss), f"{name}.s": dur(ss),
                  f"{name}.jobs": jobs(ss)})
    m["provenance.files"] = extras["provenance_files"]
    cks = named("ledger.slice_checksum")
    m.update({"ledger.commit.s": dur(named("ledger.commit")),
              "ledger.slice_checksum.s": dur(cks),
              "ledger.slice_checksum.jobs": jobs(cks)})
    by_id = {sp["id"]: sp for sp in spans}

    def root(sp):
        while sp["parent"] in by_id:
            sp = by_id[sp["parent"]]
        return sp

    in_apply = [sp for sp in spans if root(sp)["name"] == "pipeline.apply_until"]
    m.update({"spark.jobs": jobs(spans), "spark.stages": task(spans, "stages"),
              "spark.tasks": task(spans, "tasks"),
              "spark.jobs_per_batch": jobs(in_apply) / max(len(applies), 1),
              "spark.shuffle_write_bytes": task(spans, "shuffle_write_bytes"),
              "spark.gc_s": task(spans, "gc_s")})
    m["session.get_spark.s"] = extras["session_s"]
    m.update(wl.timers)
    return m


def layer_extras(wl) -> dict:
    """Per-layer figures read from disk or computed after the measured
    phase (untimed): applied change bytes, table layout, provenance files."""
    from collections import Counter
    change = sum(n * wl.change_bytes(lo, hi)
                 for (lo, hi), n in Counter(wl.s.applied).items())
    store = wl.final.store
    man = store._load_manifest()
    files = []
    for e in man["buckets"].values():
        for rel in [e.get("path")] + [d["path"] for d in e.get("deltas", [])]:
            if rel:
                d = os.path.join(store.root, rel)
                files += [os.path.join(d, f) for f in os.listdir(d)
                          if f.endswith(".parquet")]
    prov = wl.final.provenance
    prov_files = 0
    if prov is not None and os.path.isdir(prov.path):
        prov_files = sum(f.endswith(".parquet") for f in os.listdir(prov.path))
    return {"change_bytes": change, "table_files": len(files),
            "table_bytes": sum(os.path.getsize(f) for f in files),
            "manifest_bytes": os.path.getsize(
                store._manifest_path(store.current_version())),
            "provenance_files": prov_files}


def emit(metrics: dict, spec: list[dict]) -> dict:
    """Metrics in BENCHMARK.json's order with their units; refuses a run
    whose metric names drift from the spec."""
    names = [m["name"] for m in spec]
    if set(metrics) != set(names):
        raise RuntimeError(f"metric set mismatch: {sorted(set(metrics) ^ set(names))}")
    return {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec}


# ---------------- main ----------------
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")  # before first use
    sys.path.insert(0, ROOT)
    import nifi_spark.pipeline  # without the program the run stops here
    from spans import Tracer, fold_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    trace = bool(args.trace)
    event_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.environ["TMPDIR"])
    host = host_block()
    try:
        t = time.time()
        spark = start_session(host, trace, event_dir)
        session_s = time.time() - t
        proc = jvm_proc()
        try:
            tracer = Tracer(spark.sparkContext, trace)
            wl = WORKLOADS[args.workload](spark, tracer, WORK, args.seed,
                                          args.seconds, host["nproc"])
            wl.setup()
            setup_s = session_s + sum(wl.timers.values())
            phase_s = {"setup": time.time() - t}
            tracer.phase = "measure"
            t = time.time()
            with tracer.patch_module(nifi_spark.pipeline, "slice_checksum",
                                     "ledger.slice_checksum"):
                wl.measure()
            phase_s["measure"] = time.time() - t
            tracer.phase = "check"
            t = time.time()
            wl.run_check()
            phase_s["check"] = time.time() - t
            if trace:
                tracer.collect_jobs()
                extras = dict(layer_extras(wl), session_s=session_s)
            rss = peak_rss_mb(proc)
        finally:
            t = time.time()
            stop_session(spark, proc)
        phase_s["stop"] = time.time() - t
        e2e, detail = end_to_end(wl, setup_s, rss)
        if trace:
            folded = fold_event_log(event_dir)
            os.makedirs(OUT, exist_ok=True)
            tracer.write(os.path.join(OUT, f"{wl.name}-seed{args.seed}-spans.jsonl"))
            metrics = emit(per_layer(wl, tracer, folded, extras), spec["per_layer"])
            applies = tracer.measured("pipeline.apply_until")
            span_s = sum(a["end"] - a["start"] for a in applies)
            detail["end_to_end"] = e2e
            detail["trace_coverage"] = {
                "apply_wall_s": wl.s.apply_wall_s, "apply_spans_s": span_s,
                "children_plus_self_over_wall": span_s / wl.s.apply_wall_s}
        else:
            metrics = emit(e2e, spec["end_to_end"])
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    detail.update(workload=wl.name, seed=args.seed, seconds=args.seconds,
                  trace=trace, host=host, errors=wl.s.errors,
                  setup=dict(wl.timers, session_s=session_s), phase_s=phase_s,
                  **wl.info)
    print(json.dumps({"detail": detail}))
    correct = wl.s.failed == 0 and all(v["value"] is not None for v in metrics.values())
    print(json.dumps({"correct": correct, "attempted": wl.s.attempted,
                      "failed": wl.s.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
