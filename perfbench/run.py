"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload flagship_lai --seed 0 --seconds 12 --trace 0

One client in one process runs each job after the previous one finished
(closed loop) on ``local[n]``, ``n`` the CPUs this process may use.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs every
other job with each layer materialized on its own inside a span and
prints the per-layer metrics, the Spark counters of each layer (from the
session's event log) and the tracing overhead. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (name -> value and unit). See perfbench/README.md.
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

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
SETUPS = 3
MIN_JOBS = 4
NOOP_REPS = 7
NOOP_WARM = 3
WORKLOAD_NAMES = ("flagship_lai", "corpus_train", "ingest_ndvi")

END_TO_END = {
    "setup_s": "s", "job_s": "s", "docs_per_s": "docs/s",
    "resume_noop_s": "s", "peak_rss_mb": "MB",
}
# layer -> its own metrics (unit, better) besides self time ``.s``
LAYERS = {
    "session.get_spark": {},
    "sources.read_documents": {"docs": ("docs", "higher"),
                               "bytes": ("bytes", "lower")},
    "sources.qi_percentages": {"rows": ("rows", "higher")},
    "sources.decode_documents": {"docs": ("docs", "higher"),
                                 "pixels": ("pixels", "higher"),
                                 "pixels_per_s": ("pixels/s", "higher")},
    "operators.quality.select_survivors": {"survivors": ("docs", "higher"),
                                           "survivor_ratio": ("ratio", "higher")},
    "biophys.nn.run_nn": {"pixels_per_s": ("pixels/s", "higher")},
    "operators.timeseries.dataset_to_timeseries": {"groups": ("rows", "higher")},
    "plans.lineage.write_with_lineage": {"bytes_written": ("bytes", "lower"),
                                         "files_written": ("files", "lower"),
                                         "bytes_per_pixel": ("bytes/pixel", "lower")},
    "plans.lineage.resume_filter": {"lineage_rows": ("rows", "higher")},
    "plans.corpus.train_data_pipeline": {"docs_in": ("docs", "higher"),
                                         "docs_out": ("docs", "higher"),
                                         "keep_ratio": ("ratio", "higher")},
}
SPARK_COUNTERS = {
    "tasks": "tasks", "executor_run_s": "s", "executor_cpu_s": "s",
    "jvm_wait_s": "s", "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "spill_bytes": "bytes", "gc_share": "ratio",
    "task_skew": "ratio",
}
SPARK_LAYERS = [n for n in LAYERS if n not in ("session.get_spark", "biophys.nn.run_nn")]
TRACE_METRICS = {"trace.overhead_ratio": "ratio", "trace.traced_job_s": "s",
                 "trace.untraced_job_s": "s", "trace.job_self_s": "s"}


def per_layer_catalog() -> list:
    """Every per-layer metric as ``(name, unit, better)``."""
    out = []
    for layer, own in LAYERS.items():
        out.append((f"{layer}.s", "s", "lower"))
        out += [(f"{layer}.{k}", u, b) for k, (u, b) in own.items()]
        if layer in SPARK_LAYERS:
            out += [(f"{layer}.{k}", u, "lower") for k, u in SPARK_COUNTERS.items()]
    out += [(k, u, "lower") for k, u in TRACE_METRICS.items()]
    return out


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Pin everything the engine and Spark read from the environment, and
    keep every file they write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    time.tzset()
    sys.path[:0] = [ROOT, HERE]


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_jvm() -> None:
    """End the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def load_expected(workload: str, seed: int) -> dict:
    import inputs
    with open(os.path.join(HERE, "digests.json")) as f:
        pinned = json.load(f)
    return pinned.get(workload, {}).get(str(inputs.variant(seed)), {})


def measure(wl, tr, args, expected: dict) -> dict:
    import workloads
    res = {"setup_s": [], "jobs": [], "noop_s": [], "attempted": 0, "failed": 0}

    def attempt(fn):
        res["attempted"] += 1
        try:
            ok = fn()
        except Exception:
            log(traceback.format_exc())
            ok = False
        res["failed"] += 0 if ok else 1

    # the first setup launches the JVM and compiles the plans cold; the
    # median is a later, warm-JVM setup
    for _ in range(SETUPS):
        wl.stop()
        t = time.perf_counter()
        wl.setup(tr)
        res["setup_s"].append(time.perf_counter() - t)
    log("setup_s " + " ".join(f"{s:.2f}" for s in res["setup_s"]))
    t = time.perf_counter()
    wl.prime()
    log(f"prime {time.perf_counter() - t:.2f} s")
    if args.trace:
        tr.attach(wl.spark.sparkContext)

    sampler = tracing.RssSampler(os.getpid()).start()
    n_fixed = wl.n_jobs()
    deadline = time.perf_counter() + args.seconds
    i = 0
    while (i < n_fixed) if n_fixed is not None else (
            i < MIN_JOBS or time.perf_counter() < deadline):
        traced = bool(args.trace) and i % 2 == 1

        def one(i=i, traced=traced):
            wl.land(i)
            sampler.take()
            t = time.perf_counter()
            out = wl.run_traced(i, tr) if traced else wl.run(i)
            dt = time.perf_counter() - t
            rss = sampler.take()
            docs, key, digest = wl.check(i, out)
            ok = digest == expected.get(key)
            if not ok:
                log(f"job {i} ({key}): digest {digest} != pinned {expected.get(key)}")
            res["jobs"].append({"i": i, "traced": traced, "s": dt, "docs": docs,
                                "rss": rss, "key": key, "digest": digest, "ok": ok})
            return ok
        attempt(one)
        i += 1
    if args.trace:
        with tr.span("probe", new_trace=True):
            attempt(lambda: wl.probe(tr) or True)
            workloads.layer_nn(tr, args.seed)
    else:
        for _ in range(NOOP_WARM):  # untimed: the JVM settles after the jobs
            wl.resume_noop()
        for _ in range(NOOP_REPS):
            def noop():
                dt, ok = wl.resume_noop()
                res["noop_s"].append(dt)
                return ok
            attempt(noop)
    sampler.stop()
    log("jobs " + " ".join(f"{j['s']:.2f}{'t' if j['traced'] else ''}"
                           for j in res["jobs"]))
    log("job rss MB " + " ".join(f"{j['rss'] / 2**20:.0f}" for j in res["jobs"]))
    if res["noop_s"]:
        log("resume_noop_s " + " ".join(f"{s:.3f}" for s in res["noop_s"]))
    res["app_id"] = wl.spark.sparkContext.applicationId
    return res


def end_to_end(res: dict) -> dict:
    jobs = res["jobs"]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "job_s": statistics.median(j["s"] for j in jobs),
        "docs_per_s": statistics.median(j["docs"] / j["s"] for j in jobs),
        "resume_noop_s": statistics.median(res["noop_s"]),
        "peak_rss_mb": statistics.median(j["rss"] for j in jobs) / 2**20,
    }


def _root(tr, rec) -> dict:
    while rec["parent"] is not None:
        rec = tr.spans[rec["parent"]]
    return rec


def per_layer(tr, res: dict, counters: dict) -> dict:
    """Medians over a layer's spans: those inside jobs when the layer is on
    the workload's path, else its probe spans."""
    out = {}
    for layer, own in LAYERS.items():
        spans = [s for s in tr.spans if s["name"] == layer]
        on_path = [s for s in spans if _root(tr, s)["name"].startswith("job.")]
        spans = on_path or spans
        self_s = [tr.self_seconds(s) for s in spans]
        out[f"{layer}.s"] = statistics.median(self_s)
        for k in own:
            if k == "pixels_per_s":
                vals = [s["counts"]["pixels"] / t for s, t in zip(spans, self_s)]
            else:
                vals = [s["counts"][k] for s in spans]
            out[f"{layer}.{k}"] = statistics.median(vals)
        if layer in SPARK_LAYERS:
            empty = dict.fromkeys(tracing.COUNTERS, 0.0)
            per_span = [counters.get(s["group"], empty) for s in spans]
            for k in SPARK_COUNTERS:
                out[f"{layer}.{k}"] = statistics.median(c[k] for c in per_span)
    traced = [j["s"] for j in res["jobs"] if j["traced"]]
    untraced = [j["s"] for j in res["jobs"] if not j["traced"]]
    out["trace.traced_job_s"] = statistics.median(traced)
    out["trace.untraced_job_s"] = statistics.median(untraced)
    out["trace.overhead_ratio"] = out["trace.traced_job_s"] / out["trace.untraced_job_s"]
    out["trace.job_self_s"] = statistics.median(
        tr.self_seconds(s) for s in tr.spans if s["name"].startswith("job."))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "satellitetools_spark")):
        log(f"engine package satellitetools_spark not found under {ROOT}")
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    prepare_env(work)
    import inputs
    import workloads

    cache = os.path.join(HERE, ".cache")
    input_dir, info, gen_s = inputs.ensure_inputs(cache, args.workload, args.seed)
    probe_dir = inputs.ensure_inputs(cache, "probe", args.seed)[0] if args.trace else None
    log(f"inputs {input_dir}: {info} (generated in {gen_s:.2f} s)")
    wl = workloads.WORKLOADS[args.workload](
        input_dir, info, work, CORES, session_conf(work, bool(args.trace)), probe_dir)
    tr = tracing.Tracer()
    try:
        try:
            res = measure(wl, tr, args, load_expected(args.workload, args.seed))
        finally:
            wl.stop()
            stop_jvm()
        if args.trace:
            counters = tracing.spark_counters(os.path.join(work, "events", res["app_id"]))
            metrics = per_layer(tr, res, counters)
            units = {n: u for n, u, _b in per_layer_catalog()}
            trace_path = os.path.join(HERE, ".traces", f"{args.workload}-s{args.seed}.json")
            tr.dump(trace_path, {"workload": args.workload, "seed": args.seed,
                                 "jobs": res["jobs"], "spark": counters})
            log(f"spans written to {trace_path}")
        else:
            metrics = end_to_end(res)
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} (input variant "
          f"{inputs.variant(args.seed)}), local[{CORES}], "
          f"{len(res['jobs'])} jobs, input generation {gen_s:.3f} s")
    for name, value in metrics.items():
        print(f"  {name:58s} {value:16.6f} {units[name]}")
    print(f"  {'failed_frac':58s} {res['failed'] / max(res['attempted'], 1):16.6f} ratio")
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
