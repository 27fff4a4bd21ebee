"""Pin the output digest of every input variant of every workload.

    python3 perfbench/pin.py [workload ...]

Runs each variant's jobs once through the engine at the current commit and
writes ``perfbench/digests.json``, which ``run.py`` checks every job
against. Pin only from a commit whose flagship path passes
``perfbench/test_perfbench.py`` (the DuckDB oracle check): a later commit
that changes any output then fails the benchmark's correctness check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from run import CORES, HERE, prepare_env, session_conf, stop_jvm, log


def pin(names: list) -> dict:
    import inputs
    import tracing
    import workloads

    path = os.path.join(HERE, "digests.json")
    with open(path) as f:
        pinned = json.load(f)
    spark = None
    try:
        for name in names:
            pinned[name] = {}
            for v in range(inputs.N_VARIANTS):
                input_dir, info, _ = inputs.ensure_inputs(
                    os.path.join(HERE, ".cache"), name, v)
                work = os.path.join(HERE, ".work", f"pin-{name}-v{v}")
                wl = workloads.WORKLOADS[name](
                    input_dir, info, work, CORES, session_conf(work, False))
                if spark is None:
                    wl.setup(tracing.Tracer())
                else:
                    wl.spark = spark
                    wl.register()
                spark = wl.spark
                wl.prime()
                got = {}
                for i in range(wl.n_jobs() or 1):
                    wl.land(i)
                    _docs, key, digest = wl.check(i, wl.run(i))
                    got[key] = digest
                pinned[name][str(v)] = got
                shutil.rmtree(work, ignore_errors=True)
                log(f"{name} v{v}: {got}")
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    return pinned


if __name__ == "__main__":
    env_dir = os.path.join(HERE, ".work", f"pin-{os.getpid()}")
    prepare_env(env_dir)
    import workloads
    try:
        pin(sys.argv[1:] or list(workloads.WORKLOADS))
    finally:
        shutil.rmtree(env_dir, ignore_errors=True)
