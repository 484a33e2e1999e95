"""Benchmark of the OCR-extraction engine.

    python3 perfbench/run.py --workload extract_commit|battery \\
        --seed N --seconds S --trace 0|1 [--tiny]

Run from the repository root. One workload per run, on one Spark
session at local[<usable cores>]. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, where ``metrics`` holds every end-to-end metric of
BENCHMARK.json with ``--trace 0`` and every per-layer metric with
``--trace 1``, each as ``{"value": ..., "unit": ...}``. Per-layer
metrics that a workload does not exercise read 0. Spans of a traced
run are written to ``.perfbench/spans-<workload>-<seed>.jsonl``.

Everything the run writes stays under ``.perfbench/`` in the root.
``--tiny`` shrinks every input to smoke-test size.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
DRIVER_HEAP = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--tiny", action="store_true")
    return p.parse_args(argv)


def program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "onnxocr_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")))


def confine_to_root(tmp: str) -> None:
    """Point every scratch location of Spark, the JVM and Python
    workers into ``tmp``, and let the workers import the program."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a fixed, pre-touched driver heap: peak RSS then does not follow
    # the collector's heap resizing, which differs from run to run
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch "
        f"-Djava.io.tmpdir={tmp}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
        "pyspark-shell")


def stop_all(spark, pids: list[int]) -> None:
    """Stop the session and the JVM, then wait until every process that
    ran under the JVM has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print("perfbench: the program (onnxocr_spark/, __spark_entry__.py) "
              "is not next to perfbench/; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    import workloads as wl
    from spans import Tracer

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    confine_to_root(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))

    # one cold set-up: JVM launch, build_session, warm stage
    spark, build_s, setup_s, load_s = wl.start_session(cores)
    wl.log(f"set-up: {setup_s:.2f} s")
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    tracer = Tracer(f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    ctx = wl.Ctx(spark=spark, cores=cores, seed=args.seed,
                 seconds=args.seconds, trace=bool(args.trace),
                 tiny=args.tiny, work=work, cache=os.path.join(OUT, "cache"),
                 tracer=tracer, jvm_pid=jvm_pid)
    try:
        res = wl.WORKLOADS[args.workload](ctx)
    finally:
        stop_all(spark, wl.process_tree(jvm_pid)[1:])
        wl.log("stopped")
        if args.trace:
            tracer.write(os.path.join(
                OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values = {m["name"]: 0.0 for m in spec["per_layer"]}
        layers = dict(res.layers)
        layers["models.sessions.load_s"] = load_s
        layers["pipeline.build_session_s"] = build_s
        layers["failed_share"] = res.failed / res.attempted
        unknown = set(layers) - set(values)
        if unknown:
            raise KeyError(f"layers missing from BENCHMARK.json: {unknown}")
        values.update(layers)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": res.wall_s,
            "docs_per_s": res.docs / res.wall_s,
            "media_per_s": res.media / res.wall_s,
            "peak_rss_mb": res.peak_rss_mb,
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": values[n], "unit": u}
                    for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
