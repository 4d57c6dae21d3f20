"""Pipeline benchmark: one workload per run, driven through the public API.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics when
``--trace 0``, the per-layer metrics when ``--trace 1``). Lines before
it give every metric by name with its unit, the failure breakdown and
the run's notes. Everything the run writes stays under
``.perfbench_work/`` in the repository root and is removed at exit;
traced runs keep their span file in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

PACKAGE = "opensearch_dynamodb_etl_cdk_spark"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("export_bootstrap", "cdc_stream", "search_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int,
                    default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] cores (default: all usable cores;"
                         " 1 gives the single-core baseline)")
    return ap.parse_args(argv)


def isolate(root: str, work: str, cpus: int) -> None:
    """Point every scratch location of Spark, the JVM and Python into
    ``work`` and make the package importable by Spark's Python workers
    (the sharded-stream source runs there)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: no perf-data files
    # in the system temp dir, temp files under ``work``
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}"]))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    import tempfile

    tempfile.tempdir = tmp


def stop_all(spark) -> None:
    """Stop the session and the JVM, then make sure no process this run
    started outlives it."""
    from spans import descendants

    if spark is not None:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=20)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = descendants()
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while pids and time.time() < deadline:
            for pid in pids:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                    and not _zombie(p)]
            time.sleep(0.1)
        if not pids:
            return


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(root, work, args.cpus)
    sys.path.insert(0, root)

    import spans as tracing
    import workloads

    spark = None
    tracer = tracing.Tracer() if args.trace else None
    try:
        t = time.perf_counter()
        from opensearch_dynamodb_etl_cdk_spark.session import get_spark

        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
        if tracer:
            workloads.install_wrappers(tracer)
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer,
                            session_s)
        metrics, extra = workloads.WORKLOADS[args.workload](run)
        if tracer:
            layer = workloads.trace_metrics(run, extra)
            tracer.unwrap_all()
            tracer.write(os.path.join(
                root, ".perfbench_out",
                f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(run.failures.values())
    correct = not any(k.startswith(("index_mismatch", "wrong_answer"))
                      for k in run.failures)
    units = workloads.E2E
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    for name, (value, unit) in run.named.items():
        print(f"{name} {value:.6g} {unit}")
    if tracer:
        for name, (value, unit) in layer.items():
            print(f"{name} {value:.6g} {unit}")
    print(f"failed_op_share {failed / max(1, run.attempted):.6g} ratio "
          f"({failed}/{run.attempted}) {json.dumps(run.failures)}")
    print("notes " + json.dumps(run.notes, default=str))
    if tracer:
        out = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
