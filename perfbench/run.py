"""KG-construction benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload kg_build_vocab --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The inputs are synthesized from
``--seed``; set-up (session, Spark's background warm-up, and the
workload's untimed warm-up: two small passes for a build, the initial
state build for ``kg_update``) is timed apart from the ops. Ops repeat
until their summed time reaches ``--seconds`` and the workload's
``min_ops`` have run. With ``--trace 0`` the last stdout line carries
the end-to-end metrics; with ``--trace 1`` it carries the per-layer
metrics of a run that alternates untraced and traced ops (spans go to
``.perfbench/spans``).
Everything is written under ``.perfbench/`` in the checkout; the run's
scratch space there is removed when it ends.
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
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SLOTS = 4
#: fixed JVM heap (initial = max), so heap resizing does not vary by run
HEAP = "3g"
WARMUP_THREADS = ("hades-worker-warmup", "hades-jvm-warmup")

END_TO_END = {"wall_s": "s", "triples_per_s": "1/s", "setup_s": "s",
              "peak_rss_mb": "MB", "output_mb": "MB",
              "triple_precision": "ratio", "triple_recall": "ratio",
              "success_rate": "ratio"}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="page-count multiplier (self-tests use < 1)")
    return ap.parse_args(argv)


def _environment(work: Path, out: Path) -> None:
    """Worker import path and scratch locations, set before the JVM and
    its Python workers start so they inherit them. Without the import
    path every Python UDF fails with ModuleNotFoundError."""
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    out.mkdir(parents=True, exist_ok=True)


def _session(work: Path, log: Path, trace: bool):
    from hades_spark.session import get_spark

    java = (f"-Dlog4j.configurationFile=file:{HERE / 'log4j2.properties'} "
            f"-Dperfbench.log={log} -Djava.io.tmpdir={work / 'tmp'} "
            f"-Xms{HEAP} -XX:-UsePerfData")
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": java}
    if trace:
        (work / "events").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file:{work / 'events'}",
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", master=f"local[{SLOTS}]",
                      extra_conf=conf)
    # the warm-up passes get_spark starts in the background must finish
    # before anything is timed, or they run inside the first op
    for t in threading.enumerate():
        if t.name in WARMUP_THREADS:
            t.join()
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _settle(spark) -> None:
    """Untimed, between ops: drop the previous op's frames on both sides
    so Spark's context cleaner releases their checkpointed blocks and
    shuffle files, and every op starts from the same memory state."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _median(ops, key):
    return statistics.median(op[key] for op in ops)


def _attempt(fn, *args, failures: list) -> dict | None:
    """Run one op; an exception counts as a failed op, never ends the
    run."""
    try:
        return fn(*args)
    except Exception:
        failures.append(traceback.format_exc())
        print(failures[-1], file=sys.stderr)
        return None


def run(args, work: Path, out: Path) -> tuple[dict, dict]:
    from tracing import Tracer, peak_rss_mb, read_event_logs
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"one of {sorted(WORKLOADS)}")
    tag = f"{args.workload}-seed{args.seed}"
    diag: dict = {"workload": args.workload, "seed": args.seed}

    t0 = time.perf_counter()
    spark = _session(work, out / "logs" / f"{tag}-{os.getpid()}.log",
                     args.trace == 1)
    diag["session_s"] = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.workload,
                                      args.scale)
        t = time.perf_counter()
        diag.update(wl.prepare())
        diag["input_synthesis_s"] = time.perf_counter() - t

        t = time.perf_counter()
        wl.setup()
        diag["init_s"] = time.perf_counter() - t
        t = time.perf_counter()
        warm_failures: list[str] = []
        _settle(spark)
        _attempt(wl.warm, 0, failures=warm_failures)
        diag["warmup_op_s"] = time.perf_counter() - t
        diag["warmup_failed"] = len(warm_failures)
        setup_s = (diag["session_s"] + diag["init_s"]
                   + diag["warmup_op_s"])

        tracer = Tracer(lambda g: spark.sparkContext.setLocalProperty(
            "spark.jobGroup.id", g))
        kinds = [(wl.run_op, (), [])]
        if args.trace:
            kinds.append((wl.run_traced_op, (tracer,), []))
        failures: list[str] = []
        failed_ops: set[int] = set()
        attempted, measured = 0, 0.0
        while measured < args.seconds or attempted < wl.min_ops:
            for fn, extra, done in kinds:
                _settle(spark)
                t = time.perf_counter()
                attempted += 1
                op = _attempt(fn, attempted, *extra, failures=failures)
                if op is None:
                    failed_ops.add(attempted)
                    measured += time.perf_counter() - t
                    continue
                done.append(op)
                measured += op["wall_s"]
                if not op["ok"]:
                    failed_ops.add(attempted)
                    failures.append(f"op {attempted}: output differs from "
                                    f"the reference (P={op['precision']}, "
                                    f"R={op['recall']})")
                    print(failures[-1], file=sys.stderr)
        _settle(spark)
        n = len(failures)
        final = _attempt(wl.final_check, failures=failures)
        if final is not None and not final["ok"]:
            failures.append(f"final state differs from a rebuild (P="
                            f"{final['precision']}, R={final['recall']})")
            print(failures[-1], file=sys.stderr)
        if len(failures) > n:
            # the final check covers the state the last op left
            failed_ops.add(attempted)
        rss = peak_rss_mb()
    finally:
        _stop(spark)

    plain = kinds[0][2]
    traced = kinds[1][2] if args.trace else []
    diag["ops"] = [{k: v for k, v in op.items() if k != "layers"}
                   for op in plain + traced]
    diag["failures"] = len(failures)
    failed = len(failed_ops)
    result = {"correct": not failures,
              "attempted": attempted, "failed": failed}
    if not args.trace:
        checked = plain + ([final] if final else [])
        metrics = {
            "wall_s": _median(plain, "wall_s") if plain else 0.0,
            "triples_per_s": statistics.median(
                op["triples"] / op["wall_s"] for op in plain) if plain
            else 0.0,
            "setup_s": setup_s,
            "peak_rss_mb": rss,
            "output_mb": (_median(plain, "output_bytes") / 2**20
                          if plain else 0.0),
            "triple_precision": min((op["precision"] for op in checked),
                                    default=0.0),
            "triple_recall": min((op["recall"] for op in checked),
                                 default=0.0),
            "success_rate": (attempted - failed) / attempted,
        }
        result["metrics"] = {n: {"value": metrics[n], "unit": u}
                             for n, u in END_TO_END.items()}
        return diag, result

    from workloads import PER_LAYER, layer_metrics

    stats = read_event_logs(work / "events")
    tracer.write(out / "spans" / f"{tag}.json", stats)
    diag["spans"] = str((out / "spans" / f"{tag}.json").relative_to(ROOT))
    values = layer_metrics(tracer, traced, plain, stats, SLOTS)
    result["metrics"] = {n: {"value": values.get(n, 0), "unit": u}
                         for n, u in PER_LAYER.items()}
    return diag, result


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, str(ROOT))
    import hades_spark  # noqa: F401  (a checkout without the package fails here)

    out = ROOT / ".perfbench"
    work = out / f"work-{os.getpid()}"
    _environment(work, out)
    try:
        diag, result = run(args, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(diag))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
