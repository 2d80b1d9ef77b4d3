"""Benchmark entry point.

    python3 perfbench/run.py --workload search-local --seed 1 --seconds 8 --trace 0

Runs one workload against one Spark session at ``local[<nproc>]`` from the
root of a checkout of this repository, checks the outputs against the
brute-force oracle, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. The lines before it give the workload's full table and the
host context. Everything the run writes stays under the checkout:
scratch files in ``.perfbench_work/`` (removed at exit) and a result file
per run in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# Counts in the per-layer output that must repeat exactly for a seed.
COUNT_UNITS = ("count", "bytes")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("search-spark", "search-local", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work_dir: str) -> None:
    """Workers must import the package from the checkout wherever the
    command runs from, and temp files must stay inside the checkout."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM the launcher starts: no hsperfdata file in the system temp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)


def start_spark(work_dir: str, cores: int):
    from lucene_solr_1_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and the Python workers it
    started, and wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while any(_alive(p) for p in workers) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in workers:
            if _alive(p):
                os.kill(p, signal.SIGKILL)


def install_tracer(spark):
    from tracer import ACTIONS, Tracer

    from lucene_solr_1_spark.index import manifest, merge, segment
    from lucene_solr_1_spark.search import kernel, searcher

    tr = Tracer(spark, os.path.join(ROOT, "lucene_solr_1_spark"))
    df_class = type(spark.range(1))
    for action in ACTIONS:
        tr.wrap(df_class, action, "action")

    def scored(op, result):
        op.results["score_calls"] += 1

    def wand(op, result):
        op.results["score_calls"] += 1
        op.results["wand"] += 1
        op.results["pruned"] += result[3] == "GREATER_THAN_OR_EQUAL_TO"

    def groups(op, result):
        op.results["groups"] += len(result)

    tr.wrap(searcher, "rewrite", "rewrite")
    tr.wrap(kernel, "compile_plan", "compile_plan")
    tr.wrap(kernel, "score_wand", "score", on_result=wand)
    tr.wrap(kernel, "score_exhaustive", "score", on_result=scored)
    tr.wrap(manifest, "commit_manifest", "commit_manifest")
    tr.wrap(merge, "find_merges", "find_merges", on_result=groups)
    tr.wrap(merge, "_merge_group_job", "merge_group", tag_thread=True)
    tr.wrap(segment, "flatten_tokens", "flatten_tokens")
    tr.wrap(segment, "encode_blocks", "encode", leaf=True)
    tr.wrap(segment, "encode_doc_deltas", "encode", leaf=True)
    return tr


def host_context() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
    }


def _json_table(table: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in table.items()}


def compare_with_earlier(args, record: dict) -> None:
    """Traced run: tracing overhead against an untraced run of the same
    workload and seed, and a repeat check of the count metrics against
    an earlier traced run, when their result files exist."""
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}")
    untraced = f"{stem}-trace0.json"
    if os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["table"]
        record["tracing_overhead"] = {
            k: v["value"] / base[k]["value"] - 1.0
            for k, v in record["table"].items()
            if isinstance(v["value"], (int, float)) and k in base
            and isinstance(base[k]["value"], (int, float)) and base[k]["value"]
        }
    earlier = f"{stem}-trace1.json"
    if os.path.exists(earlier):
        with open(earlier) as fh:
            prev = json.load(fh)["metrics"]
        counts = {k: v["value"] for k, v in record["metrics"].items() if v["unit"] in COUNT_UNITS}
        record["counts_repeat"] = all(
            prev.get(k, {}).get("value") == v for k, v in counts.items())


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds < 1:
        raise SystemExit("--seconds must be at least 1")
    t_start = time.perf_counter()
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    try:
        prepare_environment(work_dir)
        import workloads  # imports the engine: fails outside a checkout

        load_before = os.getloadavg()
        cores = nproc()
        spark = start_spark(work_dir, cores)
        try:
            session_start_s = time.perf_counter() - t_start
            tracer = install_tracer(spark) if args.trace else None
            run = workloads.Run(spark, work_dir, args.seed, args.seconds, cores,
                                session_start_s, tracer)
            try:
                result = workloads.WORKLOADS[args.workload](run)
            finally:
                if tracer is not None:
                    tracer.restore()
        finally:
            stop_spark(spark)
        load_after = os.getloadavg()
        host = host_context()
        host["loadavg_before"] = load_before
        host["loadavg_after"] = load_after
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:  # another run's scratch is still there
            pass

    metrics = result.layers if args.trace else result.metrics
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "table": _json_table(result.table),
        "metrics": _json_table(metrics),
        "attempted": result.attempted, "failed": result.failed,
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    if args.trace:
        compare_with_earlier(args, record)
        tracer.write_spans(os.path.join(
            OUT_DIR, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    with open(os.path.join(
            OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"host: {json.dumps(host)}")
    for name, (value, unit) in result.table.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"{args.workload:13s} {name:34s} {shown} {unit}")
    for key in ("tracing_overhead", "counts_repeat"):
        if key in record:
            print(f"{key}: {json.dumps(record[key])}")
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": _json_table(metrics),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
