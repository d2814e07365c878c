#!/usr/bin/env python3
"""Store benchmark: one seeded workload against ``plans.pipeline``.

    python3 perfbench/run.py --workload {bulk,churn} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  Everything the run writes goes under
``.perfbench_work/`` there and is removed at the end.  The second-last
line of standard output is ``{"meta": {...}}`` (core count, sample
counts, tail percentiles, box probe, failures); the last line is the
result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  Exits 1 when an operation failed or returned a wrong
result, 2 when the run could not be made.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "invariantbitpacking_spark"
RUN_TIMEOUT_S = 170
DRIVER_MEM = "2g"



def reported(values: dict, spec: list[dict]) -> dict:
    """``values`` as ``{name: {"value", "unit"}}`` in the order and with
    the units BENCHMARK.json lists; any metric missing or unlisted is a
    defect of the run, not of the program measured."""
    names = [m["name"] for m in spec]
    if set(values) != set(names):
        raise RuntimeError(
            f"metrics missing: {sorted(set(names) - set(values))}, "
            f"not listed: {sorted(set(values) - set(names))}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("bulk", "churn"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, traced: bool, ncores: int) -> None:
    """Point every writer the run starts at its own work dir, before
    any Spark or tempfile import reads the environment."""
    for d in ("data", "tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "IBP_DATA_DIR": os.path.join(work, "data"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "IBP_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(ncores),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # str hashing, and with it set and dict order, is then the same
        # in the Python workers of every run
        "PYTHONHASHSEED": "0",
        # spark-submit's launcher JVM, which reads no Spark conf
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    conf = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "spark.ui.showConsoleProgress=false",
    ]
    if traced:
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}"]
    os.environ["IBP_SPARK_CONF"] = ";".join(conf)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_TIMEOUT_S} s")


def _terminate(signum, frame):
    sys.exit(128 + signum)  # unwinds through the clean-up below


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ "
              f"in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    ncores = cores()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, bool(args.trace), ncores)
    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(RUN_TIMEOUT_S)
    t0 = time.perf_counter()
    try:
        meta, result = measure(args, work, ncores)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 2
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    meta["wall_s"] = time.perf_counter() - t0
    print(json.dumps({"meta": meta}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def measure(args, work: str, ncores: int) -> tuple[dict, dict]:
    from perfbench import procs, stats, tracing, workloads as wl

    traced = bool(args.trace)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    meta = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "cores": ncores, "master": f"local[{ncores}]",
            "driver_memory": DRIVER_MEM,
            "box_pre": procs.box_probe()}
    steal0 = procs.cpu_steal()

    # inputs are generated before set-up starts, so set-up never
    # depends on what an earlier run left behind
    corpus = wl.Corpus(os.path.join(work, "corpus"), args.seed)
    _ = corpus.base
    if args.workload == "churn":
        _ = corpus.fresh, corpus.updates

    from invariantbitpacking_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=ncores, shuffle_partitions=ncores)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext
    jvm_pid = SparkContext._gateway.proc.pid
    stopped = False
    try:
        b = wl.Bench(spark, work, corpus, ncores, traced, jvm_pid)
        layer: dict[str, float] = {}
        try:
            build = b.build()
            setup_s = session_s + build.wall
            loop = {"bulk": wl.bulk, "churn": wl.churn}[args.workload]
            costs = loop(b, args.seconds)
            store = b.store_stats()
            rss = procs.peak_rss_mb(jvm_pid)
            if args.workload == "churn":
                meta["compact_s"] = b.compact().wall
            if traced:
                wl.cover_missing_verbs(b)
                layer.update(wl.codec_rates(b))
        except wl.OpFailed:
            costs = None
        t0 = time.perf_counter()
        procs.stop_spark(spark)
        stopped = True
        meta["stop_s"] = time.perf_counter() - t0
    finally:
        if not stopped:
            procs.stop_spark(spark)

    ledger = b.ledger
    if costs is not None:
        wall = [c.wall for c in costs]
        cpu = [c.cpu for c in costs]
        cpu_tail, tail_pct, n = stats.tail(cpu)
        wall_tail = stats.tail(wall)[0]
        e2e = {
            "setup_s": setup_s,
            "ingest_tok_per_cpu_s": corpus.tokens / build.cpu,
            "op_cpu_ms": statistics.median(cpu) * 1e3,
            "op_cpu_tail_ms": cpu_tail * 1e3,
            "store_bytes_per_token": store["bytes"] / b.model.tokens,
            "peak_rss_mb": rss,
        }
        meta.update({
            "ops": n, "tail_percentile": round(tail_pct, 1),
            "tail_samples_beyond": sum(x > cpu_tail for x in cpu),
            "op_cpu_ms": [round(x * 1e3, 1) for x in cpu],
            "op_wall_ms": [round(x * 1e3, 1) for x in wall],
            "op_wall_p50_ms": statistics.median(wall) * 1e3,
            "op_wall_tail_ms": wall_tail * 1e3,
            "docs": corpus.n, "tokens": corpus.tokens,
            "session_start_s": session_s, "build_s": build.wall,
            "build_cpu_s": build.cpu,
            "ingest_tok_per_s": corpus.tokens / build.wall,
            "verb_ops": {v: len(b.tracer.ops(v)) for v in tracing.VERBS}})
        metrics = reported(e2e, spec["end_to_end"])
    if costs is not None and traced:
        # the end-to-end figures measured with tracing on: their
        # difference to untraced runs is the tracing overhead
        meta["traced_e2e"] = e2e
        t0 = time.perf_counter()
        events = tracing.read_event_log(os.path.join(work, "eventlog"))
        attributed, problems, excess = tracing.attribute(events,
                                                         b.tracer.spans)
        meta["attribution_s"] = time.perf_counter() - t0
        meta["max_clock_excess_ms"] = excess * 1e3
        ledger.run("attribution", lambda: None, lambda _: problems)
        layer.update(attributed)
        layer.update({k: v for k, v in store.items() if k != "bytes"})
        layer["session.start_s"] = session_s
        layer["operators.selector.payload_bytes_per_token"] = (
            b.result.comp_bytes / b.result.tokens)
        metrics = reported(layer, spec["per_layer"])
    meta.update({"attempted": ledger.attempted, "failed": ledger.failed,
                 "failed_op_share": ledger.failed_share,
                 "errors": ledger.errors[:5],
                 "box_post": procs.box_probe()})
    steal1 = procs.cpu_steal()
    meta["steal_share"] = ((steal1[0] - steal0[0])
                           / max(steal1[1] - steal0[1], 1))
    correct = costs is not None and ledger.failed == 0
    return meta, {"correct": correct, "attempted": ledger.attempted,
                  "failed": ledger.failed,
                  "metrics": metrics if costs is not None else {}}


if __name__ == "__main__":
    sys.exit(main())
