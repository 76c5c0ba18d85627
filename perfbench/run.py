"""Benchmark of record for codex-data-products-spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Set-up (session start, seeded input
generation, bootstrap) is timed from process start into ``setup_s``.
Then whole rounds of the workload's operations repeat until ``--seconds``
of rounds have passed; every round checks the program's outputs against
an independent computation. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 1`` runs one round with a span around each call into a layer,
a Spark job group per span and the Spark event log on, writes spans and
event log under ``.perfbench/traces/`` and prints the per-layer metrics
instead of the end-to-end ones.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
# metric name -> unit, in BENCHMARK.json order
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


class Ctx:
    """One run's state: session, tracer, timings, check results."""

    def __init__(self, args, work: str) -> None:
        self.workload, self.seed = args.workload, args.seed
        self.work = work
        self.ops: dict[str, list[float]] = {}
        self.rounds: list[float] = []  # timed seconds of each round
        self.attempted = self.failed = 0
        self.done = 0  # operations that completed
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.input_bytes_base = 0

    def op(self, name: str, seconds: float, count: int = 1) -> None:
        """``count`` operations completed in ``seconds``."""
        self.ops.setdefault(name, []).append(seconds)
        self.rounds[-1] += seconds
        self.done += count

    def value(self, name: str, v: float) -> None:
        self.ops.setdefault(name, []).append(v)

    def check(self, what: str, problems: list[str]) -> None:
        self.problems += [f"{what}: {p}" for p in problems]


def layer_metrics(ctx, event_log: str) -> tuple[dict, dict]:
    from tracing import LayerCost, costs_by_span, subtree_cost

    spans = ctx.tracer.spans
    costs = costs_by_span(event_log, spans)

    def sub(name):
        return subtree_cost(costs, spans, name)

    m = dict.fromkeys(PER_LAYER, 0)
    m.update(ctx.layer)
    m["session.start_s"] = ctx.session_start_s
    m["build_product.jobs"] = sub("build_product").jobs
    w = sub("write_product")
    m.update({"write_product.jobs": w.jobs, "write_product.stages": w.stages,
              "write_product.tasks": w.tasks})
    m["export_h5mu.jobs"] = sub("export_h5mu").jobs
    if ctx.input_bytes_base:
        read = sub("build_product").input_bytes + w.input_bytes
        m["sources.input_bytes_per_release_byte"] = read / ctx.input_bytes_base
    qc, qe = sub("queries.construct"), sub("queries.exec")
    m.update({
        "queries.construct_jobs": qc.jobs,
        "queries.exec_jobs": qe.jobs,
        "queries.stages": qc.stages + qe.stages,
        "queries.tasks": qc.tasks + qe.tasks,
        "queries.shuffle_write_bytes": qc.shuffle_write_bytes + qe.shuffle_write_bytes,
        "queries.spill_bytes": qc.spill_bytes + qe.spill_bytes,
    })
    d = sub("apply_product_delta")
    m["apply_product_delta.jobs"] = d.jobs
    m["apply_product_delta.bytes_written"] = d.output_bytes
    for fam in ("apply_dedup_batch", "apply_substring_batch", "apply_ann_batch"):
        c = sub(fam)
        m[f"{fam}.jobs"] = c.jobs
        m["ivm.state_bytes_written"] += c.output_bytes
    s = sub("search_ann")
    m["search_ann.input_bytes"], m["search_ann.jobs"] = s.input_bytes, s.jobs
    total = LayerCost()
    for c in costs.values():
        total.add(c)
    m.update({
        "exec.executor_run_s": total.executor_run_s,
        "exec.executor_cpu_s": total.executor_cpu_s,
        "exec.jvm_gc_s": total.jvm_gc_s,
        "exec.shuffle_read_bytes": total.shuffle_read_bytes,
        "exec.spill_bytes": total.spill_bytes,
    })
    for name, vals in ctx.ops.items():
        m[name] = statistics.median(vals)
    m["traced_round_s"] = statistics.median(ctx.rounds)
    return {name: m[name] for name in PER_LAYER}, costs


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until it has ended
    (the JVM exits when its standard input closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        from codex_data_products_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}", file=sys.stderr)
        return 2
    import workloads
    from tracing import Tracer, event_log_file, write_trace

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Python workers import the engine and the counting decoder by name;
    # temporary files of the JVM, Spark and Python stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [x for x in [os.environ.get("PYTHONPATH")] if x]
    )
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    stamp = f"{args.workload}-seed{args.seed}-{int(time.time())}"
    log_dir = os.path.join(state, "traces", f"eventlog-{stamp}")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    ctx = Ctx(args, work)
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        ctx.session_start_s = time.perf_counter() - t
        ctx.spark, ctx.sc = spark, spark.sparkContext
        ctx.tracer = Tracer(ctx.sc, enabled=bool(args.trace))
        w.setup(ctx)
        setup_s = time.perf_counter() - T0
        k = 0
        while not k or (not args.trace and sum(ctx.rounds) < args.seconds):
            k += 1
            ctx.rounds.append(0.0)
            done = ctx.done
            try:
                w.round(ctx, k)
            except Exception:
                # the round's remaining operations count as failed
                print(f"perfbench: operation failed in round {k}:\n"
                      + traceback.format_exc(), file=sys.stderr)
            ctx.attempted += w.ops
            ctx.failed += w.ops - (ctx.done - done)
            parts = ", ".join(f"{n}={v[-1]:.2f}" for n, v in ctx.ops.items())
            print(f"perfbench: round {k}: {ctx.rounds[-1]:.2f}s ({parts})", file=sys.stderr)
        if w.final_check is not None:
            w.final_check(ctx)
        if args.trace:
            stop_session(spark)
            spark = None
            metrics, costs = layer_metrics(ctx, event_log_file(log_dir))
            write_trace(
                os.path.join(state, "traces", f"{stamp}.json"),
                ctx.tracer.spans,
                costs,
                {"workload": args.workload, "seed": args.seed, "setup_s": setup_s,
                 "metrics": metrics, "problems": ctx.problems},
            )
        else:
            metrics = {"setup_s": setup_s, "round_s": statistics.median(ctx.rounds)}
            metrics = {name: metrics[name] for name in END_TO_END}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for msg in ctx.problems:
        print(f"perfbench: wrong output: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": not ctx.problems,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            name: {"value": v, "unit": {**END_TO_END, **PER_LAYER}[name]}
            for name, v in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
