"""Benchmark of the emulating_hadoop_with_mpi_spark package.

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One driver process issues ops one after
another (a closed loop with one client) on ``local[nproc]`` with
``nproc`` shuffle partitions.  A run sets up once (process start to
session up and inputs staged, the cost a one-shot CLI run pays), runs
every op once untimed as a warm-up, then runs seeded-order passes over
the ops until ``--seconds`` have gone by, and checks the outputs.

The last stdout line is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer split of ``tracing.py`` with ``--trace 1``.
The exit code is 1 when an op raised or an output check failed, 2 when
the package cannot be imported.  Run records and traces are written under
``.perfbench_out/`` in the checkout.
"""

import time

_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
INPUT_SEEDS = 1 << 28
DRIVER_MEM = "3g"  # the session default (16g) exceeds the RAM of a 15 GB, 4-core host
END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "op_geomean_s": "s", "cpu_s": "s",
    "jvm_peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, cpus: int):
    from emulating_hadoop_with_mpi_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                # A pinned heap size keeps G1 from resizing it between
                # samples; pages are still touched only when used, so
                # jvm_peak_rss_mb follows the heap the ops use.  No
                # hsperfdata file outside the checkout.
                f"-Xms{DRIVER_MEM} -XX:-UsePerfData"
                f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Run:
    def __init__(self, args, cpus: int, work: str):
        import workloads

        self.args, self.cpus, self.work = args, cpus, work
        # Any integer --seed works: the generators take non-negative seeds
        # below 2**32, and the matrix files derive ``seed * 10 + 3`` from it.
        seed = args.seed % INPUT_SEEDS
        self.wl = workloads.WORKLOADS[args.workload](seed)
        self.rng = random.Random(seed)
        self.groups = itertools.count()
        self.attempted = self.failed = 0

    def setup(self) -> tuple[float, float]:
        """Session start (from process start, so JVM launch and imports
        count) and input staging."""
        self.spark = start_session(self.work, self.cpus)
        t1 = time.perf_counter()
        self.staged = self.wl.stage(self.spark, os.path.join(self.work, "inputs"))
        return t1 - _PROCESS_START, time.perf_counter() - t1

    def sample(self, op, warm: bool, parent) -> dict | None:
        """One op sample in a fresh job group, isolated from the ones
        before it; None when the op raised."""
        from emulating_hadoop_with_mpi_spark.functions.pipeline import release_curate_cache

        import host

        gc.collect()
        sc = self.spark.sparkContext
        sc._jvm.System.gc()
        group = f"perfbench-{next(self.groups)}"
        sc.setJobGroup(group, op.name)
        span = self.tracer.start(op.name, parent.id, warm=warm, group=group)
        self.attempted += 1
        cpu0 = host.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            df = op.build()
            t1, w1 = time.perf_counter(), time.time()
            digest = (op.warm_act if warm and op.warm_act else op.act)(df)
            t2, w2 = time.perf_counter(), time.time()
            cpu_s = host.tree_cpu_s(os.getpid()) - cpu0
        except Exception:  # the run goes on; the failure is counted and reported
            traceback.print_exc()
            self.failed += 1
            self.tracer.end(span, failed=True)
            return None
        finally:
            self.spark.catalog.clearCache()
            release_curate_cache()
        row = {"op": op.name, "plan_s": t1 - t0, "exec_s": t2 - t1, "cpu_s": cpu_s}
        if self.tracer.enabled:
            row.update(self.tracer.collect_sample(span, group, (w1, w2)))
        self.wl.record(op.name, digest, warm)
        self.tracer.end(span, plan_s=row["plan_s"], exec_s=row["exec_s"])
        return row

    def passes(self, ops, name: str, parent, seconds: float) -> list[list[dict]]:
        """Seeded-order passes over ``ops`` until ``seconds`` have gone by
        (at least one)."""
        out, start = [], time.perf_counter()
        while not out or time.perf_counter() - start < seconds:
            span = self.tracer.start(f"{name} {len(out)}", parent.id)
            order = self.rng.sample(ops, len(ops))
            out.append([r for r in (self.sample(op, name == "warmup", span) for op in order) if r])
            self.tracer.end(span)
        return out

    def execute(self) -> dict:
        import host
        import tracing

        start_s, stage_s = self.setup()
        self.tracer = tracing.Tracer(self.spark, enabled=bool(self.args.trace))
        run_span = self.tracer.start("run", workload=self.wl.name, seed=self.args.seed)
        ops = self.wl.ops(self.spark)
        jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()

        t = time.perf_counter()
        self.passes(ops, "warmup", run_span, 0)
        warmup_s = time.perf_counter() - t

        probe_s = host.python_probe_s()
        steal0 = host.steal_s()
        timed = self.passes(ops, "pass", run_span, self.args.seconds)
        steal_s = host.steal_s() - steal0
        rss_mb = host.vm_hwm_mb(jvm_pid)

        failures = self.wl.check(self.spark)
        self.attempted += 1
        self.failed += bool(failures)
        for f in failures:
            print(f"perfbench: check failed: {f}", file=sys.stderr)

        samples = [s for p in timed for s in p]
        per_op = {}
        for s in samples:
            per_op.setdefault(s["op"], []).append(s["plan_s"] + s["exec_s"])
        wall_s = statistics.median(sum(s["plan_s"] + s["exec_s"] for s in p) for p in timed)
        end_to_end = {
            "setup_s": start_s + stage_s,
            "wall_s": wall_s,
            "op_geomean_s": math.exp(
                statistics.fmean(math.log(statistics.median(v)) for v in per_op.values())
            ),
            "cpu_s": statistics.median(sum(s["cpu_s"] for s in p) for p in timed),
            "jvm_peak_rss_mb": rss_mb,
        }
        record = {
            "workload": self.wl.name, "seed": self.args.seed, "trace": self.args.trace,
            "input_size": self.wl.size, "passes": len(timed),
            "host": {"cpus": self.cpus, "driver_mem": DRIVER_MEM,
                     "steal_s": steal_s, "probe_s": probe_s},
            "end_to_end": end_to_end,
            "per_op_median_s": {k: statistics.median(v) for k, v in per_op.items()},
            "start_s": start_s, "stage_s": stage_s, "warmup_s": warmup_s,
            "attempted": self.attempted, "failed": self.failed,
        }
        if self.tracer.enabled:
            decode_s, write_s, out_bytes = self.wl.split(
                self.spark, os.path.join(self.work, "split-out"))
            layers = {
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "sources.stage_s": stage_s,
                "sources.input_bytes": self.staged.bytes,
                "sources.input_records": self.staged.records,
                "sources.decode_s": decode_s,
                "sinks.write_s": write_s,
                "sinks.output_bytes": out_bytes,
                **tracing.layer_metrics(samples, {op.name: op.module for op in ops}),
                "host.steal_s": steal_s,
                "host.probe_s": probe_s,
                "trace.wall_s": wall_s,
            }
            self.tracer.end(run_span)
            record.update(per_layer=layers, layer_map=tracing.LAYER_MAP,
                          per_op_samples=samples, spans=self.tracer.dump())
        return record

    def stop(self) -> None:
        """Stop the session and its JVM (whose Python workers end with it)."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def summary_line(rec: dict) -> str:
    e = rec["end_to_end"]
    parts = [f"{k}={e[k]:.4f} {END_TO_END_UNITS[k]}" for k in END_TO_END_UNITS]
    parts.append(f"fail_frac={rec['failed'] / rec['attempted']:.4f} ratio"
                 f" ({rec['failed']}/{rec['attempted']})")
    h = rec["host"]
    return (f"{rec['workload']} seed={rec['seed']} trace={rec['trace']} passes={rec['passes']}"
            f" [{rec['input_size']}]: " + " ".join(parts)
            + f" | host: {h['cpus']} cpus, driver mem {h['driver_mem']},"
            f" steal {h['steal_s']:.2f} s, probe {h['probe_s']:.4f} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import emulating_hadoop_with_mpi_spark as package
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(package.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the package must come from {ROOT}, not {package.__file__}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in (os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    run = Run(args, cpus, work)
    try:
        rec = run.execute()
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)

    tag = f"{args.workload}-seed{args.seed}"
    if args.trace:
        base = os.path.join(out_dir, f"run-{tag}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                rec["trace_overhead_s"] = rec["end_to_end"]["wall_s"] - json.load(f)["end_to_end"]["wall_s"]
    with open(os.path.join(out_dir, f"run-{tag}-trace{args.trace}.json"), "w") as f:
        json.dump(rec, f, indent=1)

    print(summary_line(rec))
    if "trace_overhead_s" in rec:
        print(f"tracing overhead: {rec['trace_overhead_s']:+.4f} s of wall_s against the untraced run")
    if args.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in rec["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in rec["end_to_end"].items()}
    correct = rec["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0 if correct else 1


def _unit(name: str) -> str:
    import tracing

    suffix = name.rsplit(".", 1)[1]
    if suffix in tracing.MODULE_METRICS:
        return tracing.MODULE_METRICS[suffix]
    if suffix.endswith("_s"):
        return "s"
    return "bytes" if suffix.endswith("bytes") else "count"


if __name__ == "__main__":
    sys.exit(main())
