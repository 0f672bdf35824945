"""Layer-traced benchmark of the ts2g2_spark rollup engine.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 \\
        --seconds 10 --trace 0

Workloads (see perfbench/README.md): pipeline_batch, series_graphs,
serve_refresh.  Each run generates its inputs from --seed, sets up three
times (median reported as setup_s), runs a one-client closed loop of the
workload's operations for about --seconds of operation time, checks the
outputs, and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
(spans around calls into the package, Spark's own counters).  The full
record of a run, spans included, is written to
.perfbench_work/results/<workload>-seed<seed>-trace<t>.json.

Spark runs at local[nproc] with shuffle partitions = nproc.  Everything the
run writes stays under .perfbench_work/ in the checkout root.
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
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2
LAYERS = ("plans.pipeline", "plans.rollup", "plans.chunks", "plans.lineage",
          "plans.points", "catalog", "operators.graphs", "streaming.ingest",
          "perfbench")

TIMING_MODE = {
    "setup_s": (
        "median (= mean) of 2 set-ups in one process. Set-up 1 = JVM launch "
        "+ session start + input load + one untimed warm pass (one full "
        "cycle of the workload's op mix on the full input); set-up 2 opens "
        "a new SparkSession on the same context (JVM, code-generation "
        "cache and Python workers stay warm), then loads and warms again. "
        "Input generation is excluded "
        "(datagen.s), and so is serve_refresh's one-time base fold "
        "(fold.base_s), which runs in set-up 1's session before its load."),
    "loop": (
        "warm: every timed op runs after the set-ups' warm passes, in the "
        "session of set-up 2; closed loop, one client, whole cycles of the "
        "workload's op mix until about --seconds of op time (at least 2 "
        "cycles; 3 for serve_refresh); Spark caches "
        "are released (spark.catalog.clearCache) before every op and each "
        "pipeline run writes a fresh catalog; correctness checks run "
        "between ops, outside the timed regions."),
    "trace": (
        "--trace 1 repeats the same run with spans and Spark counter reads; "
        "counter reads happen after each op, outside its timed region; "
        "tracing overhead = traced minus untraced end-to-end numbers."),
}


def host_facts(nproc: int) -> dict:
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {"nproc": nproc, "cpu_model": model,
            "loadavg_before": list(os.getloadavg()),
            "python": sys.version.split()[0]}


def start_session(work: str, nproc: int):
    from ts2g2_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", parallelism=nproc, shuffle_partitions=nproc,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
            # keep the JVM's temp files (and no hsperfdata) inside the
            # checkout
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def summary(xs: list[float]) -> dict:
    """Median and sample count; a tail percentile only when at least ten
    samples lie beyond it."""
    out = {"median": statistics.median(xs) if xs else None, "n": len(xs)}
    for q in (0.99, 0.9):
        if len(xs) * (1 - q) >= 10:
            out[f"p{round(q * 100)}"] = statistics.quantiles(
                xs, n=100)[round(q * 100) - 1]
            break
    return out


class Run:
    def __init__(self, args):
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(
            ROOT, ".perfbench_work",
            f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.traced = bool(args.trace)
        self.tracer = Tracer() if self.traced else None
        self.wl = WORKLOADS[args.workload](
            os.path.join(self.work, "data"), args.seed, self.nproc)
        self.wl.span = self.span
        self.wl.traced = self.traced
        self.ops: list[dict] = []
        self.layer: dict = {}

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.traced else nullcontext()

    # -------------------------------------------------------------- setup
    def setup(self) -> None:
        wl = self.wl
        t = time.perf_counter()
        self.facts = wl.generate()
        self.datagen_s = time.perf_counter() - t
        self.setups, self.starts, self.loads, self.warms = [], [], [], []
        spark = None
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = (start_session(self.work, self.nproc) if spark is None
                     else spark.newSession())
            t1 = time.perf_counter()
            prep = 0.0
            if i == 0:
                wl.prepare(spark)
                prep = time.perf_counter() - t1
                t1 += prep
                cg = self._codegen(spark)
            wl.load(spark)
            t2 = time.perf_counter()
            wl.warm()
            t3 = time.perf_counter()
            if i == 0:
                cg1 = self._codegen(spark)
                self.codegen_cold = (cg1[0] - cg[0], cg1[1] - cg[1])
            self.starts.append(t1 - t0 - prep)
            self.loads.append(t2 - t1)
            self.warms.append(t3 - t2)
            self.setups.append(t3 - t0 - prep)
        self.spark = spark
        self.spread_guard()

    @staticmethod
    def _codegen(spark) -> tuple[int, float]:
        jvm = spark._jvm
        n = jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME().getCount()
        ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
            .CodeGenerator.compileTime()
        return n, ns / 1e6

    def spread_guard(self) -> None:
        """Every input frame must cover >= nproc partitions (a collapsed
        input measures the scheduler, not the kernels); partition rows
        max/median is recorded per frame."""
        from pyspark.sql import functions as F

        self.partitions, self.skew = {}, {}
        for name, df in self.wl.spread_frames().items():
            rows = [r[0] for r in df.groupBy(F.spark_partition_id())
                    .count().select("count").collect()]
            self.partitions[name] = len(rows)
            self.skew[name] = max(rows) / statistics.median(rows)
            if len(rows) < self.nproc:
                raise SystemExit(
                    f"spread guard: input {name} covers {len(rows)} "
                    f"partitions, fewer than nproc={self.nproc}")

    # --------------------------------------------------------------- loop
    def loop(self) -> None:
        undo = None
        if self.traced:
            from perfbench.trace import SparkCounters, instrument

            self.counters = SparkCounters(self.spark)
            undo = instrument(self.tracer)
        try:
            self._loop()
            t = time.perf_counter()
            self._guarded(self.wl.final_checks)
            self.final_checks_s = time.perf_counter() - t
            if self.traced:
                self.layer = self.wl.trace_extras()
        finally:
            if undo:
                undo()

    def _loop(self) -> None:
        seconds = self.args.seconds
        busy, cycle_s, streak = 0.0, [], 0
        while True:
            if len(cycle_s) >= self.wl.MIN_CYCLES and (
                    busy + 0.5 * statistics.median(cycle_s) >= seconds
                    or busy >= 3 * seconds or streak >= 3):
                break
            c0 = busy
            for op_type, fn in self.wl.cycle():
                rec = self._op(op_type, fn)
                busy += rec["s"]
                streak = 0 if rec["ok"] else streak + 1
                post = rec["facts"].pop("post", None)
                if post is not None:
                    self._guarded(post)
            cycle_s.append(busy - c0)
        self.busy_s = busy
        self.cycles = len(cycle_s)

    def _op(self, op_type: str, fn) -> dict:
        self.spark.catalog.clearCache()
        rec = {"type": op_type, "ok": True, "facts": {}}
        counting = (self.counters.operation(rec) if self.traced
                    else nullcontext())
        t_out = time.perf_counter()
        with counting:
            with self.span(f"op.{op_type}", "perfbench") as sp:
                t0 = time.perf_counter()
                try:
                    rec["facts"] = fn() or {}
                except Exception:  # noqa: BLE001 - a failed op is counted
                    traceback.print_exc()
                    rec["ok"] = False
                rec["s"] = (time.perf_counter() - t0
                            - rec["facts"].get("untimed_s", 0.0))
            if sp is not None:
                rec["span"] = sp["id"]
                rec["span_end"] = len(self.tracer.spans)
        rec["overhead_s"] = (time.perf_counter() - t_out - rec["s"]
                             - rec["facts"].get("untimed_s", 0.0))
        self.ops.append(rec)
        return rec

    def _guarded(self, check) -> None:
        try:
            check()
        except Exception as e:  # noqa: BLE001 - a failed check is counted
            traceback.print_exc()
            self.wl.check(getattr(check, "__name__", "check"), False,
                          f"raised {type(e).__name__}: {e}")

    # ------------------------------------------------------------ metrics
    def by_type(self, op_type: str) -> list[float]:
        return [o["s"] for o in self.ops if o["type"] == op_type and o["ok"]]

    def _subtree(self, op: dict, under: str | None = None) -> list[dict]:
        """Spans recorded during `op` (its own span first), or only those
        inside its first span named `under`."""
        spans = self.tracer.spans[op["span"]:op["span_end"]]
        if under is not None:
            top = next(s for s in spans if s["name"] == under)
            spans = [s for s in spans if s["id"] >= top["id"]
                     and s["t1"] <= top["t1"]]
        return spans

    def span_seconds(self, op: dict, name: str,
                     under: str | None = None) -> float:
        return sum(s["t1"] - s["t0"] for s in self._subtree(op, under)
                   if s["name"] == name)

    def span_execs(self, op: dict, under: str | None = None
                   ) -> dict[str, dict]:
        """SQL metrics of the op's executions, summed per innermost span
        (by name) that was open when each execution was submitted."""
        from perfbench.trace import SQL_METRICS

        spans = self._subtree(op, under)
        out: dict[str, dict] = {}
        for e in op.get("executions", []):
            inside = [s for s in spans if s["t0"] <= e["t0"] <= s["t1"]]
            if not inside:
                continue
            inner = max(inside, key=lambda s: s["t0"])
            acc = out.setdefault(inner["name"], dict.fromkeys(SQL_METRICS,
                                                              0.0))
            for k in SQL_METRICS:
                acc[k] += e[k]
        return out

    def end_to_end(self) -> dict:
        wl = self.wl
        prim = self.by_type(wl.primary)
        sec = self.by_type(wl.secondary)
        pps = wl.points_per_s(self)
        n_ok = sum(o["ok"] for o in self.ops)
        return {
            "setup_s": (statistics.median(self.setups), "s",
                        len(self.setups)),
            "ops_per_s": (n_ok / self.busy_s, "ops/s", n_ok),
            "points_per_s": (statistics.median(pps), "points/s", len(pps)),
            "primary_p50_ms": (statistics.median(prim) * 1e3, "ms",
                               len(prim)),
            "secondary_p50_ms": (statistics.median(sec) * 1e3, "ms",
                                 len(sec)),
        }

    def per_layer(self) -> dict:
        ops = [o for o in self.ops if o["ok"]]
        n = len(ops)
        op_s = sum(o["s"] for o in ops)
        selft = self.tracer.self_times([o["span"] for o in ops])
        total_self = sum(selft.values())
        c = self.counters
        pts = self.wl.points_processed(self)
        m = {
            "session.start_s": (self.starts[0], "s"),
            "session.jvm_rss_peak_mb": (c.jvm_rss_peak_kb / 1024, "MB"),
            "session.py_rss_peak_mb": (c.py_rss_peak_kb / 1024, "MB"),
            "datagen.s": (self.datagen_s, "s"),
            "setup.load_s": (statistics.median(self.loads), "s"),
            "setup.warm_s": (statistics.median(self.warms), "s"),
            "spark.codegen_cold_ms": (self.codegen_cold[1], "ms"),
            "spark.codegen_cold_classes": (self.codegen_cold[0], "count"),
            "spark.codegen_classes_per_op": (
                sum(o["codegen_classes"] for o in ops) / n, "count"),
            "spark.planning_ms": (statistics.median(
                o["planning_ms"] for o in ops), "ms"),
            "spark.jobs_per_op": (sum(o["jobs"] for o in ops) / n, "count"),
            "spark.tasks_per_op": (sum(o["tasks"] for o in ops) / n,
                                   "count"),
            "spark.shuffle_bytes_per_op": (
                sum(o["shuffle_bytes"] for o in ops) / n, "B"),
            "spark.spill_bytes": (sum(o["spill_bytes"] for o in ops), "B"),
            "spark.write_bytes_per_op": (
                sum(o["write_bytes"] for o in ops) / n, "B"),
            "python.core_share": (
                sum(o["py_run_ms"] for o in ops) / 1e3
                / (op_s * self.nproc), "ratio"),
            "arrow.bytes_per_point": (
                sum(o["arrow_bytes_in"] + o["arrow_bytes_out"]
                    for o in ops) / pts, "B/point"),
            "input.partitions": (min(self.partitions.values()), "count"),
            "input.partition_skew": (max(self.skew.values()), "ratio"),
            "trace.overhead_ms_per_op": (
                statistics.median(o["overhead_s"] for o in ops) * 1e3,
                "ms"),
        }
        for layer in LAYERS:
            m[f"self.{layer}"] = (selft.get(layer, 0.0) / total_self,
                                  "ratio")
        self.self_s = selft
        return m

    # ------------------------------------------------------------- output
    def report(self) -> dict:
        wl = self.wl
        attempted = len(self.ops) + len(wl.checks)
        failed = (sum(not o["ok"] for o in self.ops)
                  + sum(not ok for _, ok, _ in wl.checks))
        e2e = self.end_to_end()
        named = wl.named_metrics(self)
        named["error_rate"] = (failed / attempted, "ratio", attempted)
        named["setup_s"] = e2e["setup_s"]
        out = {
            "workload": wl.name, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "host": self.host, "timing_mode": TIMING_MODE,
            "inputs": self.facts, "partitions": self.partitions,
            "partition_rows_max_over_median": self.skew,
            "setups_s": self.setups, "cycles": self.cycles,
            "busy_s": self.busy_s,
            "ops": [{k: v for k, v in o.items() if k != "executions"}
                    for o in self.ops],
            "checks": wl.checks,
            "named_metrics": named,
            "final_checks_s": self.final_checks_s,
        }
        print(f"# perfbench {wl.name} seed={self.args.seed} "
              f"seconds={self.args.seconds} trace={self.args.trace}")
        print("# host " + json.dumps(self.host))
        for k, v in TIMING_MODE.items():
            print(f"# timing {k}: {v}")
        print(f"# input {json.dumps(self.facts)} partitions="
              f"{self.partitions} rows_max/median={self.skew}")
        for name, (v, unit, n) in named.items():
            print(f"metric {name} {v:.6g} {unit} n={n}")
        for op_type in dict.fromkeys(o["type"] for o in self.ops):
            sm = summary([o["s"] * 1e3 for o in self.ops
                          if o["type"] == op_type and o["ok"]])
            tail = "".join(f" {k}={v:.1f}" for k, v in sm.items()
                           if k.startswith("p"))
            print(f"op {op_type} median_ms={sm['median']:.1f} n={sm['n']}"
                  + tail)
        for name, ok, detail in wl.checks:
            print(f"check {name} {'ok' if ok else 'FAILED'} {detail}")
        if self.traced:
            metrics = self.per_layer()
            metrics.update(wl.layer_metrics(self))
            metrics.update(self.layer)
            out["self_s"] = self.self_s
            out["spans"] = self.tracer.spans
            for name, (v, unit) in sorted(metrics.items()):
                print(f"layer {name} {v:.6g} {unit}")
            for layer, s in sorted(self.self_s.items(), key=lambda x: -x[1]):
                print(f"self {layer} {s:.3f} s")
            contract = {k: metrics[k] for k in self.contract_names(
                "per_layer")}
        else:
            contract = {k: (v, u) for k, (v, u, _) in e2e.items()}
            for name, (v, unit, n) in e2e.items():
                print(f"e2e {name} {v:.6g} {unit} n={n}")
        out["metrics"] = {k: {"value": v, "unit": u}
                          for k, (v, u) in contract.items()}
        out["correct"] = failed == 0
        out["attempted"] = attempted
        out["failed"] = failed
        return out

    @staticmethod
    def contract_names(kind: str) -> list[str]:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return [m["name"] for m in json.load(f)[kind]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "ts2g2_spark")):
        print("perfbench: ts2g2_spark package not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run = Run(args)
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    run.host = host_facts(run.nproc)
    try:
        run.setup()
        run.host.update(run.wl.versions(run.spark))
        run.loop()
        run.host["loadavg_after"] = list(os.getloadavg())
        out = run.report()
    finally:
        try:
            if getattr(run, "spark", None) is not None:
                run.spark.stop()
        finally:
            stop_jvm()
    res_dir = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(
            res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}"
            ".json"), "w") as f:
        json.dump(out, f, indent=1, default=str)
    shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps({"correct": out["correct"],
                      "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": out["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
