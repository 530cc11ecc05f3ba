"""One benchmark run in one process: set up, warm up, measure, check.

Started by ``perfbench/run.py``, which sets the environment (package on
``PYTHONPATH`` for the Python workers, temp dirs inside the checkout) and
collects the Spark log. Prints a report and, as its last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

Closed loop, one client: the next op starts when the previous one ends.
Untraced runs report the end-to-end metrics. Traced runs alternate
untraced and traced ops; the traced ones give the per-layer metrics and
their difference to the untraced ones is ``trace.overhead_s``.
"""

from __future__ import annotations

import argparse
import dataclasses
import itertools
import json
import os
import sys
import time
import traceback

from . import sparkstats, stats
from .trace import Tracer, self_times
from .workloads import WORKLOADS

# session starts per run: setup_s is their median plus the workload's
# preparation and the warm-up
SESSION_STARTS = 3
# one op of either workload takes 3-5 s on a quiet 4-vCPU host
NOMINAL_OP_S = 5.0

E2E_UNITS = {"setup_s": "s", "op_s.p50": "s", "query_s.p50": "s",
             "cpu_s.p50": "s", "rows_per_s": "1/s"}
# the exact-count metrics of a traced op
COUNT_KEYS = ("plans.build_jobs", "barrier.cuts", "exec.jobs", "exec.stages",
              "exec.tasks", "exec.shuffle_read_bytes",
              "exec.shuffle_write_bytes", "exec.spill_bytes",
              "pipeline.load_calls", "pipeline.jobs", "sink.upsert_calls",
              "sink.jobs_per_upsert", "sink.bytes_written", "sink.write_amp",
              "sink.warehouse_files")
LAYER_UNITS = {
    "plans.build_s": "s", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.action_s": "s", "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s", "exec.driver_only_s": "s",
    "session.start_s": "s", "trace.overhead_s": "s",
    "plans.build_jobs": "count", "barrier.cuts": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "pipeline.load_calls": "count",
    "pipeline.jobs": "count", "sink.upsert_calls": "count",
    "sink.jobs_per_upsert": "count", "sink.bytes_written": "bytes",
    "sink.write_amp": "ratio", "sink.warehouse_files": "count",
    "jvm.peak_rss_mb": "MB", "host.steal_frac": "ratio",
    "host.cpus": "count", "spark.default_parallelism": "count",
    "counts.varying": "count",
}
# reported but kept out of the per-layer JSON: zero on one workload
TABLE_ONLY = ("barrier.cut_s", "sink.upsert_s")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--root", required=True, help="checkout root")
    p.add_argument("--tmp", required=True,
                   help="temp dir, deleted after the run")
    p.add_argument("--spans", help="where a traced run writes its spans")
    return p.parse_args(argv)


def spark_confs(tmp: str) -> dict[str, str]:
    return {"spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false"}


class Run:
    def __init__(self, args):
        self.args = args
        self.cpus = len(os.sched_getaffinity(0))
        self.pid = os.getpid()
        self.spark = None
        self.tracer = Tracer(on_enter=self._enter_span, on_exit=self._exit_span)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self._op_group: str | None = None
        self._op_ids = itertools.count()

    # -- job attribution: every span gets its own Spark job group --------
    def _enter_span(self, span):
        sparkstats.set_job_group(self.spark.sparkContext, f"pb-span-{span.id}")

    def _exit_span(self, span, parent):
        sparkstats.set_job_group(
            self.spark.sparkContext,
            f"pb-span-{parent.id}" if parent else self._op_group)

    def _wrap_layers(self):
        """Spans around the calls into each layer, from outside: the
        barrier is from-imported, so it is wrapped in every module that
        imported it."""
        from etl_ender_turing_spark.functions import barrier
        from etl_ender_turing_spark.pipeline import sync
        cut = barrier.lineage_cut
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("etl_ender_turing_spark")
                    and getattr(mod, "lineage_cut", None) is cut):
                self.tracer.wrap(mod, "lineage_cut", "barrier.cut")
        self.tracer.wrap(sync, "upsert_parquet", "sink.upsert")
        self.tracer.wrap(sync, "upsert_parquet_partitioned", "sink.upsert")

    # -- one op -----------------------------------------------------------
    def run_op(self, wl, traced: bool, check: bool = False) -> dict | None:
        sc = self.spark.sparkContext
        wl.before_op()
        order = wl.order()
        self._op_group = f"pb-op-{next(self._op_ids)}"
        sparkstats.set_job_group(sc, self._op_group)
        self.tracer.enabled = traced
        first_span = len(self.tracer.spans)
        self.attempted += 1
        cpu0, w0, e0 = (stats.tree_cpu_seconds(self.pid), time.perf_counter(),
                        time.time())
        try:
            queries = wl.op(self.tracer, order, check=check)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        finally:
            self.tracer.enabled = False
            sparkstats.set_job_group(sc, None)
        rec = {"wall": time.perf_counter() - w0,
               "cpu": stats.tree_cpu_seconds(self.pid) - cpu0,
               "queries": queries, "traced": traced}
        spans = self.tracer.spans[first_span:]
        groups = [self._op_group] + [f"pb-span-{s.id}" for s in spans]
        rec["jobs"] = sum(len(sparkstats.group_job_ids(sc, g)) for g in groups)
        if traced:
            rec["layers"] = self.layer_figures(wl, spans, e0, rec["wall"])
        return rec

    def layer_figures(self, wl, spans, e0: float, wall: float) -> dict:
        sc = self.spark.sparkContext
        by_id = {s.id: s for s in spans}

        def under(span, name):   # span or an ancestor is called `name`
            while span is not None:
                if span.name == name:
                    return True
                span = by_id.get(span.parent)
            return False

        def jobs(pred):
            return [j for s in spans if pred(s)
                    for j in sparkstats.group_job_ids(sc, f"pb-span-{s.id}")]

        all_jobs = jobs(lambda s: True) + sparkstats.group_job_ids(
            sc, self._op_group)
        ex = sparkstats.job_stats(sc, all_jobs)
        own = self_times(spans)
        build, action = wl.build_span, wl.action_span
        n_upserts = sum(s.name == "sink.upsert" for s in spans)
        upsert_jobs = len(jobs(lambda s: under(s, "sink.upsert")))
        phases = [sparkstats.catalyst_phases(df) for df in wl.frames]
        # build and action times include the spans nested in them (cuts,
        # upserts); those layers' own times are barrier.cut_s and
        # sink.upsert_s
        f = {
            "plans.build_s": sum(s.end - s.start for s in spans
                                 if s.name == build),
            "plans.build_jobs": len(jobs(lambda s: under(s, build))),
            "barrier.cuts": sum(s.name == "barrier.cut" for s in spans),
            "barrier.cut_s": own.get("barrier.cut", 0.0),
            "exec.action_s": sum(s.end - s.start for s in spans
                                 if s.name == action),
            "exec.jobs": ex["jobs"], "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.shuffle_read_bytes": ex["shuffle_read_bytes"],
            "exec.shuffle_write_bytes": ex["shuffle_write_bytes"],
            "exec.spill_bytes": ex["spill_bytes"],
            "exec.executor_run_s": ex["executor_run_s"],
            "exec.executor_cpu_s": ex["executor_cpu_s"],
            "exec.driver_only_s": wall - sparkstats.busy_seconds(
                ex["intervals"], e0, e0 + wall),
            "pipeline.load_calls": sum(s.name == "pipeline.load" for s in spans),
            "pipeline.jobs": len(jobs(lambda s: under(s, "pipeline.transform")
                                      or under(s, "pipeline.load"))),
            "sink.upsert_calls": n_upserts,
            "sink.upsert_s": sum(s.end - s.start for s in spans
                                 if s.name == "sink.upsert"),
            "sink.jobs_per_upsert": upsert_jobs / n_upserts if n_upserts else 0,
        }
        for phase in ("analysis", "optimization", "planning"):
            f[f"catalyst.{phase}_s"] = sum(p[phase] for p in phases)
        f.update(wl.sink_figures(e0))
        return f

    # -- the run ----------------------------------------------------------
    def main(self) -> dict:
        args = self.args
        host0 = stats.read_cpu_times()
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](args.root, args.tmp, args.seed)
        self.inputs_s = time.perf_counter() - t0
        # several session starts (the first launches the JVM); the
        # workload's one-off preparation follows the last one
        starts = []
        for _ in range(SESSION_STARTS):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            from etl_ender_turing_spark.session import get_spark
            self.spark = get_spark(f"perfbench-{wl.name}",
                                   master=f"local[{self.cpus}]",
                                   extra_conf=spark_confs(args.tmp))
            self.spark.range(1).count()
            starts.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare(self.spark)
        prepare_s = time.perf_counter() - t0

        # warm-up: one op, whose outputs are the ones checked. The run
        # budget allows no more; JIT compilation is still running after
        # it, which the fixed op count below keeps the same in every run.
        t0 = time.perf_counter()
        warm = self.run_op(wl, traced=False, check=True)
        warmup_s = time.perf_counter() - t0
        self.starts, self.prepare_s, self.warm = starts, prepare_s, warm
        self.attempted = self.failed = 0

        if args.trace:
            self._wrap_layers()
        # A fixed number of ops per run: --seconds over the nominal op
        # time. On a slow or contended host the run takes longer but
        # measures the same ops in the same order and JIT state, instead
        # of fewer, colder ones. Traced runs alternate untraced and traced
        # ops, starting and ending with an untraced one, so drift between
        # them cancels.
        n = max(1, round(args.seconds / NOMINAL_OP_S))
        plan = ([bool(i % 2) for i in range(2 * n + 1)] if args.trace
                else [False] * n)
        ops = []
        for traced in plan:
            rec = self.run_op(wl, traced=traced)
            if rec is not None:
                ops.append(rec)
        self.tracer.restore()
        if args.trace and args.spans:
            with open(args.spans, "w") as f:
                json.dump([dataclasses.asdict(s) for s in self.tracer.spans], f)

        t0 = time.perf_counter()
        self.problems = (wl.verify() if warm is not None
                         else ["the checked op failed"])
        self.verify_s = time.perf_counter() - t0
        jvm_rss = self._jvm_peak_rss_mb()
        parallelism = self.spark.sparkContext.defaultParallelism
        steal = stats.steal_share(host0, stats.read_cpu_times())
        self.spark.stop()
        wl.close()

        context = {"host.steal_frac": steal, "host.cpus": self.cpus,
                   "spark.default_parallelism": parallelism,
                   "jvm.peak_rss_mb": jvm_rss,
                   "session.start_s": stats.median(starts)}
        setup_s = stats.median(starts) + prepare_s + warmup_s
        return self.report(wl, ops, setup_s, context)

    def _jvm_peak_rss_mb(self) -> float:
        for pid in stats.process_tree(self.pid)[1:]:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        return stats.peak_rss_mb(pid)
            except OSError:
                continue
        return 0.0

    def report(self, wl, ops, setup_s, context):
        plain = [o for o in ops if not o["traced"]]
        traced = [o for o in ops if o["traced"]]
        walls = [o["wall"] for o in plain]
        qwalls = [s for o in plain for _, s, _ in o["queries"]]
        out_rows = sum(n for o in plain for _, _, n in o["queries"])
        e2e = {"setup_s": setup_s,
               "op_s.p50": stats.median(walls),
               "query_s.p50": stats.median(qwalls),
               "cpu_s.p50": stats.median([o["cpu"] for o in plain]),
               "rows_per_s": out_rows / sum(walls)}
        lines = [f"# workload {wl.name} seed {self.args.seed} "
                 f"trace {self.args.trace}: {len(plain)} untraced op(s), "
                 f"{len(traced)} traced, {len(qwalls)} query samples"]
        lines.append(f"# host steal {context['host.steal_frac']:.4f}, "
                     f"{context['host.cpus']} cpus, default parallelism "
                     f"{context['spark.default_parallelism']}, JVM peak RSS "
                     f"{context['jvm.peak_rss_mb']:.0f} MB")
        tail = stats.tail_percentile(len(qwalls))
        tail_txt = (f"query_s.p{tail} {stats.percentile(qwalls, tail):.4f} s"
                    if tail else "no tail percentile with >=10 samples beyond")
        lines.append(f"# {tail_txt}; ops_failed_ratio "
                     f"{self.failed}/{self.attempted}")
        per_query: dict[str, list[float]] = {}
        for o in plain:
            for q, s, _ in o["queries"]:
                per_query.setdefault(q, []).append(s)
        lines.extend(f"# query {q:<34} {stats.median(v):>9.4f} s (n={len(v)})"
                     for q, v in per_query.items())
        lines.append("# session starts " + " ".join(
                         f"{s:.2f}" for s in self.starts)
                     + f" s; inputs {self.inputs_s:.2f} s; prepare "
                     f"{self.prepare_s:.2f} s; checks {self.verify_s:.2f} s; "
                     "warm-up "
                     + (f"{self.warm['wall']:.2f} s wall {self.warm['cpu']:.2f}"
                        f" s cpu" if self.warm else "failed"))
        for k, v in e2e.items():
            lines.append(f"# e2e {k:<28} {v:>14.4f} {E2E_UNITS[k]}")
        lines.extend(f"# check FAIL {p}" for p in self.problems)

        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        if self.args.trace:
            layer = {k: stats.median([o["layers"][k] for o in traced])
                     for k in traced[0]["layers"]}
            layer.update(context)
            layer["trace.overhead_s"] = (stats.median([o["wall"] for o in traced])
                                         - stats.median(walls))
            varying = [k for k in COUNT_KEYS if not stats.repeats_exactly(
                [o["layers"][k] for o in traced])]
            if not stats.repeats_exactly([o["jobs"] for o in ops]):
                varying.append("jobs per op")
            layer["counts.varying"] = len(varying)
            for k in sorted(layer):
                unit = LAYER_UNITS.get(k, "s")
                lines.append(f"# layer {k:<26} {layer[k]:>14.4f} {unit}")
            lines.append("# counts that did not repeat exactly: "
                         + (", ".join(varying) or "none") + "; jobs per op "
                         + " ".join(str(o["jobs"]) for o in ops))
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                       for k, v in layer.items() if k not in TABLE_ONLY}
        print("\n".join(lines), flush=True)
        return {"correct": not self.problems and not self.failed,
                "attempted": self.attempted + 1,
                "failed": self.failed + (1 if self.problems else 0),
                "metrics": metrics}


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit: it exits when
    its stdin closes."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, args.root)
    try:
        result = Run(args).main()
    finally:
        stop_jvm()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
