"""Benchmark entry point: one workload per process, one closed-loop client.

    python3 perfbench/run.py --workload lakehouse_rw --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

A run starts Spark twice, each time in a JVM of its own, so that every
start includes the JVM launch; it then runs one untimed warm-up pass in
the last session (``setup_s`` is the median cold start plus the warm-up
pass), runs timed passes until ``--seconds`` have passed and at least
three have run, checks the outputs outside any timed region,
and prints one JSON line last on stdout: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
alternates untraced and traced passes, so that it can report the tracing
overhead. Spark runs on ``local[2]`` (``--cpus``). Everything
the run writes stays under ``.perfbench/`` in the checkout; the run fails
if any other file of the checkout changes.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # the checkout must not change

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import time

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
COLD_STARTS = 2
# The first timed pass still runs on the JIT's warm-up ramp; with three
# passes or more the median pass is a later one.
MIN_PASSES = 3
# span name -> per-layer metric of its summed self time
LAYER_SPANS = {
    "corpus_ref.register": "corpus_ref.register_s",
    "catalog.register": "catalog.register_s",
    "catalog.write": "catalog.write_s",
    "harness.discovery": "harness.discovery_s",
    "harness.exec": "harness.exec_s",
    "harness.collect": "harness.collect_s",
    "harness.flush": "harness.flush_s",
    "queries.build": "queries.build_s",
    "queries.exec": "queries.exec_s",
}
PLAN_KEYS = (
    "spark.analysis_ms",
    "spark.optimization_ms",
    "spark.planning_ms",
    "spark.exchanges",
    "spark.python_nodes",
    "spark.broadcast_joins",
    "spark.sort_merge_joins",
)


def declared_metrics(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def tree_state(root: str) -> dict[str, tuple[int, int]]:
    """Size and mtime of every file of the checkout outside ``.perfbench``
    and ``.git``. Stricter than ``git status --porcelain``: a write into an
    ignored path, such as a derived index under ``fixtures/``, shows too,
    and it works in a checkout that is not a git repository."""
    skip = {os.path.join(root, d) for d in (".perfbench", ".git")}
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if os.path.join(d, x) not in skip]
        for f in files:
            st = os.lstat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


def _set_env(work: str, cpus: int) -> None:
    """Point the temporary paths of Python, Spark and its workers into
    ``work``. Runs before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "PYTHONPATH": os.pathsep.join(path),
            "PYTHONDONTWRITEBYTECODE": "1",
        }
    )
    sys.path[:0] = [ROOT, HERE]


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class Run:
    """One benchmark run of one workload in this process."""

    def __init__(self, args, work: str):
        from iceberg_benchmark_java_spark import catalog
        from iceberg_benchmark_java_spark.harness import metrics as harness_metrics
        from iceberg_benchmark_java_spark.session import local_test_config
        from workloads import DATA, WORKLOADS

        self.seconds, self.trace, self.work = args.seconds, bool(args.trace), work
        self.rng = random.Random(args.seed)
        self.wl = WORKLOADS[args.workload](ROOT, os.path.abspath(args.data_dir or DATA))
        self.tracer = probes.Tracer(enabled=False)
        self.cfg = local_test_config("perfbench")
        self.cfg.extra_confs.update(
            {
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
                ),
            }
        )
        self.passes = 0
        self.pass_dir: str | None = None
        self.rest_calls = 0
        if self.trace:
            # In the untraced passes of a traced run these record nothing.
            get_json = harness_metrics._get_json

            def counted_get(url):
                if self.tracer.enabled:
                    self.rest_calls += 1
                return get_json(url)

            harness_metrics._get_json = counted_get
            self.tracer.wrap(harness_metrics.StageMetricsCollector, "collect", "harness.collect")
            self.tracer.wrap(catalog, "write_partitioned_warehouse", "catalog.write")

    def _pass(self, ctx):
        """One pass in a fresh directory; the previous pass's is removed."""
        if self.pass_dir:
            shutil.rmtree(self.pass_dir)
        self.pass_dir = os.path.join(self.work, f"pass-{self.passes}")
        os.makedirs(self.pass_dir)
        self.passes += 1
        return self.wl.run_pass(ctx, self.spark, self.rng, self.pass_dir)

    def setup(self) -> None:
        """Start Spark ``COLD_STARTS`` times, each in a new JVM that the
        previous start's teardown ended, so that every start includes the
        JVM launch; then run the one untimed warm-up pass, which registers
        what the workload reads, in the last session."""
        from iceberg_benchmark_java_spark.session import build_session
        from workloads import Context

        self.session_starts = []
        for i in range(COLD_STARTS):
            if i:
                self._stop()
            t0 = time.perf_counter()
            self.spark = build_session(self.cfg)
            self.session_starts.append(time.perf_counter() - t0)
            self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        gateway = self.spark.sparkContext._gateway
        self.py4j = probes.Py4jCounter(gateway._gateway_client if self.trace else None)
        t0 = time.perf_counter()
        self._pass(Context(self.tracer, self.py4j))
        self.warmup_s = time.perf_counter() - t0

    def timed(self) -> tuple[list[dict], list[dict]]:
        """Passes until ``seconds`` have elapsed and ``MIN_PASSES`` untraced
        passes have run. A traced run measures for twice as long and
        traces every other pass, so that traced and untraced passes sample
        the JVM's warm-up ramp alike; it returns (untraced, traced)
        passes."""
        from workloads import Context

        rest = probes.SparkRest(self.spark.sparkContext) if self.trace else None
        plain, traced = [], []
        t_end = time.perf_counter() + self.seconds * (2 if self.trace else 1)
        while time.perf_counter() < t_end or len(plain) < MIN_PASSES or (self.trace and not traced):
            on = self.trace and len(plain) > len(traced)
            ctx = Context(self.tracer, self.py4j)
            if on:
                rest.delta()  # skip the stages of untraced passes
                self.rest_calls = self.py4j.calls = 0
                cpu0 = probes.python_worker_cpu_s(self.jvm_pid)
            self.tracer.enabled = on
            root_id = len(self.tracer.spans)
            t0 = time.perf_counter()
            with self.tracer.span("pass"):
                samples = self._pass(ctx)
            rec = {"wall_s": time.perf_counter() - t0, "samples": samples}
            self.tracer.enabled = False
            if on:
                cpu = probes.python_worker_cpu_s(self.jvm_pid) - cpu0
                rec["layers"] = self._layers(root_id, ctx, rest, cpu)
                rec["wall_s"] = rec["layers"]["pass_wall_s"]
            (traced if on else plain).append(rec)
        return plain, traced

    def _layers(self, root_id: int, ctx, rest, python_cpu_s: float) -> dict[str, float]:
        """One traced pass: span self times, counters, Spark's stage totals
        and the summed plan probes. Probe time is tracer work, so it is
        taken out of the pass wall."""
        selfs, wall = self.tracer.self_times(root_id)
        probe_s = selfs.pop("trace.probe", 0.0)
        out = {metric: selfs.get(span, 0.0) for span, metric in LAYER_SPANS.items()}
        out["pass_wall_s"] = wall - probe_s
        out["unaccounted_s"] = out["pass_wall_s"] - sum(out[m] for m in LAYER_SPANS.values())
        out["trace.probe_s"] = probe_s
        out["harness.rest_calls"] = self.rest_calls
        out["queries.py4j_calls"] = self.py4j.calls
        out["queries.build_jobs"] = ctx.build_jobs
        out["operators.python_cpu_s"] = python_cpu_s
        files, size = _dir_size(os.path.join(self.pass_dir, "warehouse"))
        out["catalog.files_written"], out["catalog.bytes_written"] = files, size
        out.update(rest.delta())
        for key in PLAN_KEYS:
            out[key] = sum(p.get(key, 0) for p in ctx.probes)
        return out

    def _stop(self) -> None:
        """Stop Spark, end the JVM (its gateway exits when its stdin
        closes) and wait until the JVM and its Python workers are gone.
        The next session then launches a new JVM."""
        from pyspark import SparkContext

        workers = probes.children(self.jvm_pid)
        self.spark.stop()
        jvm = SparkContext._gateway.proc
        jvm.stdin.close()
        jvm.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        if not probes.wait_gone(workers, timeout=60):
            raise RuntimeError(f"Spark's Python workers still running: {workers}")

    def finish(self, timed: list[dict], traced: list[dict]) -> dict:
        t0 = time.perf_counter()
        checked = self.wl.check(self.spark)
        check_s = time.perf_counter() - t0
        peak_mb = probes.vm_hwm_mb(self.jvm_pid)
        self._stop()
        samples = [s for p in timed for s in p["samples"]]
        ok = [ran and checked.get(name, False) for name, _, ran in samples]
        times = sorted(t for _, t, _ in samples)
        per_query: dict[str, list[float]] = {}
        for name, t, _ in samples:
            per_query.setdefault(name, []).append(t)
        rec = {
            "session_starts_s": self.session_starts,
            "warmup_s": self.warmup_s,
            "passes": timed,
            "traced_passes": traced,
            "check": checked,
            "check_s": check_s,
            "attempted": len(ok),
            "failed": ok.count(False),
            "correct": all(checked.values()) and all(ok),
            "query_samples": len(times),
        }
        if len(times) >= 100:
            rec["query_p90_s"] = statistics.quantiles(times, n=10)[-1]
        rec["end_to_end"] = {
            "setup_s": _median(self.session_starts) + self.warmup_s,
            "pass_s": _median([p["wall_s"] for p in timed]),
            # each query's median over the passes, then the median query:
            # steadier than the pooled median, which with an even number of
            # samples falls between two queries' times
            "query_p50_s": _median([_median(ts) for ts in per_query.values()]),
            "success_ratio": ok.count(True) / max(len(ok), 1),
            "jvm_peak_rss_mb": peak_mb,
        }
        if traced:
            layer = {"session.start_s": _median(self.session_starts)}
            for k in traced[0]["layers"]:
                layer[k] = _median([p["layers"][k] for p in traced])
            layer["trace.overhead_s"] = layer["pass_wall_s"] - rec["end_to_end"]["pass_s"]
            layer["check_s"] = check_s
            rec["per_layer"] = layer
            rec["spans"] = self.tracer.spans
        return rec


def run_one(args) -> int:
    os.makedirs(STATE, exist_ok=True)
    work = os.path.join(STATE, f"work-{os.getpid()}")
    before = tree_state(ROOT)
    _set_env(work, args.cpus)
    steal0, host0 = probes.cpu_times(), probes.host_diagnostics()
    try:
        r = Run(args, work)
        r.setup()
        rec = r.finish(*r.timed())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    changed = sorted(set(before.items()) ^ set(tree_state(ROOT).items()))
    if changed:
        print(f"perfbench: the run changed the checkout: {sorted({p for p, _ in changed})}",
              file=sys.stderr)
        return 3
    rec.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        cpus=args.cpus, data_dir=args.data_dir,
        host={"start": host0, "end": probes.host_diagnostics(),
              "steal_fraction": probes.steal_fraction(steal0, probes.cpu_times())},
    )
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(runs, name), "w") as fh:
        json.dump(rec, fh)
    measured = rec["per_layer"] if args.trace else rec["end_to_end"]
    units = declared_metrics("per_layer" if args.trace else "end_to_end")
    if set(measured) != set(units):
        raise RuntimeError(f"measured {sorted(measured)} but BENCHMARK.json declares {list(units)}")
    metrics = {k: {"value": measured[k], "unit": u} for k, u in units.items()}
    for k, m in metrics.items():
        print(f"perfbench {args.workload} {k} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"perfbench host {rec['host']} record {os.path.join(runs, name)}", file=sys.stderr)
    return _emit(
        {
            "correct": rec["correct"],
            "attempted": rec["attempted"],
            "failed": rec["failed"],
            "metrics": metrics,
        }
    )


def _emit(obj) -> int:
    os.write(REAL_STDOUT, (json.dumps(obj) + "\n").encode())
    return 0


def run_all(args) -> int:
    """Every workload in its own process; one table of all their metrics."""
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    lines, results = [], {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--cpus", str(args.cpus)]
        cmd += ["--data-dir", args.data_dir] if args.data_dir else []
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
        results[name] = json.loads(out.strip().splitlines()[-1])
        for k, m in results[name]["metrics"].items():
            lines.append(f"{name:<14} {k:<28} {m['value']:>14.6g} {m['unit']}")
        lines.append(f"{name:<14} {'correct':<28} {results[name]['correct']!s:>14}")
    os.write(REAL_STDOUT, ("\n".join(lines) + "\n").encode())
    return _emit(results)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, help="a workload name, or all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=2, help="Spark local[N] cores")
    p.add_argument("--data-dir", help="test data of another scale, for evidence runs "
                   "(default: the committed sf0.01 copy)")
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    # Spark and the JVM it starts write to fd 1; only the result line may.
    REAL_STDOUT = os.dup(1)
    os.dup2(2, 1)
    sys.exit(main())
