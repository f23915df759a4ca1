"""The benchmark's workloads.

Each workload is a fixed slice of the system's real work, small enough
that a run (set-up with its warm-up pass, the timed passes and the output
check) fits the run-time budget on a 4-core host. The seed only
permutes query order within a pass; the inputs are the committed fixtures
and the committed copy of the sf0.01 test data under ``perfbench/data``
(another scale's directory can be given for evidence runs).

A pass returns one sample per query: (name, seconds, ran_ok). Every
output a pass writes goes under the pass directory it is given.
"""

from __future__ import annotations

import hashlib
import os
import re
import time
import traceback

from iceberg_benchmark_java_spark import catalog, corpus_ref
from iceberg_benchmark_java_spark.harness import BenchmarkRunner, discover_queries
from iceberg_benchmark_java_spark.harness.discovery import load_query
from iceberg_benchmark_java_spark.queries import all_oracles, all_queries

from probes import plan_probe

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


class Context:
    """What a pass needs besides the session: the tracer, the py4j
    counter and the per-query plan probes of a traced pass."""

    def __init__(self, tracer, py4j):
        self.tracer = tracer
        self.py4j = py4j
        self.probes: list[dict] = []
        self.build_jobs = 0

    def probe(self, df_factory) -> None:
        """Plan-probe a query in a traced pass; the time is tracer overhead."""
        if self.tracer.enabled:
            with self.tracer.span("trace.probe"):
                self.probes.append(plan_probe(df_factory()))


def _harness_query(ctx, spark, runner, suite: str, path) -> tuple[str, float, bool]:
    """Loading + one timed harness execution of a discovered file, as
    ``BenchmarkRunner.run_suite`` runs it."""
    ctx.tracer.query = f"{suite}/{path.name}"
    with ctx.tracer.span("harness.discovery"):
        text = load_query(path, "", "")
    with ctx.tracer.span("harness.exec"):
        res = runner.run_sql(suite, path.name, text)
    ctx.probe(lambda: spark.sql(text))
    ctx.tracer.query = None
    return (f"{suite}/{path.name}", res.execution_time_sec, res.status == "SUCCESS")


def _discover(ctx, suites) -> list[tuple[str, object]]:
    """Discovery of each (suite, query dir, file names) as the CLI runs it
    per suite, then the slice of the named files."""
    out = []
    with ctx.tracer.span("harness.discovery"):
        for suite, query_dir, names in suites:
            found = {p.name: p for p in discover_queries(query_dir)}
            out += [(suite, found[n]) for n in names]
    return out


def _result_hash(df) -> str:
    """Order-insensitive hash of the canonicalized result."""
    rows = sorted(tuple(str(v) for v in r) for r in corpus_ref.canonicalize(df).collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


class LakehouseRW:
    """One harness run over both catalogs, writes beside reads. Each pass
    writes a fresh partitioned warehouse of the test data (lineitem and orders by
    month, events by day) and runs schema-adapted TPC-H and pipeline SQL
    over it; then registers the TPC-DS fixtures under bare names and runs
    verbatim reference files; then publishes the results CSV. Collection
    of stage metrics is on, as in the reference harness."""

    name = "lakehouse_rw"
    ADAPTED = (
        ("tpch", "corpus/tpch", ("q01.sql", "q04.sql")),
        ("pipeline", "corpus/pipeline", ("p07_events_hourly.sql",)),
    )
    VERBATIM = ("tpcds", ("q03.sql", "q42.sql"))

    def __init__(self, root: str, data: str):
        self.root, self.data = root, data
        self.adapted_suites = [(s, os.path.join(root, d), names) for s, d, names in self.ADAPTED]
        suite, names = self.VERBATIM
        self.verbatim_suites = [(suite, corpus_ref.SUITES[suite][0], names)]
        # the files and the partitioned layout of the last pass, for the check
        self.adapted: list = []
        self.verbatim: list = []
        self.last_warehouse: str | None = None

    def run_pass(self, ctx, spark, rng, pass_dir: str):
        warehouse = os.path.join(pass_dir, "warehouse")
        scale = os.path.basename(self.data)
        runner = BenchmarkRunner(spark, run_id="lakehouse_rw", schema_size=scale)
        with ctx.tracer.span("catalog.register"):
            catalog.register_views(spark, self.data, partitioned_dir=warehouse)
        self.last_warehouse = warehouse
        self.adapted = _discover(ctx, self.adapted_suites)
        out = [
            _harness_query(ctx, spark, runner, suite, path)
            for suite, path in rng.sample(self.adapted, len(self.adapted))
        ]
        # Bare TPC-DS names shadow the test-data views (customer), so the
        # verbatim suite runs after the adapted one, as the reference runs
        # one suite after another.
        with ctx.tracer.span("corpus_ref.register"):
            corpus_ref.register_bare_views(spark, self.VERBATIM[0])
        self.verbatim = _discover(ctx, self.verbatim_suites)
        out += [
            _harness_query(ctx, spark, runner, suite, path)
            for suite, path in rng.sample(self.verbatim, len(self.verbatim))
        ]
        with ctx.tracer.span("harness.flush"):
            runner.flush_csv(os.path.join(pass_dir, "results"))
        return out

    def check(self, spark) -> dict[str, bool]:
        """Verbatim files against their committed DuckDB oracles, over the
        views the last pass registered; adapted files must give the same
        canonical result on the partitioned layout as on the flat one."""
        import duckdb
        from tools.check_correctness import compare

        fixtures = os.path.join(self.root, "fixtures")
        con = duckdb.connect()
        ok = {}
        for suite, path in self.verbatim:
            oracle = corpus_ref.load_oracle(suite, path.stem)
            # the committed oracles name the fixtures by absolute path
            oracle = re.sub(r"read_parquet\('[^']*/fixtures/", f"read_parquet('{fixtures}/", oracle)
            got = corpus_ref.canonicalize(spark.sql(load_query(path, "", ""))).toPandas()
            ok[f"{suite}/{path.name}"] = not compare(path.name, got, con.sql(oracle).df())
        hashes: dict[str, list[str]] = {}
        for layout in (self.last_warehouse, None):
            catalog.register_views(spark, self.data, partitioned_dir=layout)
            for suite, path in self.adapted:
                digest = _result_hash(spark.sql(load_query(path, "", "")))
                hashes.setdefault(f"{suite}/{path.name}", []).append(digest)
        ok.update({k: v[0] == v[1] for k, v in hashes.items()})
        return ok


class LLMPipeline:
    """Registry builders of the training-data pipeline, each built and then
    executed through the noop sink. Driver-side build (py4j round-trips,
    eager dial probes) and the Arrow/pandas operators dominate; the
    harness and catalog writes stay idle. No entry here publishes an
    index."""

    name = "llm_pipeline"
    ENTRIES = (
        "pipe_semantic_dedup",
        "pipe_minhash_lsh_candidates",
        "pipe_ann_cosine_topk",
        "pipe_sequence_packing_sharded",
        "pipe_text_quality",
    )

    def __init__(self, root: str, data: str):
        self.data = data
        queries = all_queries()
        self.builders = {n: queries[n] for n in self.ENTRIES}
        self.last: dict = {}

    def run_pass(self, ctx, spark, rng, pass_dir: str):
        tracker = spark.sparkContext.statusTracker()
        out = []
        for name in rng.sample(self.ENTRIES, len(self.ENTRIES)):
            ctx.tracer.query = name
            if ctx.tracer.enabled:
                with ctx.tracer.span("trace.probe"):
                    spark.sparkContext.setJobGroup("perfbench-build", name, False)
                    jobs0 = len(tracker.getJobIdsForGroup("perfbench-build"))
            t0 = time.perf_counter()
            ok = True
            try:
                with ctx.tracer.span("queries.build"), ctx.py4j.counting():
                    df = self.builders[name](spark, self.data)
                if ctx.tracer.enabled:
                    with ctx.tracer.span("trace.probe"):
                        ctx.build_jobs += len(tracker.getJobIdsForGroup("perfbench-build")) - jobs0
                        spark.sparkContext.setJobGroup("", "", False)
                with ctx.tracer.span("queries.exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 — one failing query never ends a run
                traceback.print_exc()
                ok = False
            out.append((name, time.perf_counter() - t0, ok))
            if ok:
                self.last[name] = df
                ctx.probe(lambda: df)
            else:
                self.last.pop(name, None)
            ctx.tracer.query = None
        return out

    def check(self, spark) -> dict[str, bool]:
        """The last pass's results against the registry DuckDB oracles."""
        import duckdb
        from tools.check_correctness import compare

        con = duckdb.connect()
        for t in TABLES.split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        oracles = all_oracles()
        return {
            n: n in self.last and not compare(n, self.last[n].toPandas(), con.sql(oracles[n]).df())
            for n in self.ENTRIES
        }


WORKLOADS = {w.name: w for w in (LLMPipeline, LakehouseRW)}
