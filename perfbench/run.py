"""perfbench: the repo benchmark (see perfbench/README.md).

    python3 perfbench/run.py --workload olap_sf0.1 --seed 1 --seconds 20 --trace 0

One run = one workload in one fresh process on local[N] (N = usable
cores, shuffle.partitions = N, default driver heap):

1. synthesise the fixtures once and check their row counts (untimed);
2. set up: start the session and JVM, register the fixture tables, run
   the warm-up query -- ``setup_s`` is process start to the first timed
   query, minus step 1 and the oracle's own set-up;
3. cold pass: each query's first execution in the fresh session, its
   result collected and compared against the DuckDB oracle with
   ``compare.compare_query`` (the comparison is outside the timing);
4. timed passes into the noop sink until ``--seconds`` have passed and at
   least the workload's ``passes`` ran; the seed permutes the query
   order of every pass.

``--trace 1`` runs two untraced timed passes, then alternates traced and
untraced ones (ending untraced), and reports the per-layer metrics of the
traced ones (perfbench/tracing.py) instead of the end-to-end metrics. The
last stdout line is the JSON result; the full run record, with spans when
traced, goes to .perfbench/runs/.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

E2E_METRICS: dict[str, str] = {
    "setup_s": "s",
    "suite_s": "s",
    "query_p50_s": "s",
    "cold_query_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
}
# Printed with the others but left out of the JSON metrics. failed_frac is
# 0 on a correct run, and the result's "failed"/"attempted" carry it
# exactly. query_tail_s is the highest percentile with at least 10 samples
# beyond it; a run that fits the benchmark's time budget has 6-18 (query,
# pass) samples, too few for that percentile to reach the median.
FAILED_FRAC = "failed_frac"
TAIL = "query_tail_s"
WARMUP_QUERY = "tpch_q6"
_STREAM_SCRATCH = "/tmp/dbspark_stream"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=None,
        help="override the workload's scale factor (smoke tests)",
    )
    return p.parse_args(argv)


class _RebasedPath:
    """``os.path`` whose ``join`` moves one hard-coded root elsewhere."""

    def __init__(self, old: str, new: str):
        self._old, self._new = old, new

    def join(self, first, *rest):
        return os.path.join(self._new if first == self._old else first, *rest)

    def __getattr__(self, name):
        return getattr(os.path, name)


class _RebasedOs:
    def __init__(self, old: str, new: str):
        self.path = _RebasedPath(old, new)

    def __getattr__(self, name):
        return getattr(os, name)


def _keep_scratch_in_checkout() -> None:
    """The streaming queries keep checkpoints under a fixed /tmp root;
    point that root into .perfbench/ so a run writes only inside its
    checkout."""
    import datafusion_ballista_spark.streaming as streaming
    from datafusion_ballista_spark.inventory import streaming_cov

    stream_root = os.path.join(WORK, "scratch", "dbspark_stream")
    for mod in (streaming, streaming_cov):
        mod.os = _RebasedOs(_STREAM_SCRATCH, stream_root)


def _environment() -> None:
    """Spark local dirs, JVM and Python temp dirs and the Python workers'
    import path, all pointed inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files under /tmp from the launcher or driver JVMs
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


class _Collected:
    """A query's collected result, in the shape ``compare_query`` reads, so
    the comparison reuses the cold execution instead of running it again."""

    def __init__(self, df, rows):
        self.columns = df.columns
        self.schema = df.schema
        self._rows = rows

    def collect(self):
        return self._rows


def _oracle(sf_dir: str, cpus: int):
    import duckdb

    from fixtures import TABLES

    con = duckdb.connect()
    con.execute(f"SET threads = {cpus}")
    con.execute("SET memory_limit = '4GB'")
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'duckdb-tmp')}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'"
        )
    return con


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait for the whole process tree."""
    from pyspark import SparkContext

    import procstat

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(procstat.tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def run(args) -> dict:
    import fixtures
    import procstat
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    sf = args.scale if args.scale is not None else wl.sf
    cpus = len(os.sched_getaffinity(0))

    # -- 1. fixtures and oracle (kept out of setup_s) -----------------------
    t_prep = time.perf_counter()
    sf_dir, synth_s = fixtures.ensure(os.path.join(WORK, "data"), sf)
    rows = fixtures.check_rows(sf_dir, sf)
    sizes = {
        t: os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
        for t in fixtures.TABLES
    }
    _environment()
    con = _oracle(sf_dir, cpus)
    prep_s = time.perf_counter() - t_prep

    # -- 2. set up ----------------------------------------------------------
    with procstat.RssSampler() as rss:
        t_session = time.perf_counter()
        from datafusion_ballista_spark.compare import compare_query
        from datafusion_ballista_spark.inventory import all_queries
        from datafusion_ballista_spark.session import get_session
        from datafusion_ballista_spark.sources.registry import register_all

        spark = get_session(
            master=f"local[{cpus}]",
            app_name="perfbench",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        _keep_scratch_in_checkout()
        specs = all_queries()
        t_warm = time.perf_counter()
        register_all(spark, sf_dir)
        specs[WARMUP_QUERY].spark(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        t_ready = time.perf_counter()
        setup_s = t_ready - _T0 - prep_s
        try:
            record = _measure(
                args, wl, spark, specs, sf_dir, con, compare_query, rss
            )
        finally:
            con.close()
            _shutdown(spark)
    record.update(
        workload=wl.name,
        seed=args.seed,
        trace=args.trace,
        sf=sf,
        cpus=cpus,
        conf={
            "master": f"local[{cpus}]",
            "spark.sql.shuffle.partitions": cpus,
            "driver_heap": "spark default",
        },
        fixtures={"dir": os.path.relpath(sf_dir, ROOT), "rows": rows,
                  "bytes": sizes, "synthesis_s": synth_s},
        prep_s=prep_s,
        setup_s=setup_s,
        session_start_s=t_warm - t_session,
        session_warmup_s=t_ready - t_warm,
        peak_rss_mb=rss.peak_jvm_bytes / 2**20,
        peak_workers_mb=rss.peak_workers_bytes / 2**20,
        rss_sampler_cpu_s=rss.cpu_s,
    )
    return record


def _measure(
    args, wl, spark, specs, sf_dir, con, compare_query, rss
) -> dict:
    import procstat

    rng = random.Random(args.seed)
    attempted = failed = 0
    errors: dict[str, str] = {}

    # -- 3. cold pass, checked against the oracle ---------------------------
    cold: dict[str, float] = {}
    checks: dict[str, dict] = {}
    for name in rng.sample(wl.queries, len(wl.queries)):
        attempted += 1
        try:
            t = time.perf_counter()
            df = specs[name].spark(spark, sf_dir)
            result = df.collect()
            cold[name] = time.perf_counter() - t
            rec = compare_query(_Collected(df, result), con, specs[name].oracle)
        except Exception as ex:  # a failing query is counted, not fatal
            rec = {"err": f"{type(ex).__name__}: {ex}"[:500]}
        checks[name] = rec
        if rec.get("err") or not rec.get("hash_match"):
            failed += 1
            errors[name] = rec.get("err") or "result differs from the oracle"

    # -- 4. timed passes ----------------------------------------------------
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
    passes: list[dict] = []
    steal0 = procstat.steal_ticks()
    cpu0, sampler0 = procstat.tree_cpu_s(), rss.cpu_s
    t_loop = time.perf_counter()

    def more() -> bool:
        if time.perf_counter() - t_loop < args.seconds:
            return True
        if args.trace:  # untraced, untraced, traced, ..., untraced
            return len(passes) < 4 or len(passes) % 2 == 1
        return len(passes) < wl.passes

    while more():
        traced = bool(args.trace) and len(passes) >= 2 and len(passes) % 2 == 0
        order = rng.sample(wl.queries, len(wl.queries))
        walls: dict[str, float] = {}
        if traced:
            p_span = tracer.span(f"pass:{len(passes)}", 0.0, 0.0, None)
            tracer.start_streaming()
        for name in order:
            attempted += 1
            try:
                if traced:
                    ev_mark = tracer.mark()
                    t = [time.time()]
                    df = specs[name].spark(spark, sf_dir)
                    t.append(time.time())
                    df._jdf.queryExecution().executedPlan()
                    t.append(time.time())
                    df.write.format("noop").mode("overwrite").save()
                    t.append(time.time())
                    walls[name] = t[3] - t[0]
                    tracer.record(name, p_span, ev_mark, t)
                else:
                    t0 = time.perf_counter()
                    specs[name].spark(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    walls[name] = time.perf_counter() - t0
            except Exception as ex:  # a failing query is counted, not fatal
                failed += 1
                errors[name] = f"{type(ex).__name__}: {ex}"[:500]
        if traced:
            tracer.stop_streaming()
            spans = [s for s in tracer.spans if s["parent"] == p_span]
            tracer.spans[p_span].update(
                start=min((s["start"] for s in spans), default=0.0),
                end=max((s["end"] for s in spans), default=0.0),
            )
        passes.append(
            {"traced": traced, "order": order, "walls": walls,
             "wall_s": sum(walls.values())}
        )
    # the RSS sampler's own CPU is the benchmark's, not the engine's
    cpu_total = procstat.tree_cpu_s() - cpu0 - (rss.cpu_s - sampler0)
    steal1 = procstat.steal_ticks()
    steal_frac = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    plain = [p for p in passes if not p["traced"]]
    samples = [w for p in plain for w in p["walls"].values()]
    # highest whole percentile with at least 10 samples strictly above it,
    # when that percentile is a tail (at or above the median)
    tail_pct = (
        100 * (len(samples) - 10) // len(samples) if len(samples) >= 20 else None
    )
    record = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "checks": checks,
        "cold_s": cold,
        "passes": passes,
        "samples": len(samples),
        "tail_pct": tail_pct,
        "suite_s": statistics.median(p["wall_s"] for p in plain) if plain else None,
        "query_p50_s": statistics.median(samples) if samples else None,
        TAIL: (
            statistics.quantiles(samples, n=100, method="inclusive")[tail_pct - 1]
            if tail_pct is not None else None
        ),
        "cold_query_s": statistics.geometric_mean(cold.values()) if cold else None,
        "cpu_s": cpu_total / len(passes),
        "steal_frac": steal_frac,
        FAILED_FRAC: failed / attempted,
    }
    if tracer is not None:
        record["layers"] = _layers(tracer, passes)
        record["traced_queries"] = tracer.queries
        record["spans"] = tracer.spans
    return record


def _layers(tracer, passes) -> dict[str, float]:
    """Per-layer metrics: the traced passes' totals, per pass."""
    from tracing import LAYER_METRICS

    n = sum(p["traced"] for p in passes)
    out = {k: 0.0 for k in LAYER_METRICS}
    for q in tracer.queries:
        for k in LAYER_METRICS:
            out[k] += q[k] / n
    out["trace.reconcile_err"] = max(
        (q["trace.reconcile_err"] for q in tracer.queries), default=0.0
    )
    # each traced pass sits between two untraced ones; comparing it with
    # their mean cancels the drift of a still-warming JVM (the first pass,
    # the steepest part of that drift, is never a neighbour)
    walls = [p["wall_s"] for p in passes]
    out["trace.overhead_frac"] = statistics.median(
        walls[i] / ((walls[i - 1] + walls[i + 1]) / 2) - 1
        for i, p in enumerate(passes) if p["traced"]
    )
    return out


def _result(args, record: dict) -> dict:
    from tracing import LAYER_METRICS

    if args.trace:
        layers = dict(
            record["layers"],
            **{"session.start_s": record["session_start_s"],
               "session.warmup_s": record["session_warmup_s"]},
        )
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": record[k], "unit": u} for k, u in E2E_METRICS.items()}
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = _args(argv)
    package = os.path.join(ROOT, "datafusion_ballista_spark", "__init__.py")
    if not os.path.isfile(package):
        print(f"perfbench: no datafusion_ballista_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    record = run(args)
    result = _result(args, record)
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    path = os.path.join(
        runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for name, m in result["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} {FAILED_FRAC} = {record[FAILED_FRAC]:.6g} ratio "
          f"({record['failed']}/{record['attempted']})")
    if record.get(TAIL) is not None:
        print(f"{args.workload} {TAIL} = {record[TAIL]:.6g} s "
              f"(p{record['tail_pct']} of {record['samples']} samples)")
    else:
        print(f"{args.workload} {TAIL} = n/a s ({record.get('samples', 0)} "
              "samples; a tail above the median needs 20)")
    print(f"{args.workload} peak_workers_mb = {record['peak_workers_mb']:.6g} MiB "
          "(Python workers; not gated)")
    print(f"{args.workload} steal_frac = {record['steal_frac']:.3g} ratio "
          "(machine CPU stolen by the hypervisor during the timed passes)")
    print(f"{args.workload} record: {os.path.relpath(path, ROOT)}")
    for name, err in record["errors"].items():
        print(f"{args.workload} FAILED {name}: {err}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
