"""Benchmark of the suite's workloads: set-up, cold pass and warm passes.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 30 --trace 0

One run is one fresh Spark driver process, closed loop with one client:
the workload's suite entries (perfbench/workloads.json) run back to back
through the noop sink, in an order permuted by ``--seed``. The data
are the program's default sf0.1 test tables and do not change with
the seed. A run has three timed phases:

1. set-up: ``get_spark`` and the SQL, Python-worker and streaming
   engine warmups, measured from the start of this script;
2. the cold pass: the first pass over the entries, which pays table
   cache fills, memo builds and first code generation;
3. warm passes in the same session: at least two, more while the
   cold pass plus the warm passes fit in ``--seconds``.

After the timed passes, every entry's output from the last pass is
checked against the order-insensitive hash in perfbench/hashes.json.
The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of perfbench/layers.py with
``--trace 1``. A traced run also writes its spans and per-entry
metrics to ``.perfbench/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM = "marketing_etl_analytics_spark"
OUT_DIR = ROOT / ".perfbench"
MB = 1 << 20
# warm passes per run: at least MIN_WARM, more while they fit in
# --seconds, and none started past MAX_MEASURE_S
MIN_WARM = 2
MAX_MEASURE_S = 120.0


class BenchError(Exception):
    """A usage or environment error: reported on stderr, exit code 2."""


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_json(name: str) -> dict:
    with open(BENCH / name) as fh:
        return json.load(fh)


def configure_session_env() -> None:
    """The program settings of a benchmark session, set before pyspark
    starts: local[<usable cores>], the table cache on, the program
    importable by Python workers, and the data set and shuffle width
    left at the program's defaults."""
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_CACHE_TABLES": "1",
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    })
    for var in ("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def workload_entries(workloads: dict, workload: str) -> list[str]:
    if workload not in workloads:
        raise BenchError(
            f"unknown workload {workload!r}; known: {', '.join(sorted(workloads))}"
        )
    return list(workloads[workload]["entries"])


def resolve_entries(workloads: dict, workload: str, suite) -> list[str]:
    """The workload's entry names, checked against the program's suite."""
    entries = workload_entries(workloads, workload)
    unknown = [e for e in entries if e not in suite]
    if unknown:
        raise BenchError(
            f"workload {workload!r} names entries the suite does not have: "
            + ", ".join(unknown)
        )
    return entries


def check_outputs(dfs: dict, stored: dict, hash_of) -> dict[str, str]:
    """Compare each entry's output with its stored hash.

    ``dfs`` maps entry -> DataFrame (None if the entry raised),
    ``hash_of(expected, df)`` returns the observed values for the keys
    of ``expected``. Returns entry -> reason for every entry that fails;
    a mismatch or an exception fails that entry only."""
    failures = {}
    for name, df in dfs.items():
        if df is None:
            continue
        expected = {k: v for k, v in stored.get(name, {}).items()
                    if k in ("rows", "h1", "h2")}
        if not expected:
            failures[name] = "no stored output hash"
            continue
        try:
            got = hash_of(expected, df)
        except Exception as e:  # noqa: BLE001 — a broken output fails its entry
            failures[name] = f"output check raised {type(e).__name__}: {e}"
            continue
        if got != expected:
            failures[name] = f"output {got} != stored {expected}"
    return failures


def hash_of(expected: dict, df) -> dict:
    from perfbench.outhash import output_hash, row_count

    if set(expected) == {"rows"}:
        return row_count(df)
    return output_hash(df)


def run_pass(spark, suite, sf_dir, order, pass_no, tracer, dfs, failures) -> float:
    """One pass over ``order``; returns its wall time in seconds."""
    sc = spark.sparkContext
    t0 = time.perf_counter()
    for name in order:
        sc.setJobGroup(name, name)
        tracer.begin_entry(pass_no, name)
        df = None
        t_entry = time.perf_counter()
        try:
            with tracer.span("entry", key=(pass_no, name)):
                with tracer.span("build"):
                    df = suite[name].fn(spark, sf_dir)
                tracer.set_phase("exec")
                with tracer.span("exec"):
                    df.write.mode("overwrite").format("noop").save()
        except Exception as e:  # noqa: BLE001 — one entry must not end the run
            traceback.print_exc()
            failures.setdefault(name, f"pass {pass_no} raised {type(e).__name__}: {e}")
            df = None
        dfs[name] = df
        print(f"[perfbench] pass {pass_no} {name}: "
              f"{time.perf_counter() - t_entry:.3f}s", file=sys.stderr, flush=True)
        tracer.end_entry(df)
    return time.perf_counter() - t0


def stored_bytes(spark) -> int:
    """Memory plus disk bytes of every persisted or checkpointed RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it every
    Python worker it forked) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def warm_up(spark, tracer) -> None:
    from pyspark.sql.functions import pandas_udf

    with tracer.span("session.warm_sql"):
        spark.range(1).count()
    with tracer.span("session.warm_python"):
        ident = pandas_udf(lambda s: s, "long")
        (spark.range(64).repartition(spark.sparkContext.defaultParallelism)
         .select(ident("id")).write.mode("overwrite").format("noop").save())
    with tracer.span("session.warm_stream"):
        # the first streaming query in a session pays the engine's
        # one-time class loading and codegen; a one-partition stateful
        # rate query touches the same paths and no entry data
        name = "perfbench_warm_stream"
        q = (spark.readStream.format("rate").option("numPartitions", 1).load()
             .dropDuplicates(["value"])
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        spark.catalog.dropTempView(name)


def run(args, workloads: dict, run_dir: Path) -> dict:
    from marketing_etl_analytics_spark.session import get_spark
    from marketing_etl_analytics_spark.sources.catalog import DEFAULT_SF_DIR
    from marketing_etl_analytics_spark.suite import SUITE
    from perfbench.layers import LAYER_METRICS, NullTracer, Tracer

    entries = resolve_entries(workloads, args.workload, SUITE)
    hashes = load_json("hashes.json")
    sf_dir = DEFAULT_SF_DIR
    if os.path.basename(os.path.normpath(sf_dir)) != hashes["data"]:
        raise BenchError(f"data directory {sf_dir} is not the hashed {hashes['data']}")
    if not os.path.isdir(sf_dir):
        raise BenchError(f"data directory {sf_dir} not found")
    order = list(entries)
    random.Random(args.seed).shuffle(order)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    tracer = Tracer(str(run_dir / "eventlog"), cores) if args.trace else NullTracer()
    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(run_dir / "eventlog")
        conf.update(tracer.spark_conf())
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", extra_conf=conf)
    try:
        if args.trace:
            tracer.attach(spark)
        warm_up(spark, tracer)
        setup_s = time.perf_counter() - T_START

        dfs: dict = {}
        failures: dict[str, str] = {}
        t_measure = time.perf_counter()
        cold = run_pass(spark, SUITE, sf_dir, order, 0, tracer, dfs, failures)
        warm: list[float] = []
        while True:
            warm.append(run_pass(spark, SUITE, sf_dir, order, len(warm) + 1,
                                 tracer, dfs, failures))
            if len(warm) == 1:
                # storage after every entry ran twice: taken at a fixed
                # pass, since a per-call leak grows with the pass count
                stored_mb = stored_bytes(spark) / MB
            elapsed = time.perf_counter() - t_measure
            if len(warm) >= MIN_WARM and elapsed + warm[-1] > min(args.seconds, MAX_MEASURE_S):
                break

        spark.sparkContext.setJobGroup("perfbench.verify", "output check")
        with tracer.span("verify"):
            failures.update(check_outputs(dfs, hashes["entries"], hash_of))
        if args.trace:
            tracer.collect_memo()
            tracer.detach()
    finally:
        stop_spark(spark)

    for name, why in sorted(failures.items()):
        print(f"[perfbench] FAILED {name}: {why}", file=sys.stderr)
    warm_pass_s = statistics.median(warm)
    print(f"[perfbench] {args.workload} seed={args.seed} order={order} "
          f"setup={setup_s:.3f}s cold={cold:.3f}s warm={[round(w, 3) for w in warm]}",
          file=sys.stderr)
    if args.trace:
        metrics, record = tracer.report(warm_pass_s)
        OUT_DIR.mkdir(exist_ok=True)
        out = OUT_DIR / f"trace-{args.workload}-seed{args.seed}.json"
        with open(out, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "order": order,
                       "setup_s": setup_s, "cold_pass_s": cold, "warm_passes_s": warm,
                       "metrics": metrics, **record}, fh, indent=1, default=str)
        reported = {n: {"value": metrics[n], "unit": u} for n, u in LAYER_METRICS}
    else:
        reported = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_pass_s": {"value": cold, "unit": "s"},
            "warm_pass_s": {"value": warm_pass_s, "unit": "s"},
            "stored_mb": {"value": stored_mb, "unit": "MB"},
            "pass_rate": {"value": 1 - len(failures) / len(order), "unit": "ratio"},
        }
    return {
        "correct": not failures,
        "attempted": len(order),
        "failed": len(failures),
        "metrics": reported,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    try:
        workloads = load_json("workloads.json")
        workload_entries(workloads, args.workload)
        if not (ROOT / PROGRAM).is_dir():
            raise BenchError(f"program package {PROGRAM}/ not found in {ROOT}")
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    run_dir = OUT_DIR / f"run-{os.getpid()}"
    for sub in ("tmp", "local"):
        os.makedirs(run_dir / sub)
    configure_session_env()
    os.environ.update({
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
    })
    cwd = os.getcwd()
    os.chdir(run_dir)
    try:
        result = run(args, workloads, run_dir)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
