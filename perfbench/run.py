"""Benchmark entry point.

    python3 perfbench/run.py --workload dw_stream --seed 1 --seconds 6 --trace 0

Run from the repository root. Set-up (session start, warm-up, input
generation) is repeated ``SETUP_REPS`` times and reported as its median;
the workload is then measured for ``--seconds`` with tracing off, and its
outputs are checked. With ``--trace 1`` the session is restarted with the
Spark event log on and the workload measured again with spans recorded;
that traced pass gives the per-layer metrics and the tracing overhead.
The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 2


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["dw_stream", "serving_queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _pin_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work`` and
    size the session to this machine. Runs before anything imports the
    engine: ``session`` reads ``SPARK_GRAFT_CPUS`` at import."""
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the session's heap knob: a fixed 2 GB cap keeps the process tree's
    # peak RSS a property of the workload rather than of how far the
    # collector let an 8 GB heap grow before it ran
    os.environ["SPARK_DRIVER_MEM"] = "2g"


def _session(work: str, event_log: bool):
    from gmall_flink_yb_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.eventLog.dir": os.path.join(work, "eventlog"),
        # plain JSON lines, read back by common.read_event_log
        "spark.eventLog.compress": "false",
    }
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(spark) -> None:
    """Fork the Python workers and load pandas in them once."""
    n = _cpus()
    spark.range(4096).repartition(n).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()


def _workload(name: str, seed: int, seconds: float):
    if name == "dw_stream":
        from perfbench.dw_stream import DwStream as W
    else:
        from perfbench.serving import Serving as W
    return W(seed, seconds)


def _env(tide_pre: dict, tide_post: dict) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": _cpus(), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark": pyspark.__version__, "python": platform.python_version(),
        "duckdb": duckdb.__version__, "tide": {"pre": tide_pre, "post": tide_post},
    }


def _key_of(rec):
    """Span key of a Spark job: its streaming query (dw_stream) or the job
    group set per query (serving_queries)."""
    groups = rec.get("groups", {})
    qids = {r["qid"]: r["app"] for r in rec.get("runs", [])}

    def key(props: dict):
        g = props.get("spark.jobGroup.id")
        if g in groups:
            return g
        return qids.get(props.get("sql.streaming.queryId"))
    return key


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_env(work)
    from bench import tide_probe
    from perfbench import common, gen

    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    tide_pre = tide_probe()
    wl = _workload(args.workload, args.seed, args.seconds)
    spark = None
    try:
        setups, starts, warms, gens = [], [], [], []
        for i in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            shutil.rmtree(os.path.join(work, "inputs"), ignore_errors=True)
            t0 = time.perf_counter()
            spark = _session(work, event_log=False)
            t1 = time.perf_counter()
            _warm(spark)
            t2 = time.perf_counter()
            wl.generate(os.path.join(work, "inputs"))
            t3 = time.perf_counter()
            setups.append(t3 - t0)
            starts.append(t1 - t0)
            warms.append(t2 - t1)
            gens.append(t3 - t2)
        _diag("setup", start_s=starts, warm_s=warms, generate_s=gens)
        wl.prepare(spark, os.path.join(work, "inputs"))
        _diag("prepared")
        # memory is the workload's: sampled while it runs, not while the
        # untimed preparation runs its batch jobs on every core
        with common.RssSampler() as rss:
            rec = wl.measure(spark, common.Tracer(False),
                             os.path.join(work, "run0"))
        _diag("measured")
        problems = wl.check(spark, rec)
        _diag("checked")
        e2e, layer, attempted, failed = wl.results(rec, common.Tracer(False))
        _diag("results", **rec.get("diag", {}))
        problems += [e for e in rec["errors"] if e not in problems]
        e2e["setup_s"] = statistics.median(setups)
        e2e["peak_rss_mb"] = rss.peak / 2**20
        if args.trace:
            spark.stop()
            spark = _session(work, event_log=True)
            _warm(spark)
            tracer = common.Tracer(True)
            trec = wl.measure(spark, tracer, os.path.join(work, "run1"))
            problems += wl.check(spark, trec)
            te2e, layer, tatt, tfail = wl.results(trec, tracer)
            problems += [e for e in trec["errors"] if e not in problems]
            attempted += tatt
            failed += tfail
            window = (trec["t0"], trec.get("end_wall", trec["t0"] + trec.get("wall_s", 0)))
            spark.stop()
            spark = None
            per_key = common.attribute_tasks(
                common.read_event_log(os.path.join(work, "eventlog")),
                _key_of(trec), window)
            for k, v in common.exec_metrics(
                    per_key, window[1] - window[0], _cpus()).items():
                layer[f"exec.{k}"] = v
            layer["session.start_s"] = statistics.median(starts)
            layer["session.warm_s"] = statistics.median(warms)
            # what tracing costs, so lower is better for each: added
            # latency, and throughput lost
            for k in ("latency_p50_s", "latency_tail_s"):
                layer[f"bench.tracing_overhead.{k}"] = te2e[k] - e2e[k]
            layer["bench.tracing_overhead.throughput_per_s"] = (
                e2e["throughput_per_s"] - te2e["throughput_per_s"])
            tracer.write(os.path.join(
                ROOT, ".bench_work", "traces",
                f"{args.workload}-seed{args.seed}.jsonl"))
            selft = tracer.self_times()
            print(json.dumps({"self_time_s": {k: round(v, 4) for k, v in
                                              sorted(selft.items())}}))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            spark.stop()
        _stop_gateway()
        shutil.rmtree(work, ignore_errors=True)

    correct = not problems
    if not correct:
        failed = attempted
        for p in problems:
            print(f"CORRECTNESS: {p}", file=sys.stderr)
    e2e["ok_ratio"] = (attempted - failed) / attempted if attempted else 0.0
    if args.trace:
        want = spec["per_layer"]
        vals = {m["name"]: layer.get(m["name"], 0.0) for m in want}
    else:
        want = spec["end_to_end"]
        vals = {m["name"]: e2e[m["name"]] for m in want}
    print(json.dumps({"env": _env(tide_pre, tide_probe()),
                      "generator": gen.params_record()}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": float(vals[m["name"]]),
                                "unit": m["unit"]} for m in want},
    }))
    return 0


def _diag(phase: str, **kv) -> None:
    """One progress line on stderr: the phase just finished and its
    figures."""
    print(json.dumps({"phase": phase, "at": round(time.time(), 3), **kv}),
          file=sys.stderr, flush=True)


def _stop_gateway() -> None:
    """Shut down the JVM gateway process and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
