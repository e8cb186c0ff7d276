"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload pages_ingest --seed 1 --seconds 15 --trace 0

Closed loop, one client: one pipeline call at a time from this process,
pinned to the cores it may use (``SPARK_GRAFT_CPUS`` is set to their count).

1. Inputs for the seed are generated (cached under ``perfbench/.data``) and
   the DuckDB oracle is evaluated; neither is timed.
2. Set-up runs ``SETUPS`` times (Spark session, inputs registered, JVM and
   Python-worker warm-up); ``setup_s`` is their median.  The first also
   counts the interpreter's imports and the JVM launch.
3. The workload runs back to back for ``--seconds`` and at least
   ``MIN_CALLS`` calls; every call is checked against the oracle and against
   the content hash seen for this seed.  ``run_s`` is the median
   call time after the first ``WARMUP_CALLS`` calls.
4. With ``--trace 1`` one more call runs with a span and a Spark job group
   around every layer call and each layer's output materialised; counters
   come from the Spark event log.

The last line of stdout is one JSON object: correct, attempted, failed and
the end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Each run writes its spans and a summary under ``perfbench/.runs/<run id>``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3
#: the first calls of the timed loop warm the JIT; they are checked but left
#: out of the run_s median
WARMUP_CALLS = 1
#: the timed loop makes at least this many calls
MIN_CALLS = 3
#: C1-only JIT: a run lasts about a minute, and with C2 the JIT was still
#: recompiling (and competing for the 4 cores) on the third call, which
#: spread run_s by 15% between runs.  A fixed-size ParallelGC heap: with the
#: default 8g G1 heap the heap grew by a different amount in each run and
#: peak_rss_mb spread by 27% between runs.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:+UseParallelGC -Xms3g"
DRIVER_MEM = "3g"
#: a call that runs longer than this is cancelled and counted as failed
CALL_TIMEOUT_S = 100.0
#: no new call starts once the process has run this long
START_LIMIT_S = 100.0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _identity(batches):
    yield from batches


def setup(prev, wl, conf: dict):
    """(Re)create the session, register the inputs and warm the JVM and the
    Python workers (as bench.py does)."""
    from geospatial_analysis_integrity_tool_spark.session import get_spark

    if prev is not None:
        prev.stop()
    spark = get_spark(f"perfbench-{wl.name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    wl.register(spark)
    # one trivial Arrow task per core starts the reused Python workers
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(0, 1024, 1, cpus).mapInPandas(_identity, schema="id long").count()
    return spark


def clean_slate(spark) -> None:
    """Start each call from the same state: no cached DataFrames and no
    garbage left over from the previous call in either heap."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def timed_loop(spark, wl, run_dir: str, seconds: float):
    from perfbench.workloads import NoTrace

    samples, errors, hashes = [], [], set()
    attempted = 0
    deadline = time.perf_counter() + seconds
    while attempted < MIN_CALLS or time.perf_counter() < deadline:
        if time.perf_counter() - T0 > START_LIMIT_S:
            log("start limit reached; ending the timed loop early")
            break
        out_dir = os.path.join(run_dir, f"out{attempted}")
        wl.fresh_out(out_dir)
        clean_slate(spark)
        attempted += 1
        timer = threading.Timer(CALL_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
        timer.start()
        t = time.perf_counter()
        try:
            res = wl.run(spark, out_dir, NoTrace())
            dt = time.perf_counter() - t
            errs = wl.check(res)
        except Exception as e:  # a failed call is counted, the run goes on
            traceback.print_exc()
            errs = [f"call {attempted}: {type(e).__name__}: {e}"]
        finally:
            timer.cancel()
        shutil.rmtree(out_dir, ignore_errors=True)
        if errs:
            errors.extend(errs)
        else:
            samples.append(dt)
            hashes.add(res["hash"])
            log(f"call {attempted}: {dt:.3f} s, {res['rows']} conditions")
    return samples, attempted, errors, hashes


def traced_call(spark, wl, run_dir: str, run_id: str):
    from perfbench.workloads import LayerTrace

    tr = LayerTrace(run_id, spark.sparkContext)
    out_dir = os.path.join(run_dir, "traced_out")
    wl.fresh_out(out_dir)
    clean_slate(spark)
    with tr.span("run", group="bench"):
        res = wl.run(spark, out_dir, tr)
    metrics, errs = wl.layer_metrics(spark, res, tr)
    errs += wl.check(res)
    spark.sparkContext.setJobGroup("bench", "bench")
    spark.catalog.clearCache()
    shutil.rmtree(out_dir, ignore_errors=True)
    tr.write(os.path.join(run_dir, "spans.jsonl"))
    root = next(s for s in tr.spans if s.name == "run")
    return tr, res, metrics, errs, root.end - root.start


def check_seed_hash(wl, hashes: set) -> list[str]:
    """The content hash must be the same in every call of every run of a seed."""
    from perfbench import gen

    if not hashes:
        return []
    if len(hashes) > 1:
        return [f"content hash differs between calls: {sorted(hashes)}"]
    (h,) = hashes
    path = os.path.join(gen.seed_dir(wl.seed), f"hash_{wl.hash_key}.json")
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)["hash"]
        return [] if want == h else [f"content hash {h} != {want} seen for this seed"]
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"hash": h}, f)
    os.replace(tmp, path)
    return []


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process this run started."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    pids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.2)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the JVM and the Python workers inherit this process's CPU affinity
    cpus = os.sched_getaffinity(0)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(HERE, ".runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "events"))
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    os.environ["TMPDIR"] = tmp_dir
    # every JVM, the spark-submit launcher too, keeps its files in the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(cpus))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    from perfbench import metrics as M
    from perfbench.trace import RssSampler, parse_event_log, self_times
    from perfbench.workloads import WORKLOADS, layer_of

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    import_s = time.perf_counter() - T0

    t = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed)
    log(f"inputs ready in {time.perf_counter() - t:.2f} s: {wl.features} features")

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": JVM_OPTIONS,
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    spark = None
    try:
        with RssSampler() as rss:
            setups = []
            for i in range(SETUPS):
                t = time.perf_counter()
                spark = setup(spark, wl, conf)
                setups.append(time.perf_counter() - t + (import_s if i == 0 else 0.0))
            wl.prepare(spark, run_dir)
            samples, attempted, errors, hashes = timed_loop(
                spark, wl, run_dir, args.seconds
            )
        failed = attempted - len(samples)
        if args.trace:
            app_id = spark.sparkContext.applicationId
            tr, res, layer, errs, traced_s = traced_call(spark, wl, run_dir, run_id)
            attempted += 1
            failed += bool(errs)
            errors += errs
            hashes.add(res["hash"])
    finally:
        shutdown(spark)
    hash_errs = check_seed_hash(wl, hashes)
    if hash_errs:  # a wrong content hash fails every call that produced it
        errors += hash_errs
        failed = attempted

    timed = samples[WARMUP_CALLS:] if len(samples) > WARMUP_CALLS else samples
    run_s = statistics.median(timed) if timed else 0.0
    summary = {
        "run_id": run_id,
        "setups_s": setups,
        "samples_s": samples,
        "run_s_tail": M.percentile_with_tail(timed),
        "errors": errors,
    }
    if args.trace:
        counters = parse_event_log(os.path.join(run_dir, "events", app_id), layer_of)
        selfs = self_times(tr.spans)
        layer.update({f"{name}.s": selfs.get(name, 0.0) for name in M.PAGE_LAYERS})
        layer.update({
            f"queries.{fam}.s": selfs.get(f"queries.{fam}", 0.0)
            for fam in M.REGION_FAMILIES
        })
        layer["suite.build_s"] = selfs.get("suite", 0.0)
        layer["suite.build_jobs"] = counters.get("suite", {}).get("jobs", 0)
        for lay, vals in counters.items():
            layer.update({f"{lay}.{c}": vals[c] for c in M.COUNTERS})
        layer["tracing_overhead_s"] = traced_s - run_s
        metrics = M.render(layer, M.PER_LAYER)
        shutil.rmtree(os.path.join(run_dir, "events"), ignore_errors=True)
    else:
        metrics = M.render(
            {
                "setup_s": statistics.median(setups),
                "run_s": run_s,
                "features_per_s": wl.features / run_s if run_s else 0.0,
                "peak_rss_mb": rss.peak_bytes / 1e6,
            },
            M.END_TO_END,
        )
    for scratch in ("local", "tmp"):
        shutil.rmtree(os.path.join(run_dir, scratch), ignore_errors=True)
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump({**summary, "metrics": metrics}, f, indent=1)
    for e in errors:
        log(f"CHECK FAILED: {e}")
    log(
        f"run_s median {run_s:.3f} s over {len(timed)} calls "
        f"(tail percentile: {summary['run_s_tail'] or 'needs >= 20 calls'}); "
        f"setups {[round(s, 3) for s in setups]}"
    )
    correct = not errors and bool(samples)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
