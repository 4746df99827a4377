"""mre benchmark: one seeded closed-loop workload per invocation.

    python3 perfbench/run.py --workload extract_heavytail --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. Spark runs at local[nproc] through
``mre.io.get_spark``. ``--trace 0`` measures the end-to-end metrics with
tracing off; ``--trace 1`` measures the same window in a session with
``get_spark``'s configuration plus the Spark UI, under spans and job
groups, and reports the per-layer metrics and the tracing overhead (the
tracer's own wall time ÷ the calls' wall time). Every output is
checked against ground truth known by construction. All scratch data
lives under ``.perfbench_work/`` in the repository and is removed at
exit except the run record (environment, per-call arrays, spans) in
``.perfbench_work/records/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3   # input generations per run; setup_s counts their median
# a run whose host steal exceeds this share of CPU time is marked
# ``steal_flagged`` in its record (kept, so comparisons can leave it out):
# whole runs slowed by 25-70 % under 5-11 % steal
STEAL_FLAG_PCT = 2.0


def _env(work: str) -> None:
    """Confine Spark, the JVM and the Python workers to ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TZ": "UTC", "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        # the JVM heap ceiling of a small shared host, not get_spark's 16g
        "MRE_DRIVER_MEM": "4g",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            f"--conf spark.sql.warehouse.dir={work}/warehouse",
            f"--conf spark.hadoop.hadoop.tmp.dir={tmp}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell"]),
    })
    time.tzset()


def _stop_jvm() -> None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(lat: list[float]) -> tuple[float, float]:
    """The highest percentile of ``lat`` with ≥ 10 samples beyond it, and
    that percentile; with fewer than 11 samples, the maximum (100)."""
    s = sorted(lat)
    if len(s) < 11:
        return s[-1], 100.0
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def window(spark, wl, seconds: float, jvm_pid, spans=None, calls=None):
    """The closed loop: prepare (untimed), call (timed), check (untimed),
    until ``seconds`` of wall have passed; at least one call. Traced
    (``calls`` given), each call runs under a span and a job group, and
    ``tracer_s`` sums the tracer's own wall: span and group bookkeeping
    around the call plus the collection of its engine numbers."""
    from instrument import RssSampler
    lat, docs, failed, per_call, tracer_s = [], 0, 0, [], 0.0
    with RssSampler(jvm_pid) as rss:
        t_start = time.perf_counter()
        while not lat or time.perf_counter() - t_start < seconds:
            x = wl.prepare(spark, wl.WARM_CALLS + len(lat))
            if calls is None:
                t0 = time.perf_counter()
                ok = _call(wl, spark, x)
                lat.append(time.perf_counter() - t0)
            else:
                wl.before_op(x)
                t_in = time.perf_counter()
                with spans.span(wl.op_name, i=len(lat)), \
                        calls.group(wl.op_name) as rec:
                    t0 = time.perf_counter()
                    ok = _call(wl, spark, x)
                    t1 = time.perf_counter()
                eng = calls.collect(rec) if ok else {}
                lat.append(t1 - t0)
                tracer_s += time.perf_counter() - t_in - lat[-1]
            docs += x["docs"]
            failed += wl.check(spark, x) if ok else x["docs"]
            if calls is not None and ok:
                layer = wl.trace_op(spark, x, rec, eng)
                eng.pop("stage_rows", None)
                per_call.append({**eng, **layer, "lat": lat[-1]})
    return {"lat": lat, "docs": docs, "failed": failed,
            "rss_mb": {k: v / 2**20 for k, v in rss.peak.items()},
            "per_call": per_call, "tracer_s": tracer_s}


def _call(wl, spark, x) -> bool:
    try:
        wl.op(spark, x)
        return True
    except Exception:
        traceback.print_exc()
        return False


def main(argv=None) -> int:
    from workloads import PER_LAYER, WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    records = os.path.join(ROOT, ".perfbench_work", "records")
    _env(work)
    sys.path.insert(0, ROOT)
    import instrument
    from instrument import SparkCalls, Spans
    nproc = len(os.sched_getaffinity(0))
    env = {**instrument.environment(nproc), "seed": a.seed,
           "workload": a.workload, "seconds": a.seconds, "trace": a.trace}
    steal0 = instrument.cpu_stat()
    # SIGTERM unwinds through the finally below, which stops the JVM (and
    # its Python workers) instead of leaving them running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        from mre.io import get_spark
        from pyspark import SparkContext
        t0 = time.perf_counter()
        spark = get_spark(app="perfbench", master=f"local[{nproc}]")
        session_s = time.perf_counter() - t0
        if a.trace:
            spark = instrument.with_ui(spark)
        jvm_pid = SparkContext._gateway.proc.pid
        wl = WORKLOADS[a.workload](os.path.join(work, "data"), a.seed)
        setups = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            wl.data_setup(spark, k)
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.build(spark)
        build_s = time.perf_counter() - t0
        attempted, failed = wl.warm_up(spark)
        warm_s = time.perf_counter() - t0 - build_s
        setup_s = session_s + statistics.median(setups) + build_s + warm_s
        env.update({"session_s": session_s, "data_setup_s": setups,
                    "build_s": build_s, "warm_up_s": warm_s})
        if not a.trace:
            run = window(spark, wl, a.seconds, jvm_pid)
            lat = run["lat"]
            tail_s, tail_pct = tail(lat)
            metrics = {
                "setup_s": (setup_s, "s"),
                "docs_per_s": (run["docs"] / sum(lat), "docs/s"),
                "batch_p50_s": (statistics.median(lat), "s"),
                "batch_tail_s": (tail_s, "s"),
            }
            env.update({"latencies_s": lat, "tail_percentile": tail_pct,
                        "rss_mb": run["rss_mb"]})
        else:
            spans = Spans(f"{a.workload}-{a.seed}-{os.getpid()}")
            calls = SparkCalls(spark, rest=True)
            with spans.span(a.workload):
                run = window(spark, wl, a.seconds, jvm_pid, spans, calls)
                layer, n_extra, bad_extra = wl.layer_metrics(
                    spark, spans, run["per_call"], run["lat"])
            attempted += n_extra
            failed += bad_extra
            layer["trace.overhead_frac"] = run["tracer_s"] / sum(run["lat"])
            layer["proc.peak_rss_mb"] = run["rss_mb"]["total"]
            layer["proc.jvm_rss_mb"] = run["rss_mb"]["jvm"]
            layer["proc.python_workers_rss_mb"] = run["rss_mb"]["workers"]
            # layers a workload leaves idle report 0
            metrics = {k: (layer.get(k, 0), u) for k, u in PER_LAYER.items()}
            env.update({"traced_latencies_s": run["lat"],
                        "traced_per_call": run["per_call"],
                        "tracer_s": run["tracer_s"],
                        "span_self_s": spans.self_times()})
            spans.dump(os.path.join(records, f"spans-{a.workload}-seed"
                                    f"{a.seed}-{os.getpid()}.json"))
        attempted += run["docs"]
        failed += run["failed"]
        spark.stop()
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    s1, t1 = instrument.cpu_stat()
    env["loadavg_after"] = list(os.getloadavg())
    env["steal_pct"] = 100.0 * (s1 - steal0[0]) / max(1, t1 - steal0[1])
    env["steal_flagged"] = env["steal_pct"] > STEAL_FLAG_PCT
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{a.workload}-seed{a.seed}-trace"
                           f"{a.trace}-{os.getpid()}.json"), "w") as f:
        json.dump(env, f, default=str)

    for k, (v, u) in metrics.items():
        extra = f"  (p{tail_pct:.1f} of {len(lat)} calls)" \
            if k == "batch_tail_s" else ""
        print(f"{k} {v:.6g} {u}{extra}")
    if not a.trace:
        # printed, not bounded: the JVM's share follows G1's heap sizing
        # and moves ±30 % between runs of the same code
        print(f"peak_rss_mb {run['rss_mb']['total']:.6g} MB")
    print(f"failed_frac {failed / attempted:.6g} ratio  "
          f"({failed} of {attempted} docs)")
    print("env " + json.dumps({k: env[k] for k in (
        "nproc", "python", "spark", "seed", "loadavg_before",
        "loadavg_after", "steal_pct", "steal_flagged")}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
