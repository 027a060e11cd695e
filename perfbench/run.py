"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload pip_flagship --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` first repeats the untraced passes for half the time,
then restarts the SparkContext with the event log on and runs traced
passes (spans plus Spark's SQL and task metrics) for the other half;
it prints the per-layer metrics and the tracing overhead between the
two halves.

Human-readable lines go first; the last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. The exit
code is 0 only when every pass ran and passed its output check.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import host  # noqa: E402
from spans import EventLog, Tracer  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PASSES = 2


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the engine from the checkout, whatever the cwd."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_session(cores: int, heap_mb: int, work: str, event_log: str | None = None):
    from georaster_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        # a heap committed and touched up front: peak RSS then varies with
        # off-heap and Python-worker memory, not with when G1 grows the heap
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def warm_workers(spark, cores: int) -> None:
    """Start one Python worker per core (they are reused afterwards)."""

    def ident(batches):
        yield from batches

    spark.range(0, cores * 4, 1, cores).mapInPandas(ident, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def attempt(wl, k: int, traced: bool, sampler) -> dict:
    """One isolated pass: run, probe (traced only), check. A crash or a
    wrong answer is recorded, never raised."""
    from workloads import no_count

    rec: dict = {"k": k, "errors": []}
    try:
        with wl.span("attempt", k=k) as root:
            rec["span"] = root["id"] if root else None
            with sampler, no_count(), wl.span("pass", k=k) as s:
                rec.update(wl.run_pass(k))
            rec["pass_span"] = s["id"] if s else None
            if traced:
                wl.probe(k)
            rec["errors"] = wl.check(rec)
    except Exception as e:  # a failed pass is data, the run goes on
        traceback.print_exc(file=sys.stderr)
        rec["errors"] = [f"{type(e).__name__}: {e}".splitlines()[0]]
    rec["ok"] = not rec["errors"]
    return rec


def measure(wl, seconds: float, traced: bool, sampler, first_k: int, warm: bool) -> list[dict]:
    """Optional warm-up passes, then a fixed number of timed passes:
    ``seconds`` over the workload's nominal pass time. The count does not
    depend on how fast this host happens to be, so every run of a
    workload does the same work and reaches the same JIT warmth."""
    n = max(MIN_PASSES, math.ceil(seconds / wl.nominal_pass_s))
    recs = []
    for k in range(first_k, first_k + (wl.warm_passes if warm else 0)):
        recs.append({**attempt(wl, k, traced, sampler), "warm": True})
    for k in range(first_k + len(recs), first_k + len(recs) + n):
        recs.append(attempt(wl, k, traced, sampler))
    return recs


def timed_ok(recs: list[dict]) -> list[dict]:
    return [r for r in recs if r["ok"] and not r.get("warm")]


def med(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def end_to_end(wl, recs: list[dict], setup_s: float, peak_rss: int) -> tuple[dict, dict]:
    """(metrics for BENCHMARK.json, extra workload-specific readings)."""
    ok = timed_ok(recs)
    wall = med([r["wall_s"] for r in ok])
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    extra = {f"{wl.rows_unit}_per_s": (wl.rows() / wall, f"{wl.rows_unit}/s")}
    if wl.name == "pip_checkpoint":
        extra["resume_s"] = (med([r["resume_s"] for r in ok]), "s")
        extra["stored_bytes_per_doc"] = (med([r["stored_bytes"] for r in ok]) / wl.rows(), "B")
    failed = sum(not r["ok"] for r in recs)
    extra["error_rate"] = (failed / len(recs), "ratio")
    return metrics, extra


def per_layer(wl, tracer, ev, recs: list[dict], untraced_wall: float) -> dict:
    """Medians over the traced passes of every per-layer metric; a
    layer that does not run in this workload reads 0."""
    from layers import pass_layers

    ok = timed_ok(recs)
    rows = [pass_layers(wl, tracer, ev, r) for r in ok]
    out = {k: (med([r[k][0] for r in rows]), rows[0][k][1]) for k in rows[0]} if rows else {}
    for name in ("session.start", "session.worker_warmup"):
        out[f"{name}_s"] = (tracer.seconds(name), "s")
    traced_wall = med([r["wall_s"] for r in ok])
    out["trace.untraced_wall_s"] = (untraced_wall, "s")
    out["trace.traced_wall_s"] = (traced_wall, "s")
    out["trace.overhead_ratio"] = (traced_wall / untraced_wall, "ratio")
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops the JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import georaster_spark  # noqa: F401
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    fp = host.fingerprint()
    cores, heap_mb = host.cores(), host.driver_heap_mb()
    fp.update({"cores": cores, "driver_heap_mb": heap_mb})
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    traced = bool(args.trace)
    tracer = Tracer(enabled=traced)
    spark = None
    phases: dict[str, float] = {}
    try:
        with tracer.span("session.start"):
            spark = start_session(cores, heap_mb, work)
        with tracer.span("session.worker_warmup"):
            warm_workers(spark, cores)
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, work, tracer, cores=cores)
        with tracer.span("datagen.prepare"):
            wl.prepare()
        setup_s = phases["setup"] = time.perf_counter() - T0
        wl.expect()
        phases["expect"] = time.perf_counter() - T0

        sampler = host.RssSampler()
        half = args.seconds / 2 if traced else args.seconds
        tracer.enabled = False
        steal0, total0 = host.cpu_ticks()
        recs = measure(wl, half, False, sampler, 0, warm=True)
        steal1, total1 = host.cpu_ticks()
        fp["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        phases["measure"] = time.perf_counter() - T0
        metrics, extra = end_to_end(wl, recs, setup_s, sampler.peak)
        if traced:
            # same JVM, new context: only the event log differs
            spark.stop()
            log_dir = os.path.join(work, "eventlog")
            spark = start_session(cores, heap_mb, work, event_log=log_dir)
            tracer.spark, tracer.enabled = spark, True
            warm_workers(spark, cores)
            wl.bind(spark)
            # the JVM's code is warm already: only the context is new
            traced_recs = measure(wl, half, True, sampler, len(recs), warm=False)
            recs += traced_recs
            phases["traced"] = time.perf_counter() - T0
            stop_session(spark)
            spark = None
            metrics = per_layer(
                wl, tracer, EventLog(log_dir), traced_recs, metrics["wall_s"][0]
            )
            extra = {}
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    phases["stopped"] = time.perf_counter() - T0
    fp["phases_s"] = phases
    fp["loadavg_end"] = host.loadavg()

    failed = [r for r in recs if not r["ok"]]
    write_record(args, fp, recs, metrics, extra, tracer)
    report(args, fp, recs, metrics, extra)
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(recs),
                "failed": len(failed),
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items() if v == v
                },
            }
        )
    )
    return 1 if failed else 0


def write_record(args, fp: dict, recs: list[dict], metrics: dict, extra: dict, tracer) -> None:
    """The run's full record (host fingerprint, every pass, spans)
    under ``.perfbench_out/`` in the checkout."""
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out, name + ".json"), "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "host": fp,
                "passes": recs,
                "metrics": metrics,
                "extra": extra,
            },
            f,
            default=str,
        )
    if tracer.spans:
        tracer.dump(os.path.join(out, name + ".spans.json"))


def report(args, fp: dict, recs: list[dict], metrics: dict, extra: dict) -> None:
    warm = sum(bool(r.get("warm")) for r in recs)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    print("host " + json.dumps(fp))
    print(
        f"passes: {len(recs)} attempted, {warm} warm-up;"
        f" medians over the {len(timed_ok(recs))} timed passes that passed"
    )
    for r in recs:
        if not r["ok"]:
            print(f"FAILED pass {r['k']}: {'; '.join(r['errors'])}")
    for k, (v, u) in {**metrics, **extra}.items():
        print(f"{k} = {v:.6g} {u}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
