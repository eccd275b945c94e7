"""The crawl benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``perfbench/_work/inputs/<key>`` (the key names seed and sizes) at the
start of every run and removed at its end. After set-up, one cold pass
is timed, then warm passes until ``--seconds`` of warm time is used;
every pass's output is checked against an oracle, and Spark's caches
are cleared between passes. ``--trace 1`` interleaves untraced and
traced warm passes and reports per-layer metrics instead of end-to-end
ones. The last stdout line is the result; the line before it (also
written to ``perfbench/_work/results``) is the full record: every pass
with its weather probes, cache state and checks. See
``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CORES = 4
HEAP = "2g"  # JVM heap: fixed and pre-touched, see start_spark
SETUP_REPEATS = 3
MIN_WARM = 1  # warm passes made even when --seconds is used up

# name -> workload factory arguments; perfbench/README.md gives the
# measured reasons for each size
WORKLOADS = {
    "crawl_deep": dict(kind="crawl", pages=3_000, depth=3),
    "neardup": dict(kind="neardup", docs=1_200, embs=500),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def program_present() -> bool:
    """The benchmark measures the checkout's own sitemapper_spark."""
    return os.path.isfile(os.path.join(ROOT, "sitemapper_spark", "engine.py"))


def start_spark():
    """A local[4] session whose scratch files stay inside the work dir.
    The heap is committed and touched at JVM start (``-Xms`` = heap,
    ``AlwaysPreTouch``): a growing heap made the JVM's resident size
    follow the GC's sizing decisions, not the program, and put its page
    faults inside the timed passes."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from sitemapper_spark.session import get_spark

    return get_spark(
        "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def make_workload(name: str, seed: int):
    from workloads import Crawl, NearDup

    spec = dict(WORKLOADS[name])
    kind = spec.pop("kind")
    return {"crawl": Crawl, "neardup": NearDup}[kind](WORK, seed, **spec)


def cpu_times() -> dict:
    """Machine-wide CPU seconds by state, from /proc/stat: a pass's
    ``steal`` is time the host ran something else on this VM's cores."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: v / hz for n, v in zip(names, vals)}


def run_pass(spark, wl, tracer, label: str, traced: bool) -> dict:
    """One timed pass with its weather probes, then its check. Memory is
    sampled only while the pass runs."""
    from layers import RssSampler, add_job_spans, spark_layer, status_snapshot
    from layers import storage_state
    from sitemapper_spark.probes import probe_pair

    conf = spark.conf
    rec = {"pass": label, "traced": traced, "cpus": os.cpu_count(),
           "probe_before": probe_pair(),
           "shuffle_partitions_before": conf.get("spark.sql.shuffle.partitions")}
    rec.update({f"{k}_before": v for k, v in storage_state(spark).items()})
    wl.reset()
    tracer.enabled = traced
    span_idx = len(tracer.spans)
    rss = RssSampler()
    out = None
    cpu0 = cpu_times()
    t0 = time.time()
    w0 = time.perf_counter()
    try:
        with rss.running(), tracer.span(f"pass.{label}"):
            out = wl.run_pass(spark, tracer)
        rec["wall_s"] = time.perf_counter() - w0
    except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
        rec["wall_s"] = time.perf_counter() - w0
        rec["error"] = traceback.format_exc()
        print(rec["error"], file=sys.stderr)
    t1 = time.time()
    cpu1 = cpu_times()
    rec["cpu_s"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
    rec["peak_mb"] = rss.peak / (1 << 20)
    rec["peak_mb_split"] = {k: v / (1 << 20) for k, v in rss.peak_split.items()}
    rec["rss_sampler"] = {"samples": rss.samples, "busy_s": rss.busy_s}
    rec["probe_after"] = probe_pair()
    if traced:
        jobs, stages = status_snapshot(spark.sparkContext, t0, t1)
        rec["spark"] = spark_layer(jobs, stages, t0, t1, CORES)
        add_job_spans(tracer, span_idx, jobs, stages)
    rec["storage_mb_in_pass"] = storage_state(spark)["spark.storage_mb"]
    rec["ok"] = False
    if out is not None:
        try:
            rec["ok"], rec["fingerprint"] = wl.check(spark, out)
        except Exception:  # noqa: BLE001
            rec["error"] = traceback.format_exc()
            print(rec["error"], file=sys.stderr)
        rec["items"] = out["items"]
        rec["out"] = {k: v for k, v in out.items() if k != "items"}
    rec["_tracer_from"] = span_idx
    return rec


def settle(spark, wl, rec: dict) -> None:
    """Untimed: release the pass's caches, then record what is left."""
    from layers import storage_state

    wl.release(spark)
    rec.update(storage_state(spark))
    rec["shuffle_partitions_after"] = spark.conf.get("spark.sql.shuffle.partitions")


def passes(spark, wl, tracer, seconds: float, trace: bool) -> list[dict]:
    """The cold pass, then warm passes while the warm budget allows one
    more (at least MIN_WARM; in a traced run they alternate untraced and
    traced, and at least one of each is made)."""
    rec = run_pass(spark, wl, tracer, "cold", traced=trace)
    settle(spark, wl, rec)
    recs = [rec]
    used = 0.0
    while True:
        n = len(recs)
        traced = trace and n % 2 == 0
        rec = run_pass(spark, wl, tracer, f"warm{n}", traced=traced)
        used += rec["wall_s"]
        if traced:
            add_traced_layers(spark, wl, rec)
        settle(spark, wl, rec)
        recs.append(rec)
        warm = recs[1:]
        need_more = len(warm) < MIN_WARM or (
            trace and not any(r["traced"] for r in warm))
        if not need_more and used + rec["wall_s"] > seconds:
            break
    return recs


def add_traced_layers(spark, wl, rec: dict) -> None:
    """Layer metrics that read the pass's outputs before its caches go."""
    from layers import ckpt_layer, operator_layer, plan_counts, round_layer

    if "out" not in rec:
        return
    if wl.kind == "neardup":
        rec["layers"] = {
            f"queries.{name}.{k}": v
            for name, df in wl.frames.items()
            for k, v in plan_counts(df).items()
        }
        return
    rec["layers"] = {
        **ckpt_layer(wl.ckpt, wl.result.rounds, rec["out"]["visited"]),
        **round_layer(wl.result),
        **operator_layer(spark, wl),
    }


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(recs, setup_s: float) -> dict:
    warm = recs[1:]
    wall = median([r["wall_s"] for r in warm])
    return {
        "setup_s": setup_s,
        "cold_s": recs[0]["wall_s"],
        "wall_s": wall,
        "urls_per_s": median([r.get("items", 0) / r["wall_s"] for r in warm]),
        "peak_rss_mb": median([r["peak_mb"] for r in warm]),
    }


def per_layer(wl, recs, tracer, record: dict) -> dict:
    """Every per-layer metric (BENCHMARK.json) from the last traced warm
    pass; a layer the workload never calls reads 0."""
    import workloads

    names = _per_layer_names()
    m = dict.fromkeys(names, 0.0)
    traced = [r for r in recs[1:] if r["traced"]]
    untraced = [r for r in recs[1:] if not r["traced"]]
    last = traced[-1]
    m.update(last.get("spark", {}))
    m.update(last.get("layers", {}))
    m.update({k: v for k, v in last.items() if k.startswith("spark.")})
    m["session.start_s"] = record["session_s"]
    m["corpus.generate_s"] = record["generate_s"]
    since = last["_tracer_from"]
    if wl.kind == "neardup":
        for name in workloads.NEARDUP_QUERIES:
            p = f"queries.{name}"
            m[f"{p}.s"] = last["out"]["pipelines"][name]["s"]
            m[f"{p}.cold_s"] = recs[0]["out"]["pipelines"][name]["s"]
            m[f"{p}.pairs"] = last["fingerprint"][name]["pairs"]
    else:
        rounds = last.get("out", {}).get("rounds", 0)
        for call in ("run", "count", "select_stale", "expire", "resume"):
            m[f"engine.{call}_s"] = tracer.total(f"engine.{call}", since)
        m["engine.rounds"] = rounds
        m["engine.jobs_per_round"] = m["engine.jobs"] / max(rounds, 1)
    m["probe.cpu_ms"] = median([r[k]["cpu_probe_ms"] for r in recs
                                for k in ("probe_before", "probe_after")])
    m["probe.membw_ms"] = median([r[k]["membw_probe_ms"] for r in recs
                                  for k in ("probe_before", "probe_after")])
    m["trace.overhead_s"] = (median([r["wall_s"] for r in traced])
                             - median([r["wall_s"] for r in untraced]))
    return {k: m[k] for k in names}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _per_layer_names() -> list[str]:
    return [m["name"] for m in _spec()["per_layer"]]


def _units() -> dict:
    spec = _spec()
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print("perfbench: sitemapper_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from layers import Tracer, storage_memory_mb

    wl = make_workload(args.workload, args.seed)
    tracer = Tracer(enabled=bool(args.trace))
    spark = start_spark()
    try:
        session_s = time.perf_counter() - T_START
        t = time.perf_counter()
        with tracer.span("setup.generate"):
            wl.generate(spark)
        generate_s = time.perf_counter() - t
        opens = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            with tracer.span("setup.open"):
                wl.open(spark)
            opens.append(time.perf_counter() - t)
        setup_s = session_s + generate_s + median(opens)
        wl.prepare_check()
        sizes = {**wl.input_sizes(),
                 "storage_memory_mb": storage_memory_mb(spark.sparkContext)}
        recs = passes(spark, wl, tracer, args.seconds, bool(args.trace))
    finally:
        stop_spark(spark)
        shutil.rmtree(os.path.join(WORK, "ckpt"), ignore_errors=True)
        shutil.rmtree(wl.inputs, ignore_errors=True)

    failed = sum(not r["ok"] for r in recs)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": wl.key, "cpus": os.cpu_count(), "cores": CORES,
        "session_s": session_s, "generate_s": generate_s, "open_s": opens,
        "input_sizes": sizes, "expected": wl.expected,
        "failed_ratio": failed / len(recs), "passes": recs,
    }
    if args.trace:
        metrics = per_layer(wl, recs, tracer, record)
    else:
        metrics = end_to_end(recs, setup_s)
    record["metrics"] = metrics
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(
        WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump({**record, "spans": tracer.spans}, f, default=str)
    print(json.dumps(record, default=str))
    units = _units()
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
