"""N-vs-4N scaling-efficiency protocol (BASELINE.json north_rule).

No real cluster exists in this sandbox, so per the driver instruction
the same crawl job runs at two parallelism levels on the SAME input and
reports throughput at both plus efficiency = (T_fast/T_slow)/4.

Protocol (round-2; each item root-caused from a measured distortion):

1. **CPU pinning** (``taskset -c 0..N-1``): an UNPINNED local[8] run
   actually consumes ~12-16 physical cores — 8 JVM task threads PLUS 8
   Python UDF worker processes PLUS GC/Arrow-IPC threads all float
   across the 32-core box — inflating the N-core baseline and
   deflating measured N→4N efficiency. A real N-core executor binds
   everything (JVM, shuffle, python workers) into its N cores; pinning
   reproduces that.
2. **Hypervisor-steal telemetry**: this VM shares physical cores with
   other tenants — measured steal is ~1-2% idle but 8-17% when all 32
   vCPUs are demanded, and it spikes unpredictably (a GC log showed a
   2.1s young pause with only 0.11s of user time: the GC threads were
   descheduled by the host). Steal hits local[32] harder than local[8]
   (more vCPUs demanded → more oversubscription), so uncontrolled runs
   understate scaling. Every timed window therefore records its own
   steal fraction from /proc/stat, and efficiency is computed from the
   least-stolen pass per level (multiple passes, best-of): the
   cleanest available approximation of dedicated hardware.
3. **Warm passes**: each level runs the identical crawl ``--passes``
   times in one JVM — the first pass spawns all N python workers,
   JITs, and warms the page cache; later passes are the steady state a
   production cluster runs in. All passes are reported.
4. **Page-cache pre-read** of the corpus before each level so neither
   level pays the (non-scaling, ~250 MB/s virtual-disk) first read.
5. **Mega-round shape**: seeds = half the corpus, max_depth=2 → two
   ~0.5M-URL rounds, so data-proportional stage work dominates the
   per-round fixpoint overhead the way production round sizes
   (10^8-10^9 rows) do. The depth-4 small-seed variant is kept as
   ``--mode=rounds`` for the fixpoint-overhead picture.

6. **Per-pass heap + CPU-speed probe**: each pass row records the
   JVM's actual Runtime.maxMemory() (``heap_gb`` — the env-var route
   was once silently overridden and mislabelled a whole A/B) and a
   bracketing single-thread sha256 probe (``cpu_probe_ms`` before/
   after — hypervisor slow-cycle windows inflate wall time at ~0%
   recorded steal, and the probe catches what the steal column
   cannot).

Heap: set SPARK_GRAFT_DRIVER_MEM in the environment (default 24g).

7. **Process topology** (``--topology=procs``, round 5): the open
   question after round 4 was whether the 8→32 ratio loss is
   single-JVM 32-thread contention (GC, allocator, one heap) that a
   real N→4N *executor* scale-out would not pay. Spark's
   ``local-cluster[n,cores,mem]`` master runs a standalone master +
   n workers in the driver JVM and launches n SEPARATE EXECUTOR JVM
   PROCESSES on this same box — real multi-process topology (per-JVM
   heaps/GC, netty shuffle between processes, per-executor python
   workers) with the hardware held constant. A level of C total cores
   becomes ``local-cluster[C/exec_cores, exec_cores, mem]``, so
   8→32 compares 1 executor vs 4 executors of identical shape —
   exactly the north_rule's "N and 4N executors", minus the network.
   Pinning still applies: executor JVMs are children of the pinned
   driver and inherit its CPU affinity mask.

Usage: python tools/bench_scaling.py [n_pages] [n_hosts] [img_w img_h]
       [--levels=8,32] [--mode=mega|rounds] [--passes=3]
       [--fetch=broadcast|shuffle|bucketed] [--buckets=32]
       [--topology=threads|procs] [--exec-cores=8] [--exec-mem-mb=12288]
       [--shards=1] [--out=FILE.json] [--extra-conf=spark.k1=v1,spark.k2=v2]
       [--engine-opt=salt_buckets=16,...]  (CrawlConfig kwargs)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import hashlib, json, shutil, sys, threading, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from sitemapper_spark.session import get_spark
from sitemapper_spark.engine import CrawlConfig, CrawlEngine
from sitemapper_spark.schemas import SEEDS_SCHEMA

cpus = int(sys.argv[1])
corpus_path = sys.argv[2]
mode = sys.argv[3]
n_passes = int(sys.argv[4])
fetch_shape = sys.argv[5]
n_pages = int(sys.argv[6])
shuffle_parts = int(sys.argv[7]) if sys.argv[7] != "auto" else cpus
n_buckets = int(sys.argv[8]) if len(sys.argv) > 8 else 32
decomp = len(sys.argv) > 9 and sys.argv[9] == "1"
extra_conf = json.loads(sys.argv[10]) if len(sys.argv) > 10 else {}
topology = sys.argv[11] if len(sys.argv) > 11 else "threads"
exec_cores = int(sys.argv[12]) if len(sys.argv) > 12 else 8
exec_mem_mb = int(sys.argv[13]) if len(sys.argv) > 13 else 12288
bloom_shards = int(sys.argv[14]) if len(sys.argv) > 14 else 1
engine_opts = json.loads(sys.argv[15]) if len(sys.argv) > 15 else {}


def cpu_times():
    # (busy_jiffies, steal_jiffies, total_jiffies) across all cpus
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    v = [int(x) for x in parts]
    user, nice, system, idle, iowait, irq, softirq, steal = v[:8]
    total = sum(v[:8])
    return user + nice + system, steal, total


def disk_totals():
    # (sectors_read, sectors_written, io_ticks_ms) summed over real disks
    r = w = t = 0
    with open("/proc/diskstats") as f:
        for line in f:
            p = line.split()
            if p[2].startswith(("loop", "ram", "dm-")) or p[2][-1].isdigit():
                continue
            r += int(p[5]); w += int(p[9]); t += int(p[12])
    return r, w, t


class Sampler(threading.Thread):
    # 1 Hz CPU/disk timeline — tells data-parallel phases (busy ~ all
    # cores) apart from serial/IO floors (busy ~ 1 core, io busy)
    def __init__(self):
        super().__init__(daemon=True)
        self.rows, self.stop = [], threading.Event()

    def run(self):
        while not self.stop.is_set():
            b, s, t = cpu_times(); r, w, tick = disk_totals()
            self.rows.append((time.time(), b, s, t, r, w, tick))
            self.stop.wait(1.0)

    def window(self, t0, t1):
        rs = [x for x in self.rows if t0 <= x[0] <= t1]
        if len(rs) < 2:
            return {}
        a, z = rs[0], rs[-1]
        dt = max(1, z[3] - a[3])
        return {
            "busy_pct": round(100.0 * (z[1] - a[1]) / dt, 1),
            "steal_pct": round(100.0 * (z[2] - a[2]) / dt, 1),
            "disk_read_mb": round((z[4] - a[4]) * 512 / 2**20, 1),
            "disk_write_mb": round((z[5] - a[5]) * 512 / 2**20, 1),
            "disk_busy_pct": round(
                100.0 * (z[6] - a[6]) / (1000.0 * (z[0] - a[0])), 1),
        }


n_executors = 0  # threads mode: executor == driver JVM
if topology == "procs":
    # separate executor JVMs on this box (protocol item 7): one
    # standalone worker per exec_cores slice, each hosting exactly one
    # executor JVM of exec_mem_mb (worker mem == executor mem). The
    # python package reaches the executors' UDF workers via
    # executorEnv.PYTHONPATH (same box, same filesystem — the
    # spark-submit --py-files equivalent with zero staging).
    n_executors = max(1, cpus // exec_cores)
    master = "local-cluster[%%d,%%d,%%d]" %% (n_executors, exec_cores, exec_mem_mb)
    extra_conf = {
        "spark.executor.memory": "%%dm" %% exec_mem_mb,
        "spark.executorEnv.PYTHONPATH": %(repo)r,
        **extra_conf,
    }
else:
    master = "local[%%d]" %% cpus
spark = get_spark("scale_%%d" %% cpus, master=master,
                  shuffle_partitions=shuffle_parts,
                  extra_conf={"spark.ui.showConsoleProgress": "false",
                              "spark.sql.files.maxPartitionBytes": "32m",
                              **extra_conf})
corpus = spark.read.parquet(corpus_path)

if fetch_shape == "bucketed":
    # The 10^10-frontier fetch layout (SURVEY §1.3): corpus bucketed +
    # sorted by url, so the per-round fetch SMJ shuffles ONLY the
    # frontier side (plan asserted in test_plans). Bucket metadata
    # lives in the session catalog, so each worker registers the table
    # itself — setup is one-time per JVM and OUTSIDE every timed
    # window. repartition(nb, url) aligns writer tasks with buckets
    # (same murmur3 hash) → one file per bucket → SMJ reads pre-sorted.
    nb = n_buckets
    tbl = "pages_bkt_%%d_%%d" %% (cpus, nb)
    spark.sql("DROP TABLE IF EXISTS %%s" %% tbl)
    (corpus.repartition(nb, "url").write.mode("overwrite")
     .bucketBy(nb, "url").sortBy("url")
     .option("path", "/tmp/%%s" %% tbl).saveAsTable(tbl))
    corpus = spark.table(tbl)

if mode == "mega":
    # production-shaped rounds: seed half the corpus, 2 rounds
    seeds_df = (corpus.filter(F.xxhash64("url") %% 2 == 0)
                .select("url",
                        F.concat(F.lit("s-"), F.col("host")).alias("sitemap_id"),
                        F.lit(2).alias("max_depth"),
                        F.lit(0.0).alias("priority")))
    max_depth, budget = 2, None
else:
    # round-1 shape: 16 seeds/host, BFS depth 4 (fixpoint-dominated)
    seeds_rows = [(r["u"], "s-" + r["host"], 4, 0.0)
                  for r in corpus.groupBy("host")
                  .agg(F.slice(F.array_sort(F.collect_list("url")), 1, 16).alias("us"))
                  .select("host", F.explode("us").alias("u")).collect()]
    seeds_df = spark.createDataFrame(seeds_rows, SEEDS_SCHEMA)
    max_depth, budget = 4, None

# shuffle/bucketed shapes: force the SMJ fetch path (the 10^10-frontier
# configuration — no driver-built broadcast of the matched slice);
# bucketed additionally co-locates the corpus side (no corpus shuffle)
bfm = 2_000_000 if fetch_shape == "broadcast" else None

# Ground truth for the JVM heap, read back from the live JVM rather
# than from any env var/flag: a round-4 A/B "at 48g" silently ran at
# 24g because run_level's env dict literal overrode the inherited
# SPARK_GRAFT_DRIVER_MEM. Recording Runtime.maxMemory() in every pass
# row makes that class of mislabel impossible to repeat.
heap_gb = round(
    spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**30, 1)

_PROBE_BUF = b"\x5a" * (16 << 20)


def cpu_probe_ms():
    # Fixed single-thread sha256 workload (~100-300 ms): measures the
    # box's effective CPU speed at this instant. Hypervisor slow-cycle
    # windows on this host show up as wall-time inflation with ~0%%
    # /proc/stat steal (observed 99 s vs 152 s for identical passes at
    # <=0.4%% steal), so steal alone cannot certify a clean window;
    # this probe brackets every pass with a direct speed sample.
    # sha256 (single C thread) is immune to BLAS thread-count effects.
    t0 = time.perf_counter()
    for _ in range(6):
        hashlib.sha256(_PROBE_BUF).digest()
    return round((time.perf_counter() - t0) * 1000.0, 1)


import numpy as _np
_MEMBW_SRC = _np.ones(32 << 20, dtype=_np.uint8)  # 32 MB
_MEMBW_DST = _np.empty_like(_MEMBW_SRC)
_MEMBW_DST[:] = _MEMBW_SRC  # touch pages: first-touch faults cost 10-20x


def membw_probe_ms():
    # Fixed single-thread memory-copy workload (8x32 MB, far past any
    # cache): measures effective DRAM bandwidth at this instant. The
    # sha256 probe is compute-bound and BLIND to memory-bandwidth
    # co-tenancy — a 2026-08-17 evening produced a probe-certified
    # pass at HALF the clean-window crawl throughput because a
    # co-tenant was saturating the memory bus, not the cores. This
    # probe closes that gap; certify() bounds both. Reported value is
    # min-rep x 8: a sustained-pressure floor that a descheduling
    # blip cannot inflate (per-rep noise rejected crawl passes that
    # agreed to 5%% before this aggregation).
    reps = []
    for _ in range(8):
        t0 = time.perf_counter()
        _MEMBW_DST[:] = _MEMBW_SRC
        reps.append(time.perf_counter() - t0)
    return round(min(reps) * 8 * 1000.0, 1)


sampler = Sampler()
sampler.start()

results = []
for i in range(n_passes):
    run = "cold" if i == 0 else "warm%%d" %% i
    ckpt = "/tmp/scale_ckpt_%%d" %% cpus
    shutil.rmtree(ckpt, ignore_errors=True)
    cfg = CrawlConfig(max_depth=max_depth, per_host_budget=budget,
                      use_bloom=True, bloom_min_visited=20_000,
                      bloom_expected_urls=max(4_000_000, 2 * n_pages),
                      bloom_shards=bloom_shards,
                      checkpoint_dir=ckpt,
                      hot_host_threshold=200_000, decode_verify_images=True,
                      broadcast_fetch_max=bfm, verbose=decomp,
                      **engine_opts)
    probe0 = cpu_probe_ms()
    membw0 = membw_probe_ms()
    b0, s0, t0j = cpu_times()
    wall0 = time.time()
    t0 = time.perf_counter()
    res = CrawlEngine(spark, corpus, cfg).run(seeds_df)
    elapsed = time.perf_counter() - t0
    wall1 = time.time()
    b1, s1, t1j = cpu_times()
    probe1 = cpu_probe_ms()
    membw1 = membw_probe_ms()
    # run() returns only after every round's visited/edges/frontier
    # parquet is written — the crawl is fully materialized at `elapsed`.
    # The identity digest below is verification, not crawl work: a
    # driver-side collect+sort over ALL visited rows whose cost grows
    # with data, so it must stay OUTSIDE the timed window.
    visited = sorted((r["sitemap_id"], r["url"], r["depth"])
                     for r in res.visited.collect())
    edges_n = res.edges.count()
    digest = hashlib.sha256(json.dumps(visited).encode()).hexdigest()
    dtot = max(1, t1j - t0j)
    results.append({"run": run, "cpus": cpus, "visited": len(visited),
                    "edges": edges_n, "sec": round(elapsed, 2),
                    "urls_per_sec": round(len(visited) / elapsed, 1),
                    "steal_pct": round(100.0 * (s1 - s0) / dtot, 1),
                    "busy_pct": round(100.0 * (b1 - b0) / dtot, 1),
                    "topology": topology, "master": master,
                    "n_executors": n_executors,
                    "exec_mem_mb": exec_mem_mb if topology == "procs" else None,
                    "heap_gb": heap_gb,
                    "cpu_probe_ms": [probe0, probe1],
                    "membw_probe_ms": [membw0, membw1],
                    "io": sampler.window(wall0, wall1),
                    "sha256_visited": digest})
    print("PASS:" + json.dumps(results[-1]), flush=True)
    shutil.rmtree(ckpt, ignore_errors=True)
sampler.stop.set()
print("RESULT:" + json.dumps(results))
"""


def prewarm_page_cache(corpus_path: str) -> None:
    for root, _dirs, files in os.walk(corpus_path):
        for fn in files:
            with open(os.path.join(root, fn), "rb") as f:
                while f.read(1 << 22):
                    pass


def run_level(cpus: int, corpus_path: str, mode: str, passes: int,
              fetch_shape: str, partitions: str = "auto",
              buckets: int = 32, decomp: bool = False,
              extra_conf: dict | None = None, topology: str = "threads",
              exec_cores: int = 8, exec_mem_mb: int = 12288,
              bloom_shards: int = 1,
              engine_opts: dict | None = None) -> list[dict]:
    prewarm_page_cache(corpus_path)
    script = WORKER % {"repo": REPO}
    n_pages = int(corpus_path.split("_p")[1].split("_")[0])
    cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, "-c",
           script, str(cpus), corpus_path, mode, str(passes), fetch_shape,
           str(n_pages), partitions, str(buckets), "1" if decomp else "0",
           json.dumps(extra_conf or {}), topology, str(exec_cores),
           str(exec_mem_mb), str(bloom_shards),
           json.dumps(engine_opts or {})]
    # Honor an explicit SPARK_GRAFT_DRIVER_MEM from the caller; default
    # 24g (the protocol heap every recorded run actually used). NOTE:
    # until round 4 this line hardcoded "24g", silently overriding the
    # caller's env — the runs labelled "48g" in round-4 notes ran at
    # 24g. The worker now records Runtime.maxMemory() per pass row
    # (heap_gb) so the JSON, not the label, is authoritative.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=7200, cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": mem},
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT:")]
    if not lines:
        sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:])
        raise RuntimeError(f"worker local[{cpus}] produced no result")
    results = json.loads(lines[-1][len("RESULT:"):])
    if decomp:
        # attach the engine's verbose per-write/per-round timings: the
        # `[crawl]` lines printed before each PASS line belong to it
        bucket: list[str] = []
        it = iter(results)
        for line in out.stdout.splitlines():
            if line.startswith("[crawl]"):
                bucket.append(line.strip())
            elif line.startswith("PASS:"):
                try:
                    next(it)["crawl_log"] = bucket
                except StopIteration:
                    pass
                bucket = []
    return results


def certify(levels_out: dict) -> float | None:
    """Mark each pass row ``certified`` — true when its bracketing CPU
    probes stayed within 1.25× the invocation's probe floor AND its
    steal was ≤ 1% AND (when recorded) its memory-bandwidth probes
    stayed within 1.3× their floor. Root-cause (BENCH.md §1.2): the
    32-level spread is bimodal — probe-certified windows reproduce to
    < 1%, polluted windows are arbitrary (slow cycles show up in the
    probe even when steal reads ~0). The bandwidth bound exists
    because the sha256 probe is compute-bound and blind to co-tenants
    saturating the memory bus (which halved certified crawl throughput
    one evening). Floor-relative thresholding self-calibrates across
    CPUs; if every window was slow, nothing certifies, which is the
    honest answer. Returns the probe floor (ms) or None when the
    worker predates the probe columns."""
    def _floor(key):
        vals = [p for rs in levels_out.values() for r in rs
                for p in (r.get(key) or [])]
        return min(vals) if vals else None

    floor = _floor("cpu_probe_ms")
    bw_floor = _floor("membw_probe_ms")
    for rs in levels_out.values():
        for r in rs:
            pr = r.get("cpu_probe_ms")
            bw = r.get("membw_probe_ms")
            r["certified"] = bool(
                pr and floor is not None
                and max(pr) <= 1.25 * floor
                and (r.get("steal_pct") or 0.0) <= 1.0
                and (not bw or max(bw) <= 1.3 * bw_floor)
            )
    return floor


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a.split("=")[0]: (a.split("=", 1) + [""])[1]
             for a in sys.argv[1:] if a.startswith("--")}
    n_pages = int(args[0]) if len(args) > 0 else 2_000_000
    n_hosts = int(args[1]) if len(args) > 1 else 256
    img_w = int(args[2]) if len(args) > 2 else 24
    img_h = int(args[3]) if len(args) > 3 else 16
    levels = [int(x) for x in flags.get("--levels", "8,32").split(",")]
    mode = flags.get("--mode", "mega") or "mega"
    passes = int(flags.get("--passes", "3") or 3)
    fetch_shape = flags.get("--fetch", "broadcast") or "broadcast"
    partitions = flags.get("--partitions", "auto") or "auto"
    buckets = int(flags.get("--buckets", "32") or 32)  # bucketed-fetch nb
    decomp = "--decomp" in flags  # per-write engine timings + io timeline
    topology = flags.get("--topology", "threads") or "threads"
    exec_cores = int(flags.get("--exec-cores", "8") or 8)
    exec_mem_mb = int(flags.get("--exec-mem-mb", "12288") or 12288)
    # --shards=N benches the 10^10 sharded seen-filter path (bloom/
    # cuckoo split across N executor-sized shards, cogroup probe)
    # against the default driver-broadcast filter (N=1)
    bloom_shards = int(flags.get("--shards", "1") or 1)
    # --extra-conf=spark.k1=v1,spark.k2=v2 → session conf A/Bs (e.g.
    # arrow maxRecordsPerBatch) without editing the harness
    extra_conf = dict(
        kv.split("=", 1) for kv in flags.get("--extra-conf", "").split(",")
        if "=" in kv)

    # --engine-opt=k1=v1,k2=v2 → CrawlConfig kwarg A/Bs (e.g.
    # salt_buckets=16) without editing the harness; values
    # coerced bool/int/float by shape, else kept as strings
    def _coerce(v: str):
        if v.lower() in ("true", "false"):
            return v.lower() == "true"
        for cast in (int, float):
            try:
                return cast(v)
            except ValueError:
                pass
        return v

    engine_opts = {
        kv.split("=", 1)[0]: _coerce(kv.split("=", 1)[1])
        for kv in flags.get("--engine-opt", "").split(",") if "=" in kv}

    sys.path.insert(0, REPO)
    from sitemapper_spark.corpus import synth_corpus
    from sitemapper_spark.session import get_spark

    corpus_path = f"/tmp/scale_corpus_p{n_pages}_h{n_hosts}_i{img_w}x{img_h}_r2"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        spark = get_spark("scale_gen", master="local[32]",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        synth_corpus(
            spark, n_pages=n_pages, n_hosts=n_hosts, links_per_page=8,
            cross_host_fraction=0.15, error_fraction=0.02,
            with_images=True, img_w=img_w, img_h=img_h,
        ).write.mode("overwrite").parquet(corpus_path)
        spark.stop()

    levels_out = {c: run_level(c, corpus_path, mode, passes, fetch_shape,
                               partitions, buckets, decomp, extra_conf,
                               topology, exec_cores, exec_mem_mb,
                               bloom_shards, engine_opts)
                  for c in levels}
    digests = {r["sha256_visited"] for rs in levels_out.values() for r in rs}
    assert len(digests) == 1, "crawl output differs across parallelism levels!"
    lo, hi = min(levels), max(levels)
    factor = hi / lo

    probe_floor = certify(levels_out)

    def best(c):
        """Fastest pass at a level = the least hypervisor-polluted
        window (cold pass excluded: one-time JIT/python-worker spawn);
        probe+steal-certified passes take precedence over merely-fast
        ones so a lucky-looking polluted pass can't set the headline."""
        warm = [r for r in levels_out[c] if r["run"] != "cold"] or levels_out[c]
        cert = [r for r in warm if r.get("certified")]
        return min(cert or warm, key=lambda r: r["sec"])

    b_lo, b_hi = best(lo), best(hi)
    eff_best = (b_hi["urls_per_sec"] / b_lo["urls_per_sec"]) / factor
    report = {
        "metric": "scaling_efficiency_N_to_4N",
        "value": round(eff_best, 3),
        "eff_best_warm": round(eff_best, 3),
        "both_levels_certified": bool(
            b_lo.get("certified") and b_hi.get("certified")),
        "probe_floor_ms": probe_floor,
        "certification": "max(cpu_probe_ms) <= 1.25*floor and steal <= 1%",
        "best": {str(lo): b_lo, str(hi): b_hi},
        "levels": {str(k): v for k, v in levels_out.items()},
        "identical_output": True,
        "sha256_visited": next(iter(digests)),
        "mode": mode,
        "fetch": fetch_shape,
        "passes": passes,
        "topology": topology,
        "exec_cores": exec_cores if topology == "procs" else None,
        "exec_mem_mb": exec_mem_mb if topology == "procs" else None,
        "bloom_shards": bloom_shards,
        "engine_opts": engine_opts,
        "partitions": partitions,
        "buckets": buckets if fetch_shape == "bucketed" else None,
        "n_pages": n_pages,
        "n_hosts": n_hosts,
        "img": f"{img_w}x{img_h}",
        "heap_gb": b_hi.get("heap_gb"),
        "extra_conf": extra_conf or None,
        "pinned": True,
    }
    print(json.dumps(report))
    suffix = ("_procs" if topology == "procs" else "") + (
        "_decomp" if decomp else "")
    fn = (flags.get("--out") or
          f"bench_scaling_{mode}_{lo}_{hi}{suffix}.json")
    with open(os.path.join(REPO, fn), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
