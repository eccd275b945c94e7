"""Per-layer measurement for the traced run: spans around the benchmark's
own calls into the program, Spark's status store, the checkpoint
directory, and standalone calls of the crawl operators. Also the
process-tree memory sampler, which the untraced run uses too."""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

MB = float(1 << 20)


class Tracer:
    """Spans kept in memory: name, start, end (epoch s) and parent index.
    Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> None:
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, **attrs})

    def total(self, name: str, since: int = 0) -> float:
        return sum(s["end"] - s["start"] for s in self.spans[since:]
                   if s["name"] == name)


PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and its descendants by process kind.
    The JVM and this Python process are not forked from anything they
    share pages with, so their RSS, read from ``statm`` in microseconds,
    is their PSS but for shared libraries. The JVM's PSS
    (``smaps_rollup``) walks the page tables of the multi-GB heap under
    the JVM's mmap lock: 50-70 ms a sample, which stalled the JVM it
    measured. Spark's Python workers are forked from one daemon, and RSS
    would count their shared pages once per fork, so they report PSS."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out = {"driver": 0, "jvm": 0, "workers": 0}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if pid == root or comm == "java":
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * PAGE
                out["driver" if pid == root else "jvm"] += rss
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, IndexError, StopIteration):
            continue
        out["workers"] += pss * 1024
    return out


class RssSampler:
    """Peak resident memory of this process tree (Python driver, the Spark
    JVM and its Python workers) while ``running()`` is active, and its
    split at the peak."""

    def __init__(self, period_s: float = 1.0):
        self.period_s = period_s
        self.peak = 0
        self.peak_split: dict[str, int] = {}
        self.busy_s = 0.0  # time spent sampling
        self.samples = 0

    def _sample(self) -> None:
        t0 = time.perf_counter()
        split = _tree_rss(os.getpid())
        self.busy_s += time.perf_counter() - t0
        self.samples += 1
        if sum(split.values()) > self.peak:
            self.peak, self.peak_split = sum(split.values()), split

    def _loop(self, stop: threading.Event) -> None:
        while not stop.wait(self.period_s):
            self._sample()

    @contextmanager
    def running(self):
        stop = threading.Event()
        th = threading.Thread(target=self._loop, args=(stop,), daemon=True)
        th.start()
        try:
            yield
        finally:
            stop.set()
            th.join()
            self._sample()


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch ms."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def drain_listener_bus(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def status_snapshot(sc, t0: float, t1: float) -> tuple[list[dict], list[dict]]:
    """Jobs and stages submitted inside [t0, t1] (epoch s), from Spark's
    status store. Jobs are attributed by submission time because the
    engine's background threads do not inherit a job group. Call after
    every pass: the store keeps only the newest 1000 stages."""
    drain_listener_bus(sc)
    store = sc._jsc.sc().statusStore()
    lo, hi = t0 * 1000.0, t1 * 1000.0
    stages = []
    empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    sl = store.stageList(None, False, False, empty, None)
    for i in range(sl.size()):
        s = sl.apply(i)
        sub = _opt_ms(s.submissionTime())
        if sub is None or not lo <= sub <= hi:
            continue
        stages.append({
            "id": s.stageId(), "pool": s.schedulingPool(),
            "tasks": s.numTasks(), "failed_tasks": s.numFailedTasks(),
            "run_ms": s.executorRunTime(), "cpu_ns": s.executorCpuTime(),
            "gc_ms": s.jvmGcTime(),
            "shuffle_write": s.shuffleWriteBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "input": s.inputBytes(), "output": s.outputBytes(),
            "sub": sub, "done": _opt_ms(s.completionTime()),
        })
    jobs = []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        sub = _opt_ms(j.submissionTime())
        if sub is None or not lo <= sub <= hi:
            continue
        ids = j.stageIds().mkString(",")
        jobs.append({
            "id": j.jobId(), "status": str(j.status()),
            "stage_ids": [int(x) for x in ids.split(",")] if ids else [],
            "sub": sub, "done": _opt_ms(j.completionTime()) or hi,
        })
    return jobs, stages


def spark_layer(jobs: list[dict], stages: list[dict], t0: float, t1: float,
                cores: int) -> dict:
    """Pass totals over the snapshot, and the wall time no job covered."""
    wall = t1 - t0
    covered, end = 0.0, t0 * 1000.0
    for sub, done in sorted((j["sub"], j["done"]) for j in jobs):
        sub, done = max(sub, end), min(done, t1 * 1000.0)
        if done > sub:
            covered += done - sub
            end = done
    run_ms = sum(s["run_ms"] for s in stages)
    bg_ms = sum(s["run_ms"] for s in stages if s["pool"] == "background")
    return {
        "engine.jobs": len(jobs),
        "engine.stages": len(stages),
        "engine.tasks": sum(s["tasks"] for s in stages),
        "engine.driver_gap_s": wall - covered / 1000.0,
        "engine.fg_exec_s": (run_ms - bg_ms) / 1000.0,
        "engine.bg_exec_s": bg_ms / 1000.0,
        "engine.slot_busy_ratio": run_ms / 1000.0 / (wall * cores),
        "spark.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / MB,
        "spark.shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / MB,
        "spark.spill_mb": sum(s["spill"] for s in stages) / MB,
        "spark.input_mb": sum(s["input"] for s in stages) / MB,
        "spark.output_mb": sum(s["output"] for s in stages) / MB,
    }


def add_job_spans(tracer: Tracer, parent: int, jobs: list[dict],
                  stages: list[dict]) -> None:
    """One child span per Spark job, carrying its pool and stage totals."""
    by_id = {s["id"]: s for s in stages}
    for j in jobs:
        st = [by_id[i] for i in j["stage_ids"] if i in by_id]
        tracer.add(
            f"spark.job.{j['id']}", j["sub"] / 1000.0, j["done"] / 1000.0,
            parent, pool=st[0]["pool"] if st else None, status=j["status"],
            stages=len(st), tasks=sum(s["tasks"] for s in st),
            run_ms=sum(s["run_ms"] for s in st),
        )


def storage_state(spark) -> dict:
    """Cached state left in the session: persistent RDDs and their bytes."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return {
        "spark.persistent_rdds": jsc.getPersistentRDDs().size(),
        "spark.storage_mb": sum(i.memSize() + i.diskSize() for i in infos) / MB,
    }


def storage_memory_mb(sc) -> float:
    """Storage memory the block managers can hold, for sizing inputs and
    pipeline intermediates against the program's caches."""
    execs = sc._jsc.sc().statusStore().executorList(True)
    return sum(execs.apply(i).maxMemory() for i in range(execs.size())) / MB


def ckpt_layer(ckpt: str, rounds: int, visited: int) -> dict:
    files = size = 0
    for dirpath, _, names in os.walk(ckpt):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return {
        "ckpt.mb": size / MB,
        "ckpt.files": files,
        "ckpt.files_per_round": files / max(rounds, 1),
        "ckpt.bytes_per_url": size / max(visited, 1),
    }


def round_layer(result) -> dict:
    """Counts from the lineage and visited tables. ``new_url_ratio`` is
    round r+1 visited over round r links found, summed over rounds: the
    seen split's useful outcomes per attempt."""
    from pyspark.sql import functions as F

    lin = {
        r["round"]: r
        for r in result.lineage.groupBy("round").agg(
            F.sum("urls_dequeued").alias("dq"), F.sum("fetched").alias("f"),
            F.sum("errors").alias("e"), F.sum("links_found").alias("l"),
        ).collect()
    }
    vis = {r["round"]: r["count"]
           for r in result.visited.groupBy("round").count().collect()}
    rounds = sorted(lin)
    links_prev = sum(lin[r]["l"] for r in rounds[:-1])
    new_next = sum(vis.get(r + 1, 0) for r in rounds[:-1])
    return {
        "round.urls_dequeued_max": max(lin[r]["dq"] for r in rounds),
        "round.fetched": sum(lin[r]["f"] for r in rounds),
        "round.errors": sum(lin[r]["e"] for r in rounds),
        "round.links_found": sum(lin[r]["l"] for r in rounds),
        "round.new_url_ratio": new_next / links_prev if links_prev else 0.0,
    }


_PLAN_NODES = {
    "exchanges": re.compile(r"(?<![A-Za-z])Exchange\b"),
    "broadcasts": re.compile(r"\bBroadcastExchange\b"),
    "cache_scans": re.compile(r"\bInMemoryTableScan\b"),
}


def plan_counts(df) -> dict:
    """Exchange, BroadcastExchange and InMemoryTableScan nodes in the
    executed (final adaptive) plan of an already-executed DataFrame."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    text = plan.toString()
    return {k: len(rx.findall(text)) for k, rx in _PLAN_NODES.items()}


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def operator_layer(spark, wl) -> dict:
    """Each crawl operator called standalone on the largest round
    frontier of the last pass's checkpoint."""
    from pyspark.sql import functions as F

    from sitemapper_spark.functions.udfs import clean_links_udf
    from sitemapper_spark.operators.bloom import (
        build_bloom, split_by_bloom, url_hash_col,
    )
    from sitemapper_spark.operators.cuckoo import (
        CuckooFilter, build_cuckoo, split_by_cuckoo,
    )
    from sitemapper_spark.operators.multimodal import decode_verify
    from sitemapper_spark.operators.politeness import dequeue_per_host

    paths = [
        os.path.join(wl.ckpt, d, name)
        for d in sorted(os.listdir(wl.ckpt))
        for name in ("frontier_seed", "frontier_next")
        if os.path.isdir(os.path.join(wl.ckpt, d, name))
    ]
    sized = [(spark.read.parquet(p).count(), p) for p in paths]
    rows, path = max(sized)
    frontier = spark.read.parquet(path).persist()
    frontier.count()
    hashed = frontier.withColumn("_h", url_hash_col(F.col("sitemap_id"), F.col("url")))
    visited_h = wl.result.visited.select(
        url_hash_col(F.col("sitemap_id"), F.col("url")).alias("_h"))
    n_visited = visited_h.count()
    bloom = build_bloom(visited_h, "_h", expected_items=max(n_visited, 1))
    cuckoo = build_cuckoo(
        visited_h, "_h", CuckooFilter.sized_for(max(n_visited, 1)).n_buckets)
    fetch = frontier.join(
        wl.corpus.select(F.col("url"), "status", "final_url", "out_links"), "url"
    ).filter(F.col("status") == 200)
    images = wl.corpus.join(frontier.select("url").distinct(), "url", "left_semi")

    def count_both(pair):
        return sum(df.count() for df in pair)

    timed = {
        "operators.politeness.dequeue": _timed(
            lambda: count_both(dequeue_per_host(frontier, wl.config().per_host_budget))),
        "operators.bloom.split": _timed(
            lambda: count_both(split_by_bloom(hashed, "_h", bloom))),
        "operators.cuckoo.split": _timed(
            lambda: count_both(split_by_cuckoo(hashed, "_h", cuckoo))),
        "operators.multimodal.decode_verify": _timed(
            lambda: decode_verify(images).count()),
        "functions.udfs.clean_links": _timed(
            lambda: fetch.agg(F.sum(F.size(clean_links_udf(
                F.col("out_links"), F.col("root"), F.col("final_url"))))).collect()),
    }
    frontier.unpersist()
    out = {"operators.rows": rows}
    for name, s in timed.items():
        out[f"{name}_s"] = s
        out[f"{name}_rows_per_s"] = rows / s
    return out
