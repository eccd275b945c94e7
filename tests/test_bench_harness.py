"""Pins for tools/bench_scaling.py (no SparkSession needed).

The round-4 retraction (BENCH.md §3.2) happened because run_level's
env dict literal silently overrode the caller's SPARK_GRAFT_DRIVER_MEM
— a whole heap A/B ran at one heap. These tests pin the fixed
contract: the caller's env wins, the worker template stays formattable
and parseable, and the pass rows carry the heap/probe telemetry fields
that make a future mislabel visible in the JSON itself.
"""

import ast
import importlib.util
import os

import pytest

HARNESS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "bench_scaling.py",
)


@pytest.fixture(scope="module")
def bs():
    spec = importlib.util.spec_from_file_location("bench_scaling", HARNESS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_worker_template_formats_and_parses(bs):
    # %-formatting with a stray unescaped % raises; the formatted
    # script must be valid python
    script = bs.WORKER % {"repo": "/root/repo"}
    ast.parse(script)


def test_worker_records_heap_and_probe(bs):
    script = bs.WORKER % {"repo": "/root/repo"}
    assert "heap_gb" in script
    assert "cpu_probe_ms" in script
    # ground truth from the live JVM, not from env/labels
    assert "maxMemory" in script


def test_run_level_honors_caller_heap(bs, monkeypatch):
    """The subprocess env must carry the caller's heap, not a pin."""
    captured = {}

    class _Out:
        stdout = 'RESULT:[{"sha256_visited": "x", "run": "cold"}]'
        stderr = ""

    def fake_run(cmd, **kw):
        captured["env"] = kw["env"]
        return _Out()

    monkeypatch.setattr(bs.subprocess, "run", fake_run)
    monkeypatch.setattr(bs, "prewarm_page_cache", lambda p: None)

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "48g")
    bs.run_level(8, "/tmp/x_p1000_h2_i1x1_r2", "mega", 1, "shuffle")
    assert captured["env"]["SPARK_GRAFT_DRIVER_MEM"] == "48g"

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    bs.run_level(8, "/tmp/x_p1000_h2_i1x1_r2", "mega", 1, "shuffle")
    assert captured["env"]["SPARK_GRAFT_DRIVER_MEM"] == "24g"  # default


def test_run_level_passes_extra_conf_as_json(bs, monkeypatch):
    captured = {}

    class _Out:
        stdout = 'RESULT:[{"sha256_visited": "x", "run": "cold"}]'
        stderr = ""

    def fake_run(cmd, **kw):
        captured["cmd"] = cmd
        return _Out()

    monkeypatch.setattr(bs.subprocess, "run", fake_run)
    monkeypatch.setattr(bs, "prewarm_page_cache", lambda p: None)
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": "8192"}
    opts = {"salt_buckets": 16}
    bs.run_level(8, "/tmp/x_p1000_h2_i1x1_r2", "mega", 1, "shuffle",
                 extra_conf=conf, engine_opts=opts)
    import json as _json
    # worker argv mapping: cmd[5] is the inline script (= sys.argv[0]),
    # so worker sys.argv[i] == cmd[5 + i]; extra_conf is argv[10],
    # engine_opts argv[15]
    assert _json.loads(captured["cmd"][5 + 10]) == conf
    assert _json.loads(captured["cmd"][5 + 15]) == opts


def test_certify_bimodal_windows(bs):
    """Probe-relative certification: clean passes certify, slow-cycle
    and stolen passes don't, and a pre-probe row never certifies."""
    levels = {
        "32": [
            {"run": "cold", "cpu_probe_ms": [90.0, 92.0], "steal_pct": 0.2},
            # slow-cycle window: probe blown, steal near zero
            {"run": "warm1", "cpu_probe_ms": [88.0, 536.8], "steal_pct": 0.5},
            # stolen window: probes clean, steal high
            {"run": "warm2", "cpu_probe_ms": [91.0, 93.0], "steal_pct": 7.3},
            {"run": "warm3", "cpu_probe_ms": [89.0, 94.0], "steal_pct": 0.4},
        ],
        "8": [
            {"run": "warm1"},  # old harness row: no probe data
        ],
    }
    floor = bs.certify(levels)
    assert floor == 88.0
    flags = [r["certified"] for r in levels["32"]]
    assert flags == [True, False, False, True]
    assert levels["8"][0]["certified"] is False


def test_certify_bounds_memory_bandwidth_probe(bs):
    """A pass with clean CPU probes but a blown bandwidth probe (the
    compute-blind co-tenancy case) must not certify; rows without the
    bandwidth field (older harness) still certify on CPU+steal."""
    levels = {"32": [
        {"run": "warm1", "cpu_probe_ms": [90.0, 91.0], "steal_pct": 0.2,
         "membw_probe_ms": [30.0, 31.0]},
        {"run": "warm2", "cpu_probe_ms": [90.0, 92.0], "steal_pct": 0.3,
         "membw_probe_ms": [30.5, 95.0]},  # bus saturated
        {"run": "warm3", "cpu_probe_ms": [91.0, 93.0], "steal_pct": 0.2},
    ]}
    bs.certify(levels)
    flags = [r["certified"] for r in levels["32"]]
    assert flags == [True, False, True]


def test_certify_all_slow_certifies_nothing(bs):
    levels = {"32": [
        {"run": "warm1", "cpu_probe_ms": [300.0, 400.0], "steal_pct": 0.0},
        {"run": "warm2", "cpu_probe_ms": [290.0, 380.0], "steal_pct": 0.0},
    ]}
    bs.certify(levels)
    # floor-relative: 380 > 1.25*290, 400 > 1.25*290 → nothing certifies
    assert not any(r["certified"] for r in levels["32"])
