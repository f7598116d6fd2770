"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Prints progress on
stderr, one ``{"attribution": ...}`` line and, as the last line of
stdout, the result object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import contextmanager

# process start, kept across the re-exec below so set-up time includes it
T_PROCESS = float(os.environ.setdefault("PERFBENCH_T0", repr(time.time())))
HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "columnar_database_project_spark"

# Work per run, scaled by --seconds with the wall times measured on a
# 4-core host (perfbench/README.md). Each run does a fixed, seeded amount
# of work, so the layer counts repeat exactly at a seed.
SQL_PASS_S = 18.0                 # one timed sql_mix pass
REPLAY_S_PER_CYCLE = 5.0          # 5 block accesses + one prefetch cycle
SQL_WARM = {"suite": 1, "shiprange": 1, "writes": ("merge",)}
SQL_PASS = {"suite": 1, "shiprange": 4, "oread": 1, "writes": ("delete", "merge")}
WORKLOADS = ("sql_mix", "block_replay")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Ctx:
    """Per-run state handed to the workloads."""

    def __init__(self, root: str, seed: int, tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.work = os.path.join(root, ".perfbench")
        self.data_dir = os.path.join(self.work, "data")
        self.run_dir = os.path.join(self.work, f"run-{os.getpid()}")
        self.tmp_dir = os.path.join(self.run_dir, "tmp")
        self.spark = None
        self.cpu = None      # common.CpuClock once Spark runs
        self.check_s = 0.0   # set-up time spent computing expected results

    @contextmanager
    def checking(self):
        """Time the benchmark's own checker work, which set-up time excludes."""
        t0 = time.time()
        try:
            yield
        finally:
            self.check_s += time.time() - t0


def set_noise_controls(ctx: Ctx) -> None:
    """Environment set before any Spark or package import reads it."""
    from common import driver_mem_for_host

    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem_for_host()
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = ctx.data_dir
    os.environ["SPARK_LOCAL_DIRS"] = ctx.tmp_dir
    os.environ["TMPDIR"] = ctx.tmp_dir
    # the short-lived JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={ctx.tmp_dir}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


# ------------------------------------------------------------- workloads
def run_sql(ctx: Ctx, seconds: float, out: dict) -> None:
    import pyarrow.parquet as pq

    from common import OpLog, log
    from sqlmix import SqlMix, plan_passes

    passes = max(1, round(seconds / SQL_PASS_S))
    n_orders = pq.ParquetFile(os.path.join(ctx.data_dir, "orders.parquet")).metadata.num_rows
    # pass 0 is the untimed warm-up: every kind of operation at least once
    planned = plan_passes(ctx.seed, [SQL_WARM] + [SQL_PASS] * passes, n_orders)
    mix = SqlMix(ctx)
    mix.setup(planned)
    log(f"sql_mix: set up; warm-up pass of {len(planned[0])} ops")
    warm = OpLog()
    mix.run_ops(planned[0], warm, scan_metrics=False)
    if warm.failed:
        log(f"warm-up failures: {warm.failures}")
    oplog = OpLog()
    window = begin_window(ctx, out)
    for ops in planned[1:]:
        mix.run_ops(ops, oplog, scan_metrics=ctx.tracer.enabled)
    end_window(ctx, out, window)
    ok, why = mix.final_check()
    oplog.record("final_check", "check", 0.0, 0.0, ok, why)
    out["oplog"] = oplog
    dm = mix.dml_metrics()
    out["space_amp"] = dm.pop("space_amp")
    counts = out["counts"]
    for k in ("files_live", "dv_taint_ratio"):
        counts[f"storage.manifests.{k}"] = dm.pop(k)
    for k, v in dm.items():
        counts[f"storage.cow.{k}"] = v
    counts["sources.scan.files_read"] = mix.scan["files"]
    counts["sources.scan.bytes_read"] = mix.scan["bytes"]
    pred = mix.scan["predicted"]
    out["predicted_ratio"] = sum(pred) / len(pred) if pred else 0.0


def run_block(ctx: Ctx, seconds: float, out: dict) -> None:
    from blockreplay import PREFETCH_EVERY, BlockReplay, trace_seed
    from common import OpLog, log

    replay = BlockReplay(ctx)
    replay.setup()
    chunks = replay.warm_up(trace_seed(ctx.seed) + 1)
    log(f"block_replay: warm-up settled after {chunks} chunks")
    n = PREFETCH_EVERY * max(2, round(seconds / REPLAY_S_PER_CYCLE))
    seq = replay.trace(trace_seed(ctx.seed), n)
    oplog = OpLog()
    window = begin_window(ctx, out)
    replay.run(seq, oplog)
    end_window(ctx, out, window)
    out["oplog"] = oplog
    out["counts"].update(replay.layer_counts())
    replay.close()


def begin_window(ctx: Ctx, out: dict) -> dict:
    from common import cpu_times, jvm_gc, log

    out["setup_s"] = time.time() - T_PROCESS - out["build_s"] - ctx.check_s
    out["setup_cpu_s"] = ctx.cpu()
    log(f"set-up done in {out['setup_s']:.1f}s; timed window starts")
    return {"cpu": cpu_times(), "gc": jvm_gc(ctx.spark), "t": time.perf_counter()}


def end_window(ctx: Ctx, out: dict, window: dict) -> None:
    from common import cpu_times, jvm_gc, steal_pct

    t_end = time.perf_counter()
    out["window"] = (window["t"], t_end)
    gc_ms, gc_n = jvm_gc(ctx.spark)
    out["counts"]["host.steal_pct"] = steal_pct(window["cpu"], cpu_times())
    out["counts"]["session.jvm_gc_ms"] = gc_ms - window["gc"][0]
    out["counts"]["session.jvm_gc_count"] = gc_n - window["gc"][1]


# --------------------------------------------------------------- metrics
def wall_metrics(out: dict) -> dict[str, float]:
    from common import class_geomean

    oplog = out["oplog"]
    return {"read_ms": 1000 * class_geomean(oplog.by_name, oplog.read_classes),
            "ops_per_s": oplog.ops / oplog.busy()[0]}


def end_to_end(out: dict) -> dict:
    """CPU-time metrics: host CPU steal moved wall times by up to 2x
    between runs minutes apart (perfbench/README.md), CPU time far less.
    A read class is one registry query or one kind of range read, or, on
    block_replay, the hits and the misses."""
    from common import class_geomean

    oplog = out["oplog"]
    return {
        "setup_s": {"value": out["setup_s"], "unit": "s"},
        "read_cpu_ms": {"value": 1000 * class_geomean(oplog.cpu_by_name, oplog.read_classes),
                        "unit": "ms"},
        "ops_per_cpu_s": {"value": oplog.ops / oplog.busy()[1], "unit": "1/s"},
    }


def per_layer(ctx: Ctx, out: dict) -> dict:
    """Every per-layer metric; a layer the workload does not use reads 0."""
    from common import median
    from sqlmix import SUITE
    from spans import per_span_cost_s

    tr = ctx.tracer
    t0, t1 = out["window"]
    oplog = out["oplog"]
    counts = out["counts"]

    def p50_ms(name):
        return 1000 * median(tr.durations(name, t0))

    def total_s(name):
        return sum(tr.durations(name))

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (total_s("session.get_spark"), "s"),
        "session.jvm_gc_ms": (counts["session.jvm_gc_ms"], "ms"),
        "session.jvm_gc_count": (counts["session.jvm_gc_count"], "count"),
        "session.peak_rss_mb": (out["peak_rss_mb"], "MB"),
        "host.steal_pct": (counts["host.steal_pct"], "%"),
        "catalog.register_s": (total_s("catalog.register_dir"), "s"),
    }
    for q in SUITE:
        m[f"operators.{q}.p50_ms"] = (1000 * median(oplog.by_name.get(f"operators.{q}", [])), "ms")
    m.update({
        "engine.query_ms": (p50_ms("engine.query"), "ms"),
        "engine.execute_ms": (p50_ms("engine.execute"), "ms"),
        "sources.index.predict_ms": (p50_ms("sources.index.predict_blocks_for_sql"), "ms"),
        "sources.index.blocks_predicted_ratio": (out.get("predicted_ratio", 0.0), "ratio"),
        "sources.index.build_s": (total_s("sources.index.build") + total_s("sources.index.build_from_files"), "s"),
        "sources.microblock.write_s": (total_s("sources.microblock.write"), "s"),
        "sources.microblock.read_block_ms": (p50_ms("sources.microblock.read_block"), "ms"),
        "sources.scan.files_read": (counts.get("sources.scan.files_read", 0), "count"),
        "sources.scan.bytes_read": (counts.get("sources.scan.bytes_read", 0), "bytes"),
        "storage.block_cache.get_ms": (p50_ms("storage.block_cache.get"), "ms"),
        "storage.block_cache.put_ms": (p50_ms("storage.block_cache.put"), "ms"),
        "storage.access_logger.log_ms": (p50_ms("storage.access_logger.log"), "ms"),
        "ml.lstm.train_s": (total_s("ml.lstm.fit"), "s"),
        "ml.scheduler.suggest_ms": (p50_ms("ml.scheduler.suggest_topk_prefetch"), "ms"),
        "ml.prefetch.cycle_ms": (p50_ms("ml.prefetch.run_once"), "ms"),
        "ml.prefetch.load_ms": (p50_ms("ml.prefetch.prefetch_block"), "ms"),
        "storage.cow.delete_ms": (p50_ms("storage.cow.delete_where_mor"), "ms"),
        "storage.cow.update_ms": (p50_ms("storage.cow.update_where_mor"), "ms"),
        "storage.cow.merge_ms": (p50_ms("storage.cow.merge_mor"), "ms"),
        "storage.manifests.read_ms": (p50_ms("storage.manifests.read"), "ms"),
        "dml.write_p50_ms": (1000 * median(oplog.writes), "ms"),
        "dml.space_amp": (out.get("space_amp", 0.0), "ratio"),
    })
    for name, unit in LAYER_COUNTS:
        m[name] = (counts.get(name, 0), unit)
    for layer, sec in tr.self_times(t0, t1).items():
        m[f"self_ms.{layer}"] = (1000 * sec, "ms")
    in_window = sum(1 for s in tr.spans if t0 <= s[2] <= t1)
    m["trace.spans"] = (in_window, "count")
    m["trace.overhead_pct"] = (100 * in_window * per_span_cost_s() / max(1e-9, t1 - t0), "%")
    for k, v in end_to_end(out).items():
        m[f"traced.{k}"] = (v["value"], v["unit"])
    wall = wall_metrics(out)
    m["wall.read_ms"] = (wall["read_ms"], "ms")
    m["wall.ops_per_s"] = (wall["ops_per_s"], "1/s")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


LAYER_COUNTS = [
    ("storage.block_cache.hits", "count"), ("storage.block_cache.misses", "count"),
    ("storage.block_cache.hit_ratio", "ratio"), ("storage.block_cache.evictions", "count"),
    ("storage.access_logger.bytes_written", "bytes"),
    ("ml.prefetch.issued", "count"), ("ml.prefetch.useful", "count"),
    ("ml.prefetch.precision", "ratio"),
    ("storage.cow.compactions", "count"), ("storage.cow.compacting_write_ms", "ms"),
    ("storage.cow.files_rewritten", "count"), ("storage.cow.files_new", "count"),
    ("storage.cow.dv_rows", "count"), ("storage.cow.bytes_written_per_changed_byte", "ratio"),
    ("storage.manifests.files_live", "count"), ("storage.manifests.dv_taint_ratio", "ratio"),
]


# ------------------------------------------------------------------ main
def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        env = dict(os.environ, PYTHONHASHSEED="0")
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)] + argv, env)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, PKG, "__init__.py"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print(f"perfbench: run from a checkout of the repository: no {PKG}/ in {root}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    from common import CpuClock, median, peak_rss_mb, start_spark, stop_spark
    from datagen import ensure_dataset
    from spans import Tracer

    tracer = Tracer(bool(args.trace))
    ctx = Ctx(root, args.seed, tracer)
    os.makedirs(ctx.tmp_dir, exist_ok=True)
    set_noise_controls(ctx)
    t = time.time()
    ensure_dataset(ctx.data_dir)
    out: dict = {"build_s": time.time() - t, "counts": {}}
    if args.workload == "sql_mix":
        import __spark_entry__  # noqa: F401  (operators load before the wrapping)
    tracer.install()
    ctx.spark = start_spark(ctx.tmp_dir)
    ctx.cpu = CpuClock(ctx.spark)
    try:
        if args.workload == "block_replay":
            run_block(ctx, args.seconds, out)
        else:
            run_sql(ctx, args.seconds, out)
        out["peak_rss_mb"] = peak_rss_mb(ctx.spark)
        tracer.uninstall()
        metrics = per_layer(ctx, out) if args.trace else end_to_end(out)
        oplog = out["oplog"]
        attribution = dict(out["counts"])
        if oplog.writes:
            attribution["write_p50_ms"] = 1000 * median(oplog.writes)
            attribution["space_amp"] = out.get("space_amp", 0.0)
        attribution.update({f"wall.{k}": v for k, v in wall_metrics(out).items()})
        attribution["cpu.setup_s"] = out["setup_cpu_s"]
        attribution["failures"] = oplog.failures
        print(json.dumps({"attribution": attribution}), flush=True)
        result = {"correct": oplog.failed == 0, "attempted": oplog.attempted,
                  "failed": oplog.failed, "metrics": metrics}
    finally:
        stop_spark(ctx.spark)
        import shutil

        shutil.rmtree(ctx.run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
