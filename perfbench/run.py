"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 12 --trace 0

Run from the repository root. Every workload is a single driver process
at ``local[4]`` running a closed loop with one client: each call into
the program waits for the previous one to return. The run

1. starts the Spark session and prepares the workload's inputs (three
   times; the median is charged to ``setup_s``), then warms up with one
   pass of the workload's own shape, also charged to ``setup_s``;
2. runs timed passes until ``--seconds`` would be exceeded (at least
   one), restoring the session's SQL conf before each timed call;
3. checks every pass's output (serial oracle / DuckDB twin);
4. prints a human table on stderr and, as the last stdout line, one
   JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (Spark event log on, spans recorded around the calls
into each layer, spans written to ``.perfbench_work/traces/``), by the
names and units ``BENCHMARK.json`` declares.
The exit code is 0 only when every output checked correct.

All scratch state (corpus cache, warehouses, Spark local dirs, event
logs, traces) lives under ``.perfbench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env(trace: bool) -> str | None:
    """Keep every file the run writes inside the work dir; returns the
    event-log dir for a traced run."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # the program's own tuning (driver heap included) and debug switches
    # stay at their defaults
    for knob in ("SPARK_DRIVER_MEMORY", "KS_GC", "KS_CONSTRAINT_PROP",
                 "KS_TIMING", "KS_EVENTLOG_DIR"):
        os.environ.pop(knob, None)
    if not trace:
        return None
    evlog = os.path.join(WORK, "eventlog", f"{os.getpid()}-{time.time_ns()}")
    os.environ["KS_EVENTLOG_DIR"] = evlog
    return evlog


def _declared_metrics() -> tuple:
    """name -> unit of the end-to-end and the per-layer metrics, in the
    order ``BENCHMARK.json`` lists them."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        _die(f"no BENCHMARK.json in {ROOT}")
    with open(path) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]}
                 for k in ("end_to_end", "per_layer"))


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    """The Spark session plus a snapshot of its SQL conf, so every timed
    call starts from the same settings (the engine leaves
    ``spark.sql.shuffle.partitions`` changed after a crawl)."""

    def __init__(self):
        from krawler_spark.session import get_spark

        self.cores = CORES
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", cores=CORES, shuffle_partitions=2 * CORES,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.start_s = time.perf_counter() - t0
        self._conf = {k: v for k, v in self.spark.conf.getAll.items()
                      if k.startswith("spark.sql.")}

    def restore_conf(self) -> None:
        now = self.spark.conf.getAll
        for k in now:
            if k.startswith("spark.sql.") and k not in self._conf:
                self.spark.conf.unset(k)
        for k, v in self._conf.items():
            if now.get(k) != v:
                self.spark.conf.set(k, v)

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return _vm_hwm_mb(jvm) + _vm_hwm_mb("self")

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and the python workers it
        forked) to exit; the JVM exits when its stdin closes."""
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "krawler_spark")) or not os.path.isfile(
            os.path.join(ROOT, "__spark_entry__.py")):
        _die(f"run from the repository root: no krawler_spark/ or "
             f"__spark_entry__.py in {ROOT}")
    end_to_end, per_layer = _declared_metrics()
    trace = bool(args.trace)
    evlog = _prepare_env(trace)
    sys.path.insert(0, ROOT)
    import crawl_bfs
    import simjoin
    from spans import Tracer, attribute, read_event_log

    workloads = {"crawl_bfs": crawl_bfs.CrawlBfs, "simjoin": simjoin.SimJoin}
    if args.workload not in workloads:
        _die(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}")

    sess = Session()
    tracer = Tracer(args.workload, args.seed) if trace else None
    wl = workloads[args.workload](sess, WORK, args.seed, tracer)
    try:
        input_s = statistics.median(wl.prepare() for _ in range(3))
        warmup_s = wl.warmup()
        setup_s = sess.start_s + input_s + warmup_s

        if trace:
            # untraced, traced, untraced: the traced pass is compared with
            # the mean of its neighbours, so JVM warming cancels out of
            # the tracing overhead
            passes = [wl.run_pass(traced=t) for t in (False, True, False)]
        else:
            # at least one pass; another only if it should fit in --seconds
            passes, t0 = [], time.perf_counter()
            while not passes or (time.perf_counter() - t0 + statistics.median(
                    p["wall"] for p in passes) <= args.seconds):
                passes.append(wl.run_pass(traced=False))
        rss = sess.peak_rss_mb()
        layers = wl.layers() if trace else {}
    finally:
        sess.stop()
        wl.cleanup()

    attempted, failed = wl.attempted, wl.failed
    walls = [p["wall"] for p in passes]
    metrics = {
        "setup_s": setup_s,
        "pass_s": statistics.median(walls),
        "items_per_s": statistics.median(p["items"] / p["wall"] for p in passes),
        "step_gmean_s": statistics.geometric_mean(s for p in passes for s in p["steps"]),
    }
    units = end_to_end
    if trace:
        tracer.finish()
        jobs, tasks = read_event_log(evlog)
        attribute(tracer, jobs, tasks)
        layers.update(wl.spark_layers(jobs, tasks))
        layers.update({
            "session.start_s": sess.start_s,
            "setup.input_s": input_s,
            "setup.warmup_s": warmup_s,
            "trace.spans": len(tracer.spans),
            "process.peak_rss_mb": rss,
        })
        tracer.write(os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}-{tracer.trace_id}.jsonl"))
        shutil.rmtree(evlog, ignore_errors=True)
        units = per_layer
        # a layer the workload never calls spent no time and did no work
        for k in units:
            if k not in layers and k.startswith(wl.UNCALLED):
                layers[k] = 0.0
        metrics = layers
    if metrics.keys() != units.keys():
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: not measured "
            f"{sorted(units.keys() - metrics.keys())}, not declared "
            f"{sorted(metrics.keys() - units.keys())}")
    metrics = {k: metrics[k] for k in units}

    print(f"# {args.workload} seed={args.seed} passes={len(passes)} "
          f"walls={[round(w, 3) for w in walls]} "
          f"steps={[[round(s, 3) for s in p['steps']] for p in passes]} "
          f"process={time.perf_counter() - T_START:.1f}s", file=sys.stderr)
    print(f"# {'error_rate':34s} {failed / attempted:.4f} ratio "
          f"({failed}/{attempted})", file=sys.stderr)
    for k, v in metrics.items():
        print(f"# {k:34s} {v:.6g} {units[k]}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
