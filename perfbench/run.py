"""The repository benchmark: one command, seeded workloads, checked outputs.

    python3 perfbench/run.py --workload taxi_medallion --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. Each run makes its inputs from
``--seed``, sets up the engine's Spark session (sized from this machine),
runs an untimed warm-up, then timed passes until their total reaches
``--seconds`` and their count the workload's minimum, checks every pass's
outputs, and prints as its last line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones: ``setup_s`` and
``latency_s``. ``setup_s`` is the median over ``SETUPS`` set-ups, each
from process start until the session is up and the query registry loaded:
this process's own, then more in fresh child processes once this
process's JVM has stopped. ``latency_s`` is the median latency of the unit
of work a user waits on: a whole pass on ``taxi_medallion``, a micro-batch
(read from the public ``StreamingQueryListener`` API) on ``stream_ingest``.

With ``--trace 1`` the timed passes run untraced, traced, traced, untraced.
For the traced ones the SparkContext restarts in the same JVM with an
uncompressed Spark event log, spans are recorded around the calls into
each engine layer, and jobs, stages and tasks are attributed to those
spans. The run prints the per-layer metrics declared in ``BENCHMARK.json``;
layers a workload does not reach read 0. The curation layers (readers, the
dedup, similarity and quality operators and the curation ladder) are timed
alone on a seeded corpus in traced ``stream_ingest`` runs.
``trace.overhead_pct`` compares the median latency of the traced passes
with that of the untraced ones around them.

The line before the result records the run's context: seed, session sizing,
CPU calibration, whether another JVM was running, sample counts and the time
of every phase. An operation is a pass or a correctness check; ``failed``
counts failed checks. Any failed check makes the run exit with code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from startup import ROOT, restart_spark, size_session, stop_spark, timed_setup

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
#: The workload whose traced runs also probe the curation layers.
CURATION_HOST = "stream_ingest"
#: Set-up samples behind ``setup_s``: this process's own, then fresh child processes.
SETUPS = 2


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _session_pids() -> list[int]:
    """This process and the session's JVM. The timed passes run no Python
    workers; the worker daemon input generation left behind sits idle."""
    from pyspark import SparkContext

    return [os.getpid(), SparkContext._gateway.proc.pid]


def _cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds used so far by ``pids``."""
    ticks = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def _reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")  # resets the kernel's peak-RSS high-water mark


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak RSS since the last reset. The kernel keeps
    it, so unlike sampling /proc/<pid>/smaps_rollup (which walks the JVM's
    page tables under its memory-map lock) reading it does not slow the run."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024


def _child(cmd: list[str]) -> dict:
    """Run a child process to completion; its last JSON stdout line is the result."""
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=120, check=True)
    return json.loads([line for line in proc.stdout.splitlines() if line.startswith("{")][-1])


def _listen(spark, wl):
    """A progress recorder on ``spark``'s streaming queries, for streaming workloads."""
    if not wl.streaming:
        return None
    from tracing import ProgressRecorder

    progress = ProgressRecorder()
    spark.streams.addListener(progress)
    return progress


def timed_round(wl, progress, before: int, n_min: int, seconds: float) -> dict:
    """Timed passes until their total reaches ``seconds`` and their count
    ``n_min``. ``before`` is the number of main micro-batches ``progress``
    saw before the round. Latencies are pass walls, or on a streaming
    workload the ``triggerExecution`` time of each micro-batch."""
    from workloads import Check

    pids = _session_pids()
    _reset_peak_rss(pids)
    walls: list[float] = []
    cpus: list[float] = []
    while sum(walls) < seconds or len(walls) < n_min:
        cpu0 = _cpu_s(pids)
        walls.append(wl.run_pass(len(wl.passes)))
        cpus.append(_cpu_s(pids) - cpu0)
    r = {"walls": walls, "cpus": cpus, "latencies": walls, "batches": [], "peak_rss_mb": _peak_rss_mb(pids), "checks": []}
    if progress is not None:
        want = before + wl.n_files * len(walls)
        progress.wait_for(want)
        got = progress.main_batches()
        r["checks"].append(Check("stream.batches", len(got) == want, f"{len(got)} micro-batches vs {want}"))
        r["batches"] = got[before:]
        r["latencies"] = [b["duration_ms"]["triggerExecution"] / 1000 for b in r["batches"]]
    return r


def layer_metrics(wl, tracer, log_dir: str, run: dict) -> dict[str, float]:
    """Per-layer metrics of one traced run, over its traced passes."""
    from tracing import attribute, parse_event_log, work_under

    spans = tracer.spans
    work = attribute(parse_event_log(log_dir), spans)
    traced = run["traced"]
    timed = tracer.named("pass")
    n = len(timed)

    def wall(name: str) -> float:
        return _median([s.end - s.start for s in tracer.named(name)])

    m: dict[str, float] = {x["name"]: 0.0 for x in _spec()["per_layer"]}
    total = work_under(work, spans, timed)
    m.update(
        {
            "session.get_spark_s": run["setup"]["get_spark_s"],
            "registry.load_s": run["setup"]["registry_s"],
            "cold.warmup_s": run["warmups"][0],
            "pass.wall_s": _median(traced["walls"]),
            "pass.cpu_s": _median(traced["cpus"]),
            "mem.peak_rss_mb": traced["peak_rss_mb"],
            "spark.jobs": total.jobs / n,
            "spark.tasks": total.tasks / n,
            "spark.tasks_failed": total.tasks_failed / n,
            "spark.executor_run_ms": total.run_ms / n,
            "spark.gc_ms": total.gc_ms / n,
            "spark.shuffle_write_bytes": total.shuffle_write_bytes / n,
            "spark.spill_bytes": total.spill_bytes / n,
            "trace.overhead_pct": run["overhead_pct"],
        }
    )
    m.update(run["probes"])
    for name in {s.name for s in spans if s.name.startswith("query.") or s.name == "curation"}:
        m[f"{name}.jobs"] = work_under(work, spans, tracer.named(name)).jobs
    if wl.name == "taxi_medallion":
        dag = work_under(work, spans, tracer.named("dag"))
        checks = work_under(work, spans, tracer.named("checks"))
        serial = _median([p["serial_sum_s"] for p in run["traced_passes"]])
        m.update(
            {
                "dag.wall_s": wall("dag"),
                "dag.serial_sum_s": serial,
                "dag.overlap_ratio": serial / wall("dag"),
                "dag.jobs": dag.jobs / n,
                "dag.tasks": dag.tasks / n,
                "dag.sched_wait_ms": dag.sched_wait_ms / n,
                "dag.write_bytes": dag.write_bytes / n,
                "checks.wall_s": wall("checks"),
                "checks.jobs": checks.jobs / n,
            }
        )
    else:
        batches = traced["batches"]
        drain = work_under(work, spans, tracer.named("drain"))

        def phase(key: str) -> float:
            return _median([b["duration_ms"].get(key, 0) for b in batches])

        m.update(
            {
                "stream.batches": len(batches),
                "stream.batch_ms_max": max(b["duration_ms"].get("triggerExecution", 0) for b in batches),
                "stream.jobs_per_batch": drain.jobs / len(batches),
                "stream.read_amplification": drain.read_bytes / (wl.landed_bytes * n),
                "stream.rows_per_s": wl.landed_lines / wall("drain"),
            }
        )
        for key in PHASES:
            m[f"stream.{key}_ms"] = phase(key)
    undeclared = set(m) - {x["name"] for x in _spec()["per_layer"]}
    if undeclared:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    return m


def measure(args: argparse.Namespace, work: str) -> int:
    sizing = size_session(work)
    traced = bool(args.trace)
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse")}
    log_dir = os.path.join(work, "eventlog")
    spark, setup = timed_setup(conf)
    try:
        # imported after set-up, which covers only the session and the registry
        import bench
        from tracing import Tracer
        from workloads import WORKLOADS

        own_jvm = f"pid={_session_pids()[1]}:"
        siblings = [s for s in bench._sibling_jvms() if not s.startswith(own_jvm)]
        phases: dict[str, float] = {}
        clock = time.perf_counter()

        def phase_done(name: str) -> None:
            nonlocal clock
            now = time.perf_counter()
            phases[name], clock = now - clock, now

        calib = bench._calibrate_cpu()
        phase_done("calibrate")
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
        wl.prepare()
        phase_done("prepare")
        progress = _listen(spark, wl)
        warmups = wl.warm_up()
        phase_done("warm_up")
        extra_checks: list = []
        if not traced:
            rounds = {"timed": timed_round(wl, progress, wl.warmup_batches, wl.min_passes, args.seconds)}
            phase_done("timed_passes")
        else:
            # Untraced passes before and after the traced ones (A-B-B-A on
            # taxi_medallion, A-B-A on stream_ingest), so that a JIT still
            # warming slows both sides alike. The event log can only be
            # switched with the SparkContext, which restarts in the same JVM.
            tracer = Tracer(True)
            rounds = {"untraced_1": timed_round(wl, progress, wl.warmup_batches, 1, 0)}
            phase_done("untraced_passes_1")
            os.makedirs(log_dir)
            spark = restart_spark(
                spark,
                {**conf, "spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir, "spark.eventLog.compress": "false"},
            )
            wl.attach(spark, tracer)
            first_traced = len(wl.passes)
            rounds["traced"] = timed_round(wl, _listen(spark, wl), 0, wl.min_passes, 0)
            traced_passes = wl.passes[first_traced:]
            probes = wl.probe_layers()
            if args.workload == CURATION_HOST:
                from corpus import probe_curation

                curation, extra_checks = probe_curation(spark, work, args.seed, args.scale, tracer)
                probes.update(curation)
            phase_done("traced_passes")
            spark = restart_spark(spark, conf)
            wl.attach(spark, Tracer(False))
            rounds["untraced_2"] = timed_round(wl, _listen(spark, wl), 0, 1, 0)
            phase_done("untraced_passes_2")
        checks = [c for r in rounds.values() for c in r["checks"]] + wl.verify() + extra_checks
        failed = [c for c in checks if not c.ok]
        phase_done("verify")
    finally:
        stop_spark(spark)  # also flushes the event log
    phase_done("stop")

    setups = [setup]
    if traced:
        untraced = rounds["untraced_1"]["latencies"] + rounds["untraced_2"]["latencies"]
        run = {
            "setup": setup,
            "warmups": warmups,
            "traced": rounds["traced"],
            "traced_passes": traced_passes,
            "probes": probes,
            "overhead_pct": (_median(rounds["traced"]["latencies"]) / _median(untraced) - 1) * 100,
        }
        values = layer_metrics(wl, tracer, log_dir, run)
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.json"))
        phase_done("attribute")
    else:
        for _ in range(SETUPS - 1):
            setups.append(_child([sys.executable, os.path.join(HERE, "startup.py"), conf["spark.sql.warehouse.dir"]]))
        phase_done("setup_samples")
        values = {"setup_s": _median([s["setup_s"] for s in setups]), "latency_s": _median(rounds["timed"]["latencies"])}

    attempted = len(warmups) + sum(len(r["walls"]) for r in rounds.values()) + len(checks)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "trace": args.trace,
        "sizing": sizing,
        "calib_cpu_sec": calib,
        "contention": bool(siblings),
        "sibling_jvms": siblings,
        "setups": setups,
        "phases_s": phases,
        "samples": {"setup_s": len(setups), **{f"latency_s.{k}": len(r["latencies"]) for k, r in rounds.items()}},
        "warmups_s": warmups,
        "rounds": {
            k: {"pass_walls_s": r["walls"], "pass_cpu_s": r["cpus"], "latencies_s": r["latencies"], "peak_rss_mb": r["peak_rss_mb"]}
            for k, r in rounds.items()
        },
        "failed_checks": [f"{c.name}: {c.detail}" for c in failed],
        "failed_ops_ratio": f"{len(failed)}/{attempted}",
    }
    print(json.dumps({"context": context}), flush=True)
    spec = _spec()
    units = {x["name"]: x["unit"] for x in spec["end_to_end"] + spec["per_layer"]}
    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 1 if failed else 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("taxi_medallion", "stream_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full", help="tiny: smoke-test sizes")
    args = p.parse_args(argv)

    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK_ROOT)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
