"""mongraph-spark benchmark: one named workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  One process, one Spark session
on ``local[<cores>]``, one client in a closed loop: each op starts when the
previous one has returned.  A run

1. makes a private working directory under ``perfbench/.runs`` and points
   ``TMPDIR``, ``MONGRAPH_GRAPH_CACHE``, ``SPARK_LOCAL_DIRS`` and the cwd
   (so ``spark-warehouse``) at it; it is deleted at the end;
2. generates the workload's tables from ``--seed``;
3. sets the workload up ``SETUPS`` times from scratch (``setup_s`` is the
   median);
4. runs ``--seconds // ROUND_S`` timed rounds of ops, at least one.
   ``ROUND_S`` is the workload's nominal round length on a 4-core host; a
   count fixed in advance keeps a faster program from running an extra,
   warmer round.  There is no separate warm round: the set-ups (and the
   document graph's one warm-up read) already run Spark jobs and warm the
   JVM, and a full warm round would add 20-35 s to every run;
5. checks every op's result (oracle, adjacency model or store replay);
   an exception or a wrong result is a failed op, named in the output.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics, measured with spans and
Spark status-store reads around every op.  Either way the full record,
with sample counts, per-op numbers and (traced) spans, is written to
``perfbench/out/<workload>-seed<n>-trace<t>.json``.
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, "out")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(tag: str) -> str:
    """Private working directory and environment for this run."""
    run_dir = os.path.join(HERE, ".runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))
    os.environ.update(
        TMPDIR=run_dir,
        MONGRAPH_GRAPH_CACHE=os.path.join(run_dir, "graph_cache"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark_local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cores),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)
    sys.path.insert(0, ROOT)
    return run_dir


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> dict:
    """The highest of p99/p95/p90/p75 with at least ten samples above it;
    ``value`` is None when there are too few samples for any of them."""
    n = len(xs)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return {"value": sorted(xs)[int(n * p / 100)], "unit": "s", "pct": p, "n": n}
    return {"value": None, "unit": "s", "pct": None, "n": n}


class Runner:
    """Runs rounds of ops, timing each and recording everything measured."""

    def __init__(self, spark, wl, tracer, probe, batches: list) -> None:
        self.spark, self.wl, self.tracer, self.probe, self.batches = spark, wl, tracer, probe, batches
        self.ops: list[dict] = []

    def round(self, r: int) -> list[dict]:
        from probes import wait_for_listeners

        recs = []
        for op in self.wl.round(r):
            op_id = len(self.ops)
            n_batches = len(self.batches)
            before = self.wl.counters()
            if self.probe is not None:
                self.probe.reset()
            self.tracer.mark()
            w0, p0 = time.time(), time.perf_counter()
            with self.tracer.span(f"op.{op.kind}", op_id=op_id, group=op.group, round=r) as sp:
                span_id = sp["id"] if sp is not None else None
                try:
                    result, error = op.run(), None
                except Exception as exc:  # noqa: BLE001 - a failed op is a measurement
                    result, error = None, f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            latency = time.perf_counter() - p0
            rec = {
                "id": op_id, "round": r, "kind": op.kind, "group": op.group,
                "latency_s": latency, "spark": self.tracer.spark_delta(w0, time.time()),
            }
            c0 = time.perf_counter()
            if error is None:
                try:
                    error = op.check(result)
                except Exception as exc:  # noqa: BLE001 - a check that raises is a failure
                    error = f"check raised {type(exc).__name__}: {exc}"
            rec["check_s"] = time.perf_counter() - c0
            if op.group == "stream":
                wait_for_listeners(self.spark)
                rec["batches"] = self.batches[n_batches:]
                for b in rec["batches"]:
                    trig = b["ms"].get("triggerExecution", 0) / 1000
                    self.tracer.add_span(
                        "stream.batch", b["end"] - trig, b["end"], op_id, span_id, rows=b["rows"],
                    )
            after = self.wl.counters()
            rec["layers"] = {k: after[k] - before.get(k, 0) for k in after}
            if self.probe is not None:
                rec["pregel"] = {
                    "calls": self.probe.calls, "rounds": self.probe.rounds, "s": self.probe.seconds,
                }
            rec["ok"], rec["error"] = error is None, error
            recs.append(rec)
            self.ops.append(rec)
        return recs


def end_to_end(setups: list[float], rounds: list[list[dict]]) -> dict:
    """The metrics ``BENCHMARK.json`` bounds."""
    return {
        "setup_s": {"value": median(setups), "unit": "s", "n": len(setups)},
        "wall_s": {
            "value": median([sum(o["latency_s"] for o in r) for r in rounds]),
            "unit": "s",
            "n": len(rounds),
        },
    }


def workload_metrics(
    timed: list[dict], all_ops: list[dict], rss_mb: float, round_cpu_s: list[float],
    round_steal_pct: list[float],
) -> dict:
    """The other end-to-end numbers, each with its sample count.

    They are recorded but not bounded in ``BENCHMARK.json``.  Latency
    medians come from one round of 7 or 11 ops and moved up to 26%
    between runs when the host was busy; ``peak_rss_mb`` follows G1's heap
    sizing under the session's default 48 GB ceiling and moved 20-30%."""
    out: dict = {
        "latency_p50_s": {
            "value": median([o["latency_s"] for o in timed]), "unit": "s", "n": len(timed),
        },
        "cpu_s": {"value": median(round_cpu_s), "unit": "s", "n": len(round_cpu_s)},
        # not the program's: explains a slow run on a shared host
        "host_steal_share": {
            "value": median(round_steal_pct), "unit": "%", "n": len(round_steal_pct),
        },
        "peak_rss_mb": {"value": rss_mb, "unit": "MB", "n": 1},
    }

    def lat(group: str) -> list[float]:
        return [o["latency_s"] for o in timed if o["group"] == group]

    for group in ("read", "write", "commit", "query"):
        xs = lat(group)
        if xs:
            out[f"{group}_latency_p50_s"] = {"value": median(xs), "unit": "s", "n": len(xs)}
            out[f"{group}_latency_tail_s"] = tail(xs)
    mb = [b["ms"].get("triggerExecution", 0) / 1000 for o in timed for b in o.get("batches", [])]
    if mb:
        out["microbatch_latency_p50_s"] = {"value": median(mb), "unit": "s", "n": len(mb)}
    failed = [o for o in all_ops if not o["ok"]]
    out["fail_ratio"] = {
        "value": len(failed) / max(1, len(all_ops)), "unit": "ratio", "n": len(all_ops),
    }
    return out


def layer_detail(timed: list[dict], setup_layer_s: dict) -> dict:
    """Per-layer numbers by name: per-op medians and layer totals."""
    out: dict = {}
    by_kind: dict[str, list[float]] = {}
    for o in timed:
        by_kind.setdefault((o["group"], o["kind"]), []).append(o["latency_s"])
    for (group, kind), xs in sorted(by_kind.items()):
        if group == "commit" or kind == "read_current":
            layer = "merge"
        else:
            layer = "session" if group in ("read", "write") else "query"
        out[f"{layer}.{kind}.p50_s"] = {"value": median(xs), "unit": "s", "n": len(xs)}
    for name, xs in setup_layer_s.items():
        out[name] = {"value": median(xs), "unit": "s", "n": len(xs)}
    batches = [b for o in timed for b in o.get("batches", [])]
    if batches:
        for phase in ("addBatch", "queryPlanning", "walCommit", "triggerExecution"):
            xs = [b["ms"].get(phase, 0) / 1000 for b in batches]
            out[f"stream.{phase}.p50_s"] = {"value": median(xs), "unit": "s", "n": len(xs)}
    views = [o["layers"].get("view_build_s", 0.0) for o in timed]
    if any(views):
        out["catalog.view_build_s"] = {"value": sum(views), "unit": "s", "n": len(views)}
    pregel_s = [o.get("pregel", {}).get("s", 0.0) for o in timed]
    if any(pregel_s):
        out["pregel.iterate_s"] = {"value": sum(pregel_s), "unit": "s", "n": len(pregel_s)}
    return out


def per_layer(timed: list[dict], n_rounds: int, tracer, rss_mb: float) -> dict:
    """The per-layer metrics printed by a traced run (all workloads; a
    layer the workload bypasses reads 0)."""
    n_ops = max(1, len(timed))
    rounds = max(1, n_rounds)
    wall = sum(o["latency_s"] for o in timed) or 1.0

    def total(key: str) -> float:
        return sum(o["spark"].get(key, 0.0) for o in timed)

    def layer(key: str) -> float:
        return sum(o["layers"].get(key, 0.0) for o in timed)

    batches = [b for o in timed for b in o.get("batches", [])]
    trig = sum(b["ms"].get("triggerExecution", 0) for b in batches)
    commits = [o for o in timed if o["group"] == "commit"]
    views = layer("view_builds") + layer("view_hits")
    written, user = layer("written_bytes"), layer("user_bytes")
    m = {
        "spark.jobs_per_op": (total("jobs") / n_ops, "count"),
        "spark.stages_per_op": (total("stages") / n_ops, "count"),
        "spark.tasks_per_op": (total("tasks") / n_ops, "count"),
        "spark.driver_gap_share": (100.0 * total("driver_gap_s") / wall, "%"),
        "spark.executor_cpu_s": (total("executor_cpu_s") / rounds, "s"),
        "spark.shuffle_read_bytes": (total("shuffle_read_bytes") / rounds, "B"),
        "spark.shuffle_write_bytes": (total("shuffle_write_bytes") / rounds, "B"),
        "spark.spill_bytes": (total("spill_bytes") / rounds, "B"),
        "spark.broadcast_joins": (total("broadcast_joins") / rounds, "count"),
        "spark.sort_merge_joins": (total("sort_merge_joins") / rounds, "count"),
        "catalog.view_builds": (layer("view_builds") / rounds, "count"),
        "catalog.view_hit_ratio": (layer("view_hits") / views if views else 0.0, "ratio"),
        "catalog.view_build_share": (100.0 * layer("view_build_s") / wall, "%"),
        "pregel.calls": (sum(o.get("pregel", {}).get("calls", 0) for o in timed) / rounds, "count"),
        "pregel.rounds": (sum(o.get("pregel", {}).get("rounds", 0) for o in timed) / rounds, "count"),
        "pregel.iterate_share": (
            100.0 * sum(o.get("pregel", {}).get("s", 0.0) for o in timed) / wall, "%",
        ),
        "merge.commits": (len(commits) / rounds, "count"),
        "merge.commit_share": (100.0 * sum(o["latency_s"] for o in commits) / wall, "%"),
        "merge.bytes_written_per_user_byte": (written / user if user else 0.0, "ratio"),
        "merge.files_per_bucket": (
            layer("fpb_sum") / layer("fpb_n") if layer("fpb_n") else 0.0, "count",
        ),
        "stream.batches": (len(batches) / rounds, "count"),
        "stream.input_rows": (sum(b["rows"] for b in batches) / rounds, "count"),
        "stream.add_batch_share": (
            100.0 * sum(b["ms"].get("addBatch", 0) for b in batches) / trig if trig else 0.0, "%",
        ),
        "peak_rss_mb": (rss_mb, "MB"),
        "trace.overhead_s": (tracer.overhead_s, "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def execute(args, run_dir: str) -> tuple[dict, dict]:
    import datagen
    from probes import (
        PregelProbe, Tracer, host_ticks, process_tree, self_times, stream_listener,
    )
    from workloads import WORKLOADS

    from mongraph_spark.sparkutil import get_spark

    phases = {"start": time.perf_counter()}
    cls = WORKLOADS[args.workload]
    sf = cls.default_sf
    data_dir = os.path.join(run_dir, "data", f"sf{sf}")
    t0 = time.perf_counter()
    rows = datagen.write(data_dir, sf, args.seed) if sf > 0 else {}
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        batches: list = []
        stream_listener(spark, batches)
        probe = PregelProbe(tracer) if args.trace else None
        try:
            wl = cls(spark, data_dir, os.path.join(run_dir, "work"), args.seed, tracer)
            phases["workload_init"] = time.perf_counter()
            setups, s0 = [], time.time()
            for i in range(cls.SETUPS):
                t0 = time.perf_counter()
                with tracer.span("setup", setup=i):
                    wl.setup(i)
                setups.append(time.perf_counter() - t0)
            setup_spark = tracer.spark_delta(s0, time.time())
            if hasattr(wl, "warm_up"):
                with tracer.span("warm_up"):
                    wl.warm_up()
            runner = Runner(spark, wl, tracer, probe, batches)
            rounds, cpu, steal = [], [], []
            for r in range(max(1, int(args.seconds // cls.ROUND_S))):
                c0, (st0, tot0) = process_tree()["cpu_s"], host_ticks()
                rounds.append(runner.round(r))
                (st1, tot1), c1 = host_ticks(), process_tree()["cpu_s"]
                cpu.append(c1 - c0)
                steal.append(100.0 * (st1 - st0) / max(1, tot1 - tot0))
            phases["rounds"] = time.perf_counter()
            rss = process_tree()["peak_rss_mb"]
            wl.close()
        finally:
            if probe is not None:
                probe.uninstall()
    finally:
        phases["close"] = time.perf_counter()
        stop_spark(spark)
        phases["stop"] = time.perf_counter()

    timed = [o for rr in rounds for o in rr]
    e2e = end_to_end(setups, rounds)
    failed = [o for o in runner.ops if not o["ok"]]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": sf, "rows": rows, "cores": len(os.sched_getaffinity(0)),
        "datagen_s": gen_s, "session_start_s": session_s,
        "setup_runs_s": setups, "timed_rounds": len(rounds),
        "phases_s": {k: v - phases["start"] for k, v in phases.items()},
        "end_to_end": e2e,
        "workload_metrics": workload_metrics(timed, runner.ops, rss, cpu, steal),
        "layers": layer_detail(timed, wl.layer_s),
        "attempted": len(runner.ops),
        "failed": [{"id": o["id"], "kind": o["kind"], "error": o["error"]} for o in failed],
        "ops": runner.ops,
    }
    if args.trace:
        record["setup_spark"] = setup_spark
        record["per_layer"] = per_layer(timed, len(rounds), tracer, rss)
        record["self_s"] = self_times(tracer.spans, {o["id"] for o in timed})
        record["trace_overhead_s"] = tracer.overhead_s
        record["spans"] = tracer.spans
    return record, e2e


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its working directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "mongraph_spark")):
        print(f"perfbench: no mongraph_spark package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    cwd = os.getcwd()
    run_dir = isolate(tag)
    try:
        record, e2e = execute(args, run_dir)
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)

    os.makedirs(OUT_DIR, exist_ok=True)
    untraced = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace0.json")
    if args.trace and os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["end_to_end"]["wall_s"]["value"]
        record["trace_wall_gap_s"] = e2e["wall_s"]["value"] - base
    with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    wm = record["workload_metrics"]
    summary = {
        k: None if v["value"] is None else round(v["value"], 4) for k, v in {**e2e, **wm}.items()
    }
    counts = {k: v.get("n") for k, v in {**e2e, **wm}.items()}
    extra = ""
    if args.trace:
        extra = f" trace_overhead_s={record['trace_overhead_s']:.3f}"
        if "trace_wall_gap_s" in record:
            extra += f" traced_minus_untraced_wall_s={record['trace_wall_gap_s']:.3f}"
    print(
        f"perfbench {tag}: {json.dumps(summary)} samples={json.dumps(counts)}"
        f" failed={[f['kind'] for f in record['failed']]}{extra}"
    )
    metrics = record["per_layer"] if args.trace else {
        k: {"value": v["value"], "unit": v["unit"]} for k, v in e2e.items()
    }
    print(json.dumps({
        "correct": not record["failed"],
        "attempted": record["attempted"],
        "failed": len(record["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
