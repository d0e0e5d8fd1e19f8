"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One invocation runs one workload in a
fresh Spark process on ``local[<nproc>]`` with the engine's session
defaults, driven by a single closed-loop client.  The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it is a human-readable report with the host stamp and the
workload's own figures.  ``--trace 1`` reports per-layer metrics instead
of end-to-end ones (see README.md).  Exits non-zero when any operation
fails or any output check fails.
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
BENCH_JSON = os.path.join(HERE, "..", "BENCHMARK.json")

# Input scale, as a fixture scale factor: sf0.1 is 600k lineitem rows,
# 100k events, 5k documents and 2k embeddings.
SF = 0.1
# Scale of the warm-up copy of the inputs (see warm_up).
WARM_SF = 0.001
WORKLOADS = ("olap_read", "table_rw", "curation_pipeline")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's input scale (tests use 0.001)")
    return ap.parse_args(argv)


class Recorder:
    """One record per operation: kind, duration, job group, outcome, and
    whatever the workload notes about it."""

    def __init__(self, ctx, prefix="op"):
        self.ctx = ctx
        self.prefix = prefix
        self.ops: list[dict] = []
        self.cur: dict | None = None
        self.round = 0
        self.warm = False
        self.round_facts: dict = {}

    def op(self, kind, fn, check=None, tag=""):
        ctx = self.ctx
        group = f"{self.prefix}{len(self.ops):05d}-{kind}"
        rec = {"kind": kind, "tag": tag, "group": group, "round": self.round,
               "warm": self.warm, "ok": True, "err": "", "spans": []}
        self.ops.append(rec)
        self.cur = rec
        sc = ctx.spark.sparkContext
        sc.setJobGroup(group, kind)
        fs0 = ctx.cfs.snapshot() if ctx.cfs is not None else None
        rec["t0"] = time.time()
        t0 = time.perf_counter()
        result = None
        try:
            result = fn()
        except Exception:  # an operation failure is a measured outcome
            rec["ok"] = False
            rec["err"] = traceback.format_exc(limit=3)
        rec["s"] = time.perf_counter() - t0
        rec["t1"] = time.time()
        sc.setJobGroup("bench-idle", "between operations")
        if fs0 is not None:
            rec["fs"] = _fs_delta(fs0, ctx.cfs.snapshot())
        if rec["ok"] and check is not None:
            try:
                msg = check(result)
            except Exception:
                msg = traceback.format_exc(limit=3)
            if msg:
                self.fail(msg)
        return result

    def note(self, **kw):
        self.cur.update(kw)

    def fail(self, msg: str):
        self.cur["ok"] = False
        self.cur["err"] += msg
        print(f"check failed [{self.cur['group']}]: {msg}", file=sys.stderr)


def _fs_delta(a: dict, b: dict) -> dict:
    calls = {k: v - a["calls"].get(k, 0) for k, v in b["calls"].items()}
    return {"calls": calls, "busy_s": b["busy_s"] - a["busy_s"],
            "bytes_written": b["bytes_written"] - a["bytes_written"],
            "conflicts": b["conflicts"] - a["conflicts"]}


class Ctx:
    def __init__(self, args, work):
        self.args = args
        self.seed = args.seed
        self.work = work
        self.sf_dir = os.path.join(work, "data")
        self.trace = False
        self.spark = None
        self.cfs = None
        self.listener = None
        self.dataset = None
        self.rec = Recorder(self)
        self.rounds: list[dict] = []

    def rng(self, r: int):
        import numpy as np

        return np.random.default_rng([self.seed, 1000 + r])

    def span(self, layer: str, t0: float, t1: float) -> None:
        if self.trace and self.rec.cur is not None:
            self.rec.cur["spans"].append((layer, t0, t1))

    def instrument_engine(self, eng) -> None:
        if self.trace:
            from instruments import CountingFS

            eng.fs = self.cfs = CountingFS(eng.fs)

    def round_facts(self, key: str) -> list:
        return [r[key] for r in self.rounds if key in r]


def boot(ctx, extra_conf=None):
    """Start the session and run one trivial job; returns seconds."""
    from cubefs_hadoop_spark.session import get_spark
    from instruments import BatchListener

    t0 = time.perf_counter()
    ctx.spark = get_spark("perfbench", extra_conf=extra_conf)
    ctx.spark.range(1).count()
    ctx.listener = BatchListener()
    ctx.spark.streams.addListener(ctx.listener)
    return time.perf_counter() - t0


def warm_up(ctx, args) -> None:
    """Run one round of the workload on a tiny copy of the inputs, so
    class loading, JIT, code generation and Python-worker start-up are
    done before the measured round.  It costs about what a cold round
    costs beyond a warm one, so it is timed as part of set-up; its
    operations are checked and count in attempted/failed."""
    import datagen
    import workloads

    w = Ctx(args, os.path.join(ctx.work, "warm"))
    w.spark, w.listener = ctx.spark, ctx.listener
    w.rec = Recorder(w, prefix="warm")
    w.rec.warm = True
    wl = workloads.make(args.workload, WARM_SF)
    w.dataset = datagen.generate(w.sf_dir, args.seed, WARM_SF, wl.groups)
    wl.stage(w)
    wl.prepare(w)
    run_rounds(w, wl, 1, first_round=-1)
    ctx.rec.ops.extend(w.rec.ops)


def run_rounds(ctx, wl, n: int, first_round: int) -> list[dict]:
    """Run ``n`` rounds.  A round's ``wall_s`` is the time the client spent
    inside operations; the benchmark's own checks and bookkeeping between
    operations are excluded."""
    rounds = []
    for r in range(first_round, first_round + n):
        ctx.rec.round, ctx.rec.round_facts = r, {}
        rows = wl.round(ctx, r)
        wall = sum(o["s"] for o in ctx.rec.ops if o["round"] == r)
        rounds.append({"round": r, "wall_s": wall, "rows": rows, **ctx.rec.round_facts})
    return rounds


def op_summary(ops) -> dict:
    """Median seconds per operation kind."""
    from workloads import median

    return {k: round(median([o["s"] for o in ops if o["kind"] == k]), 3)
            for k in dict.fromkeys(o["kind"] for o in ops)}


def phase_ops(ctx, rounds):
    ids = {x["round"] for x in rounds}
    return [o for o in ctx.rec.ops if o["round"] in ids and not o["warm"]]


def end_to_end(rounds, setup_s):
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(x["wall_s"] for x in rounds),
        "rows_per_s": statistics.median(x["rows"] / x["wall_s"] for x in rounds),
    }


class Trace:
    """Traced-run accessors over the folded event log."""

    def __init__(self, folded: dict):
        self.jobs = folded["jobs"]
        self.groups = folded["groups"]

    def op_stats(self, o):
        return self.groups.get(o["group"])

    def op_jobs(self, o):
        g = self.op_stats(o)
        return g["jobs"] if g else 0

    def jobs_in(self, t0, t1):
        return [j for j in self.jobs if t0 <= j["submit"] <= t1]

    def busy_in(self, t0, t1):
        from instruments import interval_union

        return interval_union(
            [(max(j["submit"], t0), min(j["end"], t1)) for j in self.jobs_in(t0, t1)]
        )

    def span_total(self, ops, layer):
        return [sum(b - a for n, a, b in o["spans"] if n == layer) for o in ops]

    def span_jobs(self, ops, layer):
        return [sum(len(self.jobs_in(a, b)) for n, a, b in o["spans"] if n == layer)
                for o in ops]

    def spans(self, ops, layer):
        return [(a, b) for o in ops for n, a, b in o["spans"] if n == layer]


def read_tracker(ctx, ops) -> list[dict]:
    """Per-op job and task counts from Spark's status tracker, read once
    the listener bus has delivered every event of the traced rounds."""
    from instruments import tracker_counts

    sc = ctx.spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return [tracker_counts(sc, o["group"]) for o in ops]


def cross_check(ctx, trace, ops, tracked) -> None:
    """The event-log folder must reproduce the status tracker's job and
    task counts for every traced op; a disagreement fails that op."""
    for o, t in zip(ops, tracked):
        g = trace.op_stats(o) or {"jobs": 0, "tasks": 0}
        if (g["jobs"], g["tasks"]) != (t["jobs"], t["tasks"]):
            ctx.rec.cur = o
            ctx.rec.fail(f"event log has {g['jobs']} jobs/{g['tasks']} tasks, "
                         f"status tracker {t['jobs']}/{t['tasks']}")


def install_span_wrappers(ctx):
    """Time calls into catalog.load and versioning.commit_version from
    outside: every module-level binding is replaced by a wrapper that
    records a span on the current operation."""
    from cubefs_hadoop_spark import catalog, versioning

    def wrap(fn, layer):
        def inner(*a, **kw):
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                ctx.span(layer, t0, time.time())
        return inner

    for orig, layer in ((catalog.load, "catalog.load"),
                        (versioning.commit_version, "versioning.commit")):
        w = wrap(orig, layer)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "") or "").startswith("cubefs_hadoop_spark") \
                    and getattr(mod, orig.__name__, None) is orig:
                setattr(mod, orig.__name__, w)


def per_layer(ctx, wl, trace, ops, boot_s, overhead_s):
    from workloads import median

    spark_keys = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    out = {"session.boot_s": boot_s, "bench.trace_overhead_s": overhead_s}
    stats = [trace.op_stats(o) or {} for o in ops]
    for k in spark_keys:
        out[f"spark.{k}"] = median([s.get(k, 0) for s in stats])
    out["spark.driver_only_s"] = median(
        [o["s"] - trace.busy_in(o["t0"], o["t1"]) for o in ops])
    loads = [b - a for a, b in trace.spans(ops, "catalog.load")]
    out["catalog.load_s"] = median(loads)
    commits = trace.spans(ops, "versioning.commit")
    out["versioning.commit_s"] = median([b - a for a, b in commits])
    out["versioning.commit_jobs"] = median([len(trace.jobs_in(a, b)) for a, b in commits])
    out["versioning.commit_meta_s"] = median(
        [(b - a) - trace.busy_in(a, b) for a, b in commits])
    fs_ops = [o["fs"] for o in ops if "fs" in o]
    n = max(len(ops), 1)
    out["versioning.retries"] = sum(f["conflicts"] for f in fs_ops)
    for verb in ("list_dir", "create_if_absent", "read_text", "write_text", "delete",
                 "walk_files"):
        out[f"fs.{verb}.calls"] = sum(f["calls"].get(verb, 0) for f in fs_ops) / n
    out["fs.busy_s"] = sum(f["busy_s"] for f in fs_ops) / n
    out["fs.bytes_written"] = sum(f["bytes_written"] for f in fs_ops) / n
    out.update(wl.layers(ctx, ops, trace))
    return out


def git_head() -> str:
    """The checked-out commit, or "unknown" outside a git work tree."""
    def read(*parts):
        with open(os.path.join(os.getcwd(), ".git", *parts), encoding="ascii") as fh:
            return fh.read().strip()

    try:
        ref = read("HEAD")
        return read(*ref[5:].split("/")) if ref.startswith("ref: ") else ref
    except OSError:
        return "unknown"


def host_stamp(ctx, load_start, boot_s):
    from instruments import load1

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "load1_start": load_start, "load1_end": load1(),
        "jvm_boot_s": round(boot_s, 3), "sf": ctx.args.sf, "seed": ctx.seed,
        "git_head": git_head(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    # keep every scratch byte the engine, Spark and the JVM write inside
    # the checkout (set before the engine is imported: session.py reads
    # its warehouse location at import; the defaults themselves stay)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    try:
        import cubefs_hadoop_spark  # noqa: F401
        import tools.oracle_check  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine sources are not importable from {root}: {ex}",
              file=sys.stderr)
        return 2
    if args.sf is None:
        args.sf = SF
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args, work)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch directory is still there


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop Spark and every process this run started, and wait until each
    has ended.  The driver JVM would otherwise exit on its own only after
    this process has gone (it watches its stdin), and its Python workers
    after it."""
    from pyspark import SparkContext

    from instruments import descendant_pids, live_pids

    pids = descendant_pids(os.getpid())
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # noqa: BLE001 - the processes are stopped below
            traceback.print_exc()
    pids |= descendant_pids(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in live_pids(pids):
            try:
                os.kill(p, sig)
            except OSError:
                pass
        while live_pids(pids) and time.monotonic() < deadline:
            time.sleep(0.05)
        deadline = time.monotonic() + grace_s


def run(args, work) -> int:
    import datagen
    import workloads
    from instruments import fold_event_log, load1, peak_rss_mb, process_age_s
    from workloads import median, p75

    load_start = load1()
    ctx = Ctx(args, work)
    wl = workloads.make(args.workload, args.sf)
    boot_s = boot(ctx)
    ctx.dataset = datagen.generate(ctx.sf_dir, args.seed, args.sf, wl.groups)
    wl.stage(ctx)
    # the traced run always warms up, so its untraced and traced rounds
    # both run warm and their difference is the tracing overhead
    if wl.warmup or args.trace:
        warm_up(ctx, args)
    setup_s = process_age_s()
    wl.prepare(ctx)

    # a fixed number of whole rounds per run, so both sides of an A/B
    # comparison do the same work; --seconds sets how many
    n_rounds = max(1, round(args.seconds / wl.round_s))
    rounds = run_rounds(ctx, wl, n_rounds, first_round=0)
    ctx.rounds = rounds
    e2e = end_to_end(rounds, setup_s)
    detail = wl.detail(ctx, phase_ops(ctx, rounds))
    samples = wl.samples(ctx, phase_ops(ctx, rounds))
    detail["op_p50_ms"] = median(samples) * 1000.0
    detail["op_tail_ms"] = p75(samples) * 1000.0
    detail["peak_rss_mb"] = peak_rss_mb()
    detail["op_s"] = op_summary(phase_ops(ctx, rounds))
    detail["warmup_op_s"] = op_summary([o for o in ctx.rec.ops if o["warm"]])
    metrics = e2e
    if args.trace:
        untraced_wall = e2e["wall_s"]
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        ctx.spark.stop()
        ctx.trace = True
        boot(ctx, extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
        install_span_wrappers(ctx)
        traced = run_rounds(ctx, wl, n_rounds, first_round=n_rounds)
        traced_ops = phase_ops(ctx, traced)
        tracked = read_tracker(ctx, traced_ops)
        ctx.spark.stop()
        ctx.spark = None
        ctx.rounds = traced
        trace = Trace(fold_event_log(log_dir))
        cross_check(ctx, trace, traced_ops, tracked)
        traced_wall = statistics.median(x["wall_s"] for x in traced)
        metrics = per_layer(ctx, wl, trace, traced_ops, boot_s,
                            traced_wall - untraced_wall)
    attempted = len(ctx.rec.ops)
    failed = sum(not o["ok"] for o in ctx.rec.ops)
    for o in ctx.rec.ops:
        if not o["ok"]:
            print(f"FAILED {o['group']}: {o['err']}", file=sys.stderr)
    report = {
        "workload": args.workload, "trace": args.trace,
        "host": host_stamp(ctx, load_start, boot_s),
        "rounds": len(rounds), "failed_op_frac": failed / max(attempted, 1),
        **detail,
    }
    print("perfbench report " + json.dumps(report, sort_keys=True))
    if ctx.spark is not None:
        ctx.spark.stop()
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": declared_metrics(metrics, "per_layer" if args.trace else "end_to_end"),
    }))
    return 0 if failed == 0 else 1


def declared_metrics(values: dict, section: str) -> dict:
    """Every metric BENCHMARK.json declares in ``section``, in its unit.
    A per-layer metric of a layer this workload never calls reads 0."""
    with open(BENCH_JSON, encoding="utf-8") as fh:
        declared = json.load(fh)[section]
    unknown = set(values) - {m["name"] for m in declared}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json {section}: {sorted(unknown)}")
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in declared}


if __name__ == "__main__":
    sys.exit(main())
