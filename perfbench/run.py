"""Hermetic benchmark of the n5_dask_spark engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload n5_volume --seed 1 --seconds 15 --trace 0

Each run makes its inputs from --seed under ./.perfbench/, starts the
engine's own SparkSession on local[<nproc>], sets up three times (session
start plus a first run of every op kind on a small instance of the
workload), runs one untimed pass on the full inputs, then runs the workload
as a single-client closed loop — one op at a time, pass after pass — until
--seconds of measured op time and at least two passes. Every op's output is
checked against values the engine did not compute. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 it carries the end-to-end metrics, with --trace 1 the per-layer
metrics (alternate passes traced, plus the layer probes). Earlier lines are
diagnostics: the environment, the input geometry and per-op latencies.
See perfbench/README.md for what each metric means and should move.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3
MIN_PASSES = 2


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="input size of the timed instance; tiny is for the benchmark's own smoke test",
    )
    return p.parse_args(argv)


def descendants_hwm_mib(pid: int) -> dict[str, float]:
    """Peak resident memory (VmHWM, MiB) of every live descendant of pid —
    the driver JVM, the Python worker daemon and its workers — summed per
    executable name."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out: dict[str, float] = {}
    todo = list(children.get(pid, []))
    while todo:
        p = todo.pop()
        todo += children.get(p, [])
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


class Session:
    """Starts and stops the engine's SparkSession; owns the JVM process."""

    def __init__(self, work: str, nproc: int) -> None:
        self.nproc = nproc
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            # no hsperfdata file under /tmp: the JVM writes nothing outside the work dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        }
        self.spark = None

    def start(self):
        from n5_dask_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.nproc, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        self.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be closed; the JVM wait below still runs
            traceback.print_exc()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def kind_of(op: str) -> str:
    """Ops named <kind>.<i> repeat one kind within a pass on other inputs."""
    return op.split(".", 1)[0]


def one_of_each_kind(ops: list[str]) -> list[str]:
    first: dict[str, str] = {}
    for op in ops:
        first.setdefault(kind_of(op), op)
    return list(first.values())


def summarize(samples: dict[str, list[float]], per_pass: dict[str, int]) -> dict:
    import tracing

    out = {}
    for kind, xs in samples.items():
        rec = {"n": len(xs), "p50_s": statistics.median(xs), "min_s": min(xs), "max_s": max(xs)}
        t = tracing.tail(xs)
        if t is not None:
            rec["tail_pct"], rec["tail_s"] = t
        rec["per_pass"] = per_pass[kind]
        out[kind] = rec
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    pkg = os.path.join(root, "n5_dask_spark", "__init__.py")
    if not os.path.isfile(pkg):
        fail(f"engine source not found at {pkg} (run from the root of a source checkout)")
    sys.path[:0] = [root, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
    if args.seconds <= 0:
        fail("--seconds must be positive")
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "inputs", "warm", "probe"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # every temp file of the engine, Spark and the Python workers stays here
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM, too
    session = Session(work, nproc)
    try:
        return run(args, root, work, nproc, session)
    finally:
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)


def run(args, root, work, nproc, session) -> int:
    import numpy as np

    import n5_dask_spark
    import tracing
    import workloads

    if not os.path.abspath(n5_dask_spark.__file__).startswith(root + os.sep):
        fail(f"imported {n5_dask_spark.__file__}, not the engine under {root}")

    seeds = np.random.SeedSequence(args.seed).spawn(3)
    cls = workloads.WORKLOADS[args.workload]
    t = time.perf_counter()
    full = cls(os.path.join(work, "inputs"), np.random.default_rng(seeds[0]), args.size)
    warm = cls(os.path.join(work, "warm"), np.random.default_rng(seeds[1]), "tiny")
    gen_s = time.perf_counter() - t

    tracer = tracing.Tracer()
    if args.trace:
        tracer.install()
    attempted = failed = 0

    def attempt(w, op, traced=False):
        """Run one op of w; returns (seconds, result) or None when it raised."""
        nonlocal attempted, failed
        attempted += 1
        tracer.enabled = traced
        tracer.job = op
        idx = tracer.begin(op, "op") if traced else None
        t0 = time.perf_counter()
        try:
            res = w.run(op)
        except Exception:
            failed += 1
            print(f"perfbench: {w.name}/{op} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        finally:
            dt = time.perf_counter() - t0
            if idx is not None:
                tracer.end(idx)
            tracer.enabled = False
        return dt, res

    def verify(w, op, res) -> None:
        nonlocal failed
        try:
            w.check(op, res)
        except Exception:
            failed += 1
            print(f"perfbench: {w.name}/{op} output check failed:\n{traceback.format_exc()}", file=sys.stderr)

    # ---- set-up, SETUPS times: session start + first use of every op kind,
    # on the small instance so that set-up measures fixed first-use costs
    setups, session_starts, setup_boot = [], [], []
    for _ in range(SETUPS):
        session.stop()
        t0 = time.perf_counter()
        spark = session.start()
        session_starts.append(time.perf_counter() - t0)
        setup_sql = tracing.SqlExecutions(spark) if args.trace else None
        warm.bind(spark)
        ops_time, results = 0.0, []
        for op in one_of_each_kind(warm.ops):
            r = attempt(warm, op)
            if r is not None:
                ops_time += r[0]
                results.append((op, r[1]))
        setups.append(session_starts[-1] + ops_time)
        if setup_sql is not None:
            setup_boot.append(sum(e["python_boot_s"] for e in setup_sql.drain()))
        for op, res in results:
            verify(warm, op, res)
    spark = session.spark
    full.bind(spark)
    # one untimed pass on the full inputs lets per-size work (JIT, caches)
    # settle before timing
    t0 = time.perf_counter()
    for op in full.ops:
        r = attempt(full, op)
        if r is not None:
            verify(full, op, r[1])
    warm_pass_s = time.perf_counter() - t0

    # ---- timed closed loop
    sql = tracing.SqlExecutions(spark) if args.trace else None
    samples: dict[str, list[float]] = {}
    per_pass: dict[str, int] = {}
    for op in full.ops:
        per_pass[kind_of(op)] = per_pass.get(kind_of(op), 0) + 1
    passes = []  # (traced, pass wall, SQL executions, index of its first span)
    measured = 0.0
    t_loop = time.perf_counter()
    # at least two passes, so each op kind has two samples to take a median
    # of; the traced run alternates untraced and traced passes and needs three
    while measured < args.seconds or len(passes) < MIN_PASSES + args.trace:
        traced = bool(args.trace) and len(passes) % 2 == 1
        order = full.next_pass() if hasattr(full, "next_pass") else full.ops
        first_span = len(tracer.spans)
        wall, results = 0.0, []
        for op in order:
            r = attempt(full, op, traced)
            if r is None:
                continue
            samples.setdefault(kind_of(op), []).append(r[0])
            wall += r[0]
            results.append((op, r[1]))
        measured += wall
        execs = sql.drain() if sql is not None else []
        if traced:
            attach_executions(tracer, first_span, execs)
        passes.append((traced, wall, execs, first_span))
        for op, res in results:
            verify(full, op, res)
    rss = descendants_hwm_mib(os.getpid())
    # Python workers only: the JVM's resident size follows its collector's
    # heap sizing (2.9-4.4 GiB across seeds of one workload), not the program
    peak_rss = sum(v for k, v in rss.items() if k.startswith("python"))
    loop_s = time.perf_counter() - t_loop

    ops = summarize(samples, per_pass)
    env = environment(nproc, spark)
    print(json.dumps({"env": env}))
    print(json.dumps({"inputs": {"seed": args.seed, "size": args.size, **full.info}}))
    stored = getattr(full, "stored_ratio", None)
    print(json.dumps({
        "ops": ops, "passes": len(passes), "gen_s": gen_s, "setups_s": setups, "warm_pass_s": warm_pass_s,
        "session_starts_s": session_starts, "loop_s": loop_s, "peak_rss_mib": rss,
        "stored_bytes_ratio": statistics.median(stored) if stored else None,
    }))

    if not samples:
        metrics = {}
    elif args.trace:
        metrics = layer_metrics(args, tracer, passes, session_starts, setup_boot, spark, full, work)
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "pass_s": (sum(r["p50_s"] * r["per_pass"] for r in ops.values()), "s"),
            "op_geomean_s": (
                math.exp(statistics.fmean(math.log(r["p50_s"]) for r in ops.values())), "s"
            ),
            "peak_rss_mib": (peak_rss, "MiB"),
        }
    tracer.uninstall()
    correct = failed == 0 and bool(samples)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def attach_executions(tracer, first_span: int, execs: list[dict]) -> None:
    """Add each SQL execution as a leaf span under the innermost traced span
    covering most of it (the status store's times are whole milliseconds, so
    containment of the start alone can pick the span that just ended)."""
    for e in execs:
        parent = None
        for i in range(first_span, len(tracer.spans)):
            s = tracer.spans[i]
            overlap = min(s.end, e["end"]) - max(s.start, e["start"])
            if overlap >= 0.5 * (e["end"] - e["start"]) and s.layer != "spark.exec":
                if parent is None or s.start >= tracer.spans[parent].start:
                    parent = i
        if parent is not None:
            tracer.job = tracer.spans[parent].job
            tracer.add_leaf("spark.execution", "spark.exec", e["start"], e["end"], parent)


def layer_metrics(args, tracer, passes, session_starts, setup_boot, spark, full, work) -> dict:
    import numpy as np

    import inputs
    import probes
    import tracing

    m: dict[str, tuple[float, str]] = {}
    med = statistics.median
    spark_keys = [
        ("tasks", "count"), ("python_init_s", "s"), ("python_run_s", "s"),
        ("python_bytes_to", "B"), ("python_bytes_from", "B"), ("shuffle_write_bytes", "B"),
    ]
    for key, unit in spark_keys:
        m[f"spark.{key}"] = (med([sum(e[key] for e in p[2]) for p in passes]), unit)
    m["spark.exec_s"] = (med([sum(e["end"] - e["start"] for e in p[2]) for p in passes]), "s")
    covered = [tracing.union_length([(e["start"], e["end"]) for e in p[2]]) for p in passes]
    m["spark.driver_overhead_s"] = (med([max(0.0, p[1] - c) for p, c in zip(passes, covered)]), "s")
    # passes alternate untraced/traced, so at least one of each exists here
    traced_passes = [p for p in passes if p[0]]
    m["trace.overhead_ratio"] = (
        med([p[1] for p in traced_passes]) / med([p[1] for p in passes if not p[0]]), "ratio"
    )
    spans = tracer.spans
    selfs = tracing.self_times(spans)
    pkg_layers = set(tracing.TRACED) | {"registry"}
    per_pass_pkg, op_wall, op_self = [], 0.0, 0.0
    bounds = [p[3] for p in traced_passes] + [len(spans)]
    for lo, hi in zip(bounds, bounds[1:]):
        per_pass_pkg.append(sum(selfs[i] for i in range(lo, hi) if spans[i].layer in pkg_layers))
    for s, st in zip(spans, selfs):
        if s.layer == "op":
            op_wall += s.end - s.start
            op_self += st
    m["driver.package_s"] = (med(per_pass_pkg), "s")
    m["trace.accounted_ratio"] = (1.0 - op_self / op_wall, "ratio")
    dump_spans(args, tracer, spans, selfs)
    m["session.start_s"] = (med(session_starts), "s")
    # workers are reused in steady state, so their start cost lands in set-up
    m["spark.setup_python_boot_s"] = (med(setup_boot), "s")

    rng = np.random.default_rng(np.random.SeedSequence(args.seed).spawn(3)[2])
    vol = getattr(full, "vol", None)
    if vol is None or min(vol.shape) < 32:
        vol = inputs.smooth_volume(rng, (64, 64, 64))
    probe_dir = os.path.join(work, "probe")
    for k, v in probes.codec_probe(np.ascontiguousarray(vol[:32, :32, :32])).items():
        m[k] = (v, "ratio" if ".ratio." in k else "MiB/s")
    slice_img = vol[0] if vol.shape[1] >= 64 else inputs.smooth_volume(rng, (1, 256, 256))[0]
    for k, v in probes.tiff_probe(np.ascontiguousarray(slice_img)).items():
        m[k] = (v, "MiB/s")
    units = {"partitions": "count", "blocks_written": "count", "bytes_written": "B", "useful_ratio": "ratio"}
    for k, v in probes.n5_probe(spark, probe_dir, rng).items():
        m[k] = (v, next((u for suffix, u in units.items() if k.endswith(suffix)), "s"))
    sf_dir = getattr(full, "sf_dir", None)
    if sf_dir is None:
        sf_dir = os.path.join(probe_dir, "tables")
        inputs.write_tables(sf_dir, rng, 1500)
    for k, v in probes.registry_probe(spark, sf_dir).items():
        m[k] = (v, "s")
    return m


def dump_spans(args, tracer, spans, selfs) -> None:
    """Write the spans and a per-op, per-layer self-time table at exit."""
    by_op: dict[str, dict[str, list[float]]] = {}
    for s, st in zip(spans, selfs):
        if s.layer == "op":
            continue
        rec = by_op.setdefault(kind_of(s.job or "?"), {})
        rec.setdefault(s.layer, []).append(st)
    n_ops: dict[str, int] = {}
    for s in spans:
        if s.layer == "op":
            n_ops[kind_of(s.job)] = n_ops.get(kind_of(s.job), 0) + 1
    table = {
        op: {layer: sum(v) / n_ops.get(op, 1) for layer, v in layers.items()} for op, layers in by_op.items()
    }
    print(json.dumps({"self_s_per_op": table}))
    out_dir = os.path.join(os.getcwd(), ".perfbench")
    path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump(
            [{"name": s.name, "layer": s.layer, "start": s.start, "end": s.end, "parent": s.parent,
              "job": s.job, "self_s": st} for s, st in zip(spans, selfs)],
            f,
        )


def environment(nproc: int, spark) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "master": spark.sparkContext.master,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "note": "inputs are generated per run and fit the OS page cache: latencies are this "
        "machine's memory and CPU, not a disk's",
    }


if __name__ == "__main__":
    sys.exit(main())
