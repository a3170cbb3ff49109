#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload video_scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  A run is a single closed-loop client on
``local[nproc]``: set-up (session start, input generation and ingest,
the latter repeated ``SETUP_REPS`` times), one cold pass over the
workload's operations, a fixed number of warm passes, then the
correctness checks.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``, which
also writes a span trace under ``.perfbench/traces/``).

Everything the run writes (inputs, Spark local and warehouse dirs, temp
files) goes to ``.perfbench/run-*`` in the checkout and is removed at the
end.  ``--size tiny --check-only`` runs set-up, one pass and the checks on
small inputs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402

SETUP_REPS = 3
# Nominal seconds of one warm pass at 4 cores.  The warm-pass count is a
# fixed function of --seconds, so every run with the same --seconds
# repeats exactly the same passes (the JVM is still JIT-compiling for the
# first several passes, so a time-boxed count would move the medians).
NOMINAL_PASS_S = 8.0
MIN_WARM_PASSES = 2
# The metrics a plain run prints.  The pass and operation wall times
# (cold_pass_s, job_s, op_p50_s) are measured too, but a busy host slows
# whole runs by 20-40% at 4 cores (set-up, cold and warm passes alike), so
# their 10-run quartile spread reached 0.2-0.3; they are reported with the
# per-layer metrics of the traced run instead.  Process CPU and peak memory
# hold within 0.03-0.10.
END_TO_END = ("setup_s", "cpu_s", "peak_rss_mb")
JVM_HEAP = "2g"


def warm_passes(seconds: int) -> int:
    return max(MIN_WARM_PASSES, int(seconds // NOMINAL_PASS_S))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=16)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--check-only", action="store_true",
                   help="set-up, one pass and the checks; no warm passes")
    return p.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Session settings pinned from the benchmark side: cores = nproc,
    a fixed JVM heap, and every scratch directory under ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    conf = {
        "spark.driver.memory": JVM_HEAP,
        # -XX:-UsePerfData: no hsperfdata file outside the work dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # keep every job, stage and SQL execution of the run for the counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    return dict(cpus=cpus, conf=conf, tmp=dirs["tmp"])


def start_session(env: dict):
    from scanner_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{env['cpus']}]",
                      shuffle_partitions=env["cpus"], extra_conf=env["conf"])
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def python_warm(spark) -> None:
    """First pandas-UDF action: starts the Python worker daemon."""
    import pandas as pd
    from pyspark.sql import functions as F

    def ident(s):
        return s

    # real annotations: this module's postponed (string) ones hide the
    # Series signature from pandas_udf's type-hint inference
    ident.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.range(1).select(F.pandas_udf(ident, "long")("id")).collect()


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started (JVM, Python worker daemon and workers) has exited."""
    from pyspark import SparkContext

    pids = [p for p in measure.tree_pids() if p != os.getpid()]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 20
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if measure.alive(p)]
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run_pass(ops, pass_no: int, ctx, records: list, keep: dict | None, on_op=None) -> None:
    """Run every operation once.  A raising operation is counted as failed
    (its traceback goes to stderr) and the pass goes on."""
    sc = ctx.spark.sparkContext if ctx.spark is not None else None
    for name, fn in ops:
        group = f"p{pass_no}:{name}"
        if sc is not None:
            sc.setJobGroup(group, name, False)
        t = time.perf_counter()
        ok, out = True, None
        try:
            with ctx.span("op", op=name):
                out = fn()
        except Exception:
            ok = False
            print(f"operation {name} failed in pass {pass_no}:", file=sys.stderr)
            traceback.print_exc()
        finally:
            if sc is not None:
                sc._jsc.clearJobGroup()
        records.append(dict(pass_no=pass_no, op=name, group=group,
                            wall=time.perf_counter() - t, ok=ok))
        if ok and keep is not None:
            keep[name] = out
        if on_op is not None:
            on_op(records[-1])


def main(argv=None) -> int:
    t_start = time.perf_counter() - measure.process_age_s()
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "scanner_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no scanner_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    session: dict = {}
    try:
        env = pin_environment(work)
        sys.path.insert(0, ROOT)
        result = run(args, env, work, t_start, session)
    finally:
        if "spark" in session:
            stop_session(session["spark"])
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, env: dict, work: str, t_start: float, session: dict) -> dict:
    tracer = measure.Tracer(bool(args.trace))
    ctx = workloads.Ctx(None, args.seed, gen.SIZES[args.size], tracer)
    wl = workloads.WORKLOADS[args.workload]()
    setup = {}
    with tracer.span("run", workload=args.workload, seed=args.seed):
        with tracer.span("setup"):
            t = time.perf_counter()
            with tracer.span("session.start"):
                spark = ctx.spark = session["spark"] = start_session(env)
            setup["session.start"] = time.perf_counter() - t
            _redirect_stream_scratch(env["tmp"])
            from scanner_spark.deploy import ship

            ship(spark)
            t = time.perf_counter()
            with tracer.span("session.python_warm"):
                python_warm(spark)
            setup["session.python_warm"] = time.perf_counter() - t
            ready = time.perf_counter() - t_start
            reps, digests = [], set()
            for r in range(SETUP_REPS):
                d = os.path.join(work, f"in{r}")
                t = time.perf_counter()
                with tracer.span("setup.inputs", rep=r):
                    wl.setup(ctx, d)
                reps.append(time.perf_counter() - t)
                digests.add(gen.digest(os.path.join(d, "videos" if args.workload == "video_scan" else "data")))
        failures = [] if len(digests) == 1 else ["input generation is not deterministic"]
        if args.trace:
            layer = _TracedLayers(ctx, spark)
        n_warm = 0 if args.check_only else warm_passes(args.seconds)
        ops = wl.ops(ctx)
        records, outputs, pass_wall, pass_cpu = [], {}, [], []
        for p in range(n_warm + 1):
            ctx.pass_no = p
            with tracer.span("pass", pass_no=p):
                cpu0, t = measure.tree_cpu_s(), time.perf_counter()
                run_pass(ops, p, ctx, records, outputs if p == n_warm else None,
                         on_op=_after_op(ctx, layer if args.trace else None))
                pass_wall.append(time.perf_counter() - t)
                pass_cpu.append(measure.tree_cpu_s() - cpu0)
            print(f"pass {p}: {pass_wall[-1]:.3f} s wall, {pass_cpu[-1]:.2f} s cpu; ops "
                  + " ".join(f"{r['op']}={r['wall']:.3f}" for r in records if r["pass_no"] == p),
                  file=sys.stderr)
        ctx.pass_no = -1
        with tracer.span("checks"):
            failures += wl.check(ctx, outputs)
        peak = measure.tree_peak_rss_mb()
    for f in failures:
        print(f"check failed: {f}", file=sys.stderr)
    warm = range(1, n_warm + 1) if n_warm else range(0, 1)
    ok_walls = [r["wall"] for r in records if r["ok"] and r["pass_no"] in warm]
    measured = {
        "setup_s": (ready + statistics.median(reps), "s"),
        "cold_pass_s": (pass_wall[0], "s"),
        "job_s": (statistics.median(pass_wall[w] for w in warm), "s"),
        "cpu_s": (statistics.median(pass_cpu[w] for w in warm), "s"),
        "op_p50_s": (statistics.median(ok_walls) if ok_walls else 0.0, "s"),
        "peak_rss_mb": (peak, "MB"),
    }
    if args.trace:
        metrics = layer.metrics(records, setup, warm, wl, args, work, measured)
    else:
        metrics = {k: measured[k] for k in END_TO_END}
    return dict(
        correct=not failures,
        attempted=len(records),
        failed=sum(not r["ok"] for r in records),
        metrics={k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    )


def _redirect_stream_scratch(tmp: str) -> None:
    """The suite's streaming queries put their checkpoint and sink under
    /dev/shm and never remove them; keep them inside the run's work dir."""
    from scanner_spark import queries as Q

    Q._stream_tmpdir = lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=tmp)


def _after_op(ctx, layer):
    from scanner_spark.caching import release_all

    def after(rec):
        if layer is not None:
            layer.after_op(rec)
        # same hygiene as bench.py: drop blocks an operation persisted
        release_all()
        ctx.spark.catalog.clearCache()
        ctx.last_df = None

    return after


class _TracedLayers:
    """Per-layer measurement for ``--trace 1``: wraps public entry points
    of the functions and streaming layers, reads Spark's counters after
    the passes, times the kernels directly, and writes the trace."""

    def __init__(self, ctx, spark):
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from scanner_spark.functions import dedup

        self.ctx, self.spark = ctx, spark
        self.planning: dict[str, float] = {}
        self.pairs: list[tuple[int, object]] = []  # (pass, pairs DataFrame)
        self.streams: list[tuple[int, str, object]] = []  # (pass, op group, query)
        cc, start = dedup.connected_components, DataStreamWriter.start

        def connected_components(pairs, *a, **kw):
            with ctx.span("functions.connected_components"):
                out = cc(pairs, *a, **kw)
            self.pairs.append((ctx.pass_no, pairs))
            return out

        def stream_start(writer, *a, **kw):
            q = start(writer, *a, **kw)
            self.streams.append((ctx.pass_no, spark.sparkContext.getLocalProperty("spark.jobGroup.id"), q))
            return q

        dedup.connected_components = connected_components
        DataStreamWriter.start = stream_start

    def after_op(self, rec) -> None:
        df = self.ctx.last_df
        if df is not None and rec["ok"]:
            try:
                self.planning[rec["group"]] = measure.planning_s(df)
            except Exception:  # a plan that never executed has no phases
                pass

    def _innermost(self, t: float, p: int, default: int) -> int:
        """The deepest benchmark span of pass ``p`` open at time ``t``:
        a Spark job becomes the child of the layer call that launched it,
        so that call's self time is its time outside Spark jobs."""
        best = None
        for s in self.ctx.tracer.spans:
            if (s["attrs"].get("pass_no") == p and s["end"] is not None
                    and s["start"] <= t <= s["end"] and not s["name"].startswith(("job ", "stage "))
                    and (best is None or s["start"] >= best["start"])):
                best = s
        return default if best is None else best["id"]

    def metrics(self, records, setup, warm, wl, args, work, measured: dict) -> dict:
        """Per-layer metrics; ``measured`` holds the run's pass-level
        numbers (all six), which also go into the trace so that the
        tracing overhead is traced minus untraced for the same seed."""
        ctx, tracer = self.ctx, self.ctx.tracer
        counters = measure.SparkCounters(self.spark)
        run_span = tracer.spans[0]["id"]
        per_pass: dict[int, dict] = {}
        for p in sorted({r["pass_no"] for r in records}):
            groups = [r["group"] for r in records if r["pass_no"] == p]
            groups += [str(q.runId) for pp, _, q in self.streams if pp == p]
            c = counters.collect(groups)
            job_ids = {}
            for name, lo, hi in c.pop("job_spans"):
                job_ids[name] = tracer.add(name, lo / 1e3, hi / 1e3,
                                           self._innermost(lo / 1e3, p, run_span), pass_no=p)
            for name, lo, hi, job in c.pop("stage_spans"):
                tracer.add(name, lo / 1e3, hi / 1e3, job_ids.get(job, run_span), pass_no=p)
            c["planning_s"] = sum(v for g, v in self.planning.items() if g.startswith(f"p{p}:"))
            per_pass[p] = c
        aux = self.spark.sparkContext
        aux.setJobGroup("perfbench-aux", "trace-only pair counts", False)
        pairs = {p: 0 for p in per_pass}
        for p, df in self.pairs:
            pairs[p] += df.count()
        aux._jsc.clearJobGroup()

        def span_sum(name, p):
            return sum(s["end"] - s["start"] for s in tracer.spans
                       if s["name"] == name and s["attrs"].get("pass_no") == p)

        def med(fn):
            return statistics.median(fn(p) for p in warm)

        batches, batch_s = {p: 0 for p in per_pass}, {p: 0.0 for p in per_pass}
        for p, _, q in self.streams:
            for prog in q.recentProgress:
                batches[p] += 1
                batch_s[p] += prog.durationMs.get("triggerExecution", 0) / 1e3

        def count(name, p):
            return ctx.counts.get(name, {}).get(p, 0)

        kern = kernel_ms_per_frame(wl, args, work)
        m = {
            "session.start_s": (setup["session.start"], "s"),
            "session.python_warm_s": (setup["session.python_warm"], "s"),
            "sources.encode_s": (statistics.median(ctx.layer_setup.get("sources.encode", [0.0])), "s"),
            "sources.ingest_s": (statistics.median(ctx.layer_setup.get("sources.ingest", [0.0])), "s"),
            "sources.load_frames_s": (med(lambda p: span_sum("sources.load_frames", p)), "s"),
            "sources.frames_returned": (med(lambda p: count("sources.frames_returned", p)), "count"),
        }
        m.update({f"kernels.{k}_ms_per_frame": (v, "ms") for k, v in kern.items()})
        m.update({
            "ops.python_run_s": (med(lambda p: per_pass[p]["python_run_s"]), "s"),
            "ops.python_boot_s": (per_pass[0]["python_boot_s"], "s"),
            "ops.arrow_bytes_sent": (med(lambda p: per_pass[p]["arrow_bytes_sent"]), "bytes"),
            "ops.arrow_bytes_returned": (med(lambda p: per_pass[p]["arrow_bytes_returned"]), "bytes"),
            "plans.build_s": (med(lambda p: span_sum("plans.build", p)), "s"),
            "plans.planning_s": (med(lambda p: per_pass[p]["planning_s"]), "s"),
            "plans.exchanges": (med(lambda p: per_pass[p]["exchanges"]), "count"),
        })
        for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                        ("executor_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_bytes", "bytes"),
                        ("spill_bytes", "bytes"), ("result_bytes", "bytes")):
            m[f"spark.{k}"] = (med(lambda p: per_pass[p][k]), unit)
        m.update({
            "catalog.write_s": (med(lambda p: span_sum("catalog.write", p)), "s"),
            "catalog.bytes_written": (med(lambda p: count("catalog.bytes_written", p)), "bytes"),
            "catalog.load_s": (med(lambda p: span_sum("catalog.load", p)), "s"),
            "functions.connected_components_s": (
                med(lambda p: span_sum("functions.connected_components", p)), "s"),
            "functions.pairs_emitted": (med(lambda p: pairs[p]), "count"),
            "streaming.batches": (med(lambda p: batches[p]), "count"),
            "streaming.batch_s": (med(lambda p: batch_s[p]), "s"),
        })
        m.update({k: measured[k] for k in ("cold_pass_s", "job_s", "op_p50_s")})
        for op in [o for w in workloads.WORKLOADS.values() for o in w.OPS]:
            walls = [r["wall"] for r in records if r["op"] == op and r["pass_no"] in warm]
            m[f"op.{op}.p50_s"] = (statistics.median(walls) if walls else 0.0, "s")
        path = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.write(path, dict(workload=args.workload, seed=args.seed,
                                cpus=len(os.sched_getaffinity(0)),
                                end_to_end={k: v for k, (v, _) in measured.items()},
                                per_pass=per_pass, metrics={k: v for k, (v, _) in m.items()}))
        print(f"trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
        return m


def kernel_ms_per_frame(wl, args, work) -> dict:
    """Direct single-threaded kernel calls, outside the passes: the run's
    own video library for video_scan, a small seeded one otherwise."""
    import pandas as pd

    from scanner_spark.kernels.image import histogram_frame, make_blur_op
    from scanner_spark.sources import mp4, svf

    if args.workload == "video_scan":
        specs = wl.specs
    else:
        specs = gen.write_videos(os.path.join(work, "kernels"),
                                 gen.video_specs(args.seed, gen.SIZES["tiny"]))
    blur = make_blur_op(3).fn

    def per_frame(fn, n) -> float:
        ts = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        return statistics.median(ts) * 1e3 / n

    out = {}
    for key, codec, mod in (("avc1_decode", "avc1", mp4), ("svf_decode", "svf", svf)):
        total = 0.0
        vids = [sp for sp in specs if sp["codec"] == codec]
        for sp in vids:
            with open(sp["path"], "rb") as f:
                buf = f.read()
            meta, entries = mod.parse_index(buf)
            kw = dict(index=(meta, entries)) if mod is mp4 else {}
            total += per_frame(lambda: mod.decode_range(buf, entries[0].offset, meta,
                                                        set(range(sp["n"])), **kw), 1)
        out[key] = total / max(1, sum(sp["n"] for sp in vids))
    frames = [gen.frame(sp["s"], f, sp["h"], sp["w"]) for sp in specs if sp["codec"] != "avc1"
              for f in range(sp["n"])]
    out["histogram"] = per_frame(lambda: [histogram_frame(f) for f in frames], len(frames))
    groups: dict = {}
    for f in frames:
        groups.setdefault(f.shape, []).append(f)

    def run_blur():
        for shape, fs in groups.items():
            blur(pd.Series([f.tobytes() for f in fs]), pd.Series([shape[0]] * len(fs)),
                 pd.Series([shape[1]] * len(fs)), pd.Series([shape[2]] * len(fs)),
                 pd.Series(["u8"] * len(fs)))

    out["blur"] = per_frame(run_blur, len(frames))
    return out


if __name__ == "__main__":
    sys.exit(main())
