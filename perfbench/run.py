#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh process and SparkSession.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Set-up is repeated three times (session
start, inputs from the seed, loading what the passes draw on); the median
of the CPU seconds each took is ``setup_s``. The measured window then repeats passes of a
single-client closed loop until ``--seconds`` have elapsed; with
``run_seconds`` = 1 in BENCHMARK.json that is exactly one pass. With
``--trace 1`` the passes are traced: per-layer metrics come from the first,
and the tracing overhead is the time it spent in tracing-only work (forcing
physical plans, index tree snapshots, job-group calls) over the rest of
it. Outputs are checked after the passes. The last
stdout line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``); the line before
it carries the details: host state, set-up samples, pass counts and
workload-specific figures.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
ROOT = os.getcwd()


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """State of one benchmark run: session, tracer, ops and checks."""

    def __init__(self, args, work):
        import spans as T

        self.T = T
        self.seed = args.seed
        self.root = ROOT
        self.work = work
        self.tracer = T.Tracer()
        self.spark = None
        self.session_start_s: list[float] = []
        self.ops: list[tuple[str, float, str]] = []
        self.checks: list[tuple[str, bool, str]] = []
        self.counting = False
        spec = importlib.util.spec_from_file_location("qds_oracle", os.path.join(ROOT, "tests", "oracle.py"))
        self.oracle = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.oracle)

    def start_session(self) -> None:
        from qcardia_data_spark import get_spark

        if self.spark is not None:
            self.tracer.sc = None
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # heap committed and touched at start: the JVM's share of resident
            # memory no longer depends on when the collector grows the heap
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -Xms2g -XX:+AlwaysPreTouch"
                " -XX:-UsePerfData"),
        })
        self.spark.range(1).count()
        self.session_start_s.append(time.perf_counter() - t0)
        self.tracer.sc = self.spark.sparkContext

    def op(self, name, fn, expect_refusal: str | None = None):
        """One client call. With ``expect_refusal``, a ValueError whose
        message contains it, or a result of 0, is the correct answer."""
        T = self.T
        t0 = time.perf_counter()
        try:
            out = fn()
        except ValueError as e:
            if expect_refusal is None or expect_refusal not in str(e):
                self._record(name, t0, T.FAILED)
                raise
            self._record(name, t0, T.REFUSED_AS_EXPECTED)
            return None
        except Exception:
            self._record(name, t0, T.FAILED)
            raise
        outcome = T.OK if expect_refusal is None or out == 0 else T.WRONG
        self._record(name, t0, outcome)
        return out

    def _record(self, name, t0, outcome):
        if self.counting:
            self.ops.append((name, time.perf_counter() - t0, outcome))

    def check(self, name: str, ok: bool, msg: str) -> None:
        self.checks.append((name, bool(ok), "" if ok else msg))

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and the
        Python workers it started have exited."""
        from pyspark import SparkContext

        T = self.T
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        kids = T._children()
        pending, todo = set(), [os.getpid()]
        while todo:
            for c in kids.get(todo.pop(), []):
                pending.add(c)
                todo.append(c)
        try:
            if self.spark is not None:
                self.spark.stop()
            if gw is not None:
                gw.shutdown()
        except Exception as e:  # the JVM may already be gone
            print(f"perfbench: stopping the session: {e}", file=sys.stderr)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while pending and time.monotonic() < deadline:
            pending = {p for p in pending if _running(p)}
            time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def install_trace_wrappers(run, workload) -> None:
    """Spans around engine functions that other engine functions call."""
    import qcardia_data_spark.catalog as catalog
    import qcardia_data_spark.plans.data_module as data_module
    import qcardia_data_spark.sources.readers as readers
    from qcardia_data_spark.functions import dedup

    tr = run.tracer
    orig = catalog.load_table
    wrapped = tr.wrap(orig, "catalog", "load")
    for name, mod in list(sys.modules.items()):
        if name.startswith("qcardia_data_spark") and getattr(mod, "load_table", None) is orig:
            mod.load_table = wrapped
    readers.read_meta_json = tr.wrap(readers.read_meta_json, "index.meta", "read")
    data_module.seeded_split = tr.wrap(data_module.seeded_split, "splits", "build")

    def capture(fn, sink):
        def f(*a, **kw):
            df = fn(*a, **kw)
            if tr.enabled:
                sink.append(df)
            return df
        return f

    workload.captured = {"cands": [], "verified": []}
    dedup.lsh_candidate_pairs = capture(dedup.lsh_candidate_pairs, workload.captured["cands"])
    dedup.jaccard_verify_sets = capture(dedup.jaccard_verify_sets, workload.captured["verified"])


def traced_pass_metrics(run, workload, rest, res) -> dict:
    import workloads as W

    T = run.T
    cap = workload.captured
    n_c = sum(df.count() for df in cap["cands"])
    n_v = sum(df.count() for df in cap["verified"])
    cap["cands"].clear()
    cap["verified"].clear()
    spans = [s for s in run.tracer.spans if s.pass_id == run.tracer.pass_id]
    jobs = rest.settled_jobs()
    by_group = T.attribute(jobs, rest.stages(), T.meta_job_ids(rest.new_sql()))
    view = W.PassView(spans, by_group)
    out = workload.layer_metrics(view, res)
    if n_c:
        out["functions.dedup.verify_yield"] = n_v / n_c
    for layer in {s.layer for s in spans}:
        out[f"{layer}.self_s"] = view.self_s(layer)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    pkg = os.path.join(ROOT, "qcardia_data_spark", "__init__.py")
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(pkg) or not os.path.isfile(bench_file):
        print(f"perfbench: run from the repository root ({pkg} not found)", file=sys.stderr)
        return 2
    with open(bench_file) as f:
        manifest = json.load(f)

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "tmp"),
        "TMPDIR": os.path.join(work, "tmp"),
        # no JVM performance-data files in the system temp directory
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    sys.path[:0] = [ROOT, HERE]
    import spans as T
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    host = {"nproc": nproc, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_before": loadavg()}
    # a terminated run still stops its JVM and removes its scratch files, and
    # prints no result even where engine code swallowed the exit
    terminated = []

    def on_term(*_):
        terminated.append(True)
        sys.exit(143)

    signal.signal(signal.SIGTERM, on_term)
    run = Run(args, work)
    workload = W.Composite(run, args.workload, W.WORKLOADS[args.workload])
    sampler = T.RssSampler().start()
    try:
        setup_s, setup_cpu_s, setup_parts = [], [], []
        for rep in range(SETUP_REPS):
            cpu0 = T.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            run.start_session()
            t1 = time.perf_counter()
            d = os.path.join(work, f"setup{rep}")
            workload.setup(d)
            t2 = time.perf_counter()
            workload.build()
            setup_s.append(time.perf_counter() - t0)
            setup_cpu_s.append(T.tree_cpu_s(os.getpid()) - cpu0)
            setup_parts.append({"session": t1 - t0, "inputs": t2 - t1,
                                "build": t0 + setup_s[-1] - t2})
            if rep:
                shutil.rmtree(os.path.join(work, f"setup{rep - 1}"), ignore_errors=True)

        def one_pass(tracing: bool) -> dict:
            run.tracer.pass_id += 1
            run.tracer.enabled = tracing
            n_ops = len(run.ops)
            sampler.take_peak()
            workload.before_pass()
            cpu0 = T.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                res = workload.run_pass()
            finally:
                run.tracer.enabled = False
            res.update(pass_s=time.perf_counter() - t0, peak_rss_mb=sampler.take_peak(),
                       pass_cpu_s=T.tree_cpu_s(os.getpid()) - cpu0,
                       call_s=[o[1] for o in run.ops[n_ops:]])
            workload.after_pass(res)
            return res

        run.counting = True
        window, error = [], None
        try:
            if args.trace:
                install_trace_wrappers(run, workload)
                rest = T.Rest(run.spark.sparkContext)
                rest.new_sql()  # executions before the traced passes
            t_end = time.monotonic() + args.seconds
            while True:
                run.tracer.overhead_s = 0.0
                window.append(one_pass(bool(args.trace)))
                if args.trace:
                    window[-1]["overhead_s"] = run.tracer.overhead_s
                    window[-1]["layers"] = traced_pass_metrics(run, workload, rest, window[-1])
                if time.monotonic() >= t_end:
                    break
        except Exception as e:  # reported as a failed op; measuring stops
            error = f"{type(e).__name__}: {e}"[:500]
        run.counting = False
        if terminated:
            return 143
        t0 = time.perf_counter()
        if error is None:
            workload.verify()
        verify_s = time.perf_counter() - t0
        outcomes = T.outcomes(run.ops, run.checks)
        if error is not None and T.FAILED not in outcomes:
            outcomes.append(T.FAILED)  # raised outside any op
        attempted = max(1, len(outcomes))
        failed = sum(o in (T.REFUSED, T.FAILED, T.WRONG) for o in outcomes)
        correct = error is None and failed == 0 and bool(window)

        details = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": dict(host, loadavg_after=loadavg()),
            "passes": len(window),
            "setup_reps_s": setup_s,
            "setup_parts_s": setup_parts,
            "setup_cpu_s": setup_cpu_s,
            "verify_s": verify_s,
            "calls_s": [(name, dur) for name, dur, _ in run.ops],
            "session_start_s": run.session_start_s,
            "error_rate": T.error_rate(outcomes) if outcomes else 0.0,
            "failed_checks": [(n, m) for n, ok, m in run.checks if not ok][:20],
            "error": error,
        }
        metrics = {}
        if window:
            extra = workload.extra_metrics(window)
            details["workload_metrics"] = extra
            calls = [c for r in window for c in r["call_s"]]
            values = {
                "setup_s": T.median(setup_cpu_s),
                "pass_cpu_s": T.median([r["pass_cpu_s"] for r in window]),
                "peak_rss_mb": T.median([r["peak_rss_mb"] for r in window]),
            }
            details["pass_s"] = [r["pass_s"] for r in window]
            details["n_calls"] = len(calls)
            details["call_s.p50"] = T.median(calls)
            if args.trace:
                values = dict(window[0]["layers"], **{"e2e.pass_s": window[0]["pass_s"]})
                values["session.start_s"] = values["session.self_s"] = T.median(run.session_start_s)
                over = window[0]["overhead_s"]
                values["trace.overhead_frac"] = over / (window[0]["pass_s"] - over)
                values.update({f"e2e.{k}": v for k, v in extra.items() if not k.endswith("n_probes")})
                values["e2e.error_rate"] = details["error_rate"]
            wanted = manifest["per_layer" if args.trace else "end_to_end"]
            details["unlisted_metrics"] = sorted(set(values) - {m["name"] for m in wanted})
            metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in wanted}
        print(json.dumps(details, default=str))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        sys.stdout.flush()
        return 0
    finally:
        sampler.stop()
        try:
            run.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
