"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: every end-to-end
metric with ``--trace 0``, every per-layer metric with ``--trace 1``.
A full record of the run (settings, set-up samples, per-op latencies) is
written under ``.perfbench/results/``; a traced run also records bench.py's
calib probe there and writes its span tree under ``.perfbench/traces/``.

One process, one client, closed loop: each operation is issued only after
the previous one finished. The process goes through these Spark sessions,
each a fresh SparkContext (new applicationId, so no staged intermediate
of one session is visible to the next):

1. a cold session: JVM launch, then the workload's operations on a small
   warm-up input (JIT and codegen warm-up; timed as ``session.warmup_s``),
   then, in a traced run, bench.py's calib probe (recorded, never gated);
2. timed sessions, until ``--seconds`` of timed passes have run (with
   ``--trace 1``: exactly two, the second with the event log on). Each
   session is opened as a set-up sample (below), then makes one pass of
   every operation on the input made from ``--seed``; the first pass's
   outputs are checked against DuckDB after the pass;
3. set-up sessions, until there are ``SETUP_SAMPLES`` set-up samples. A
   set-up sample is a full JVM garbage collection (untimed), then
   ``get_spark()`` plus the first operation on the warm-up input (the
   probe); ``setup_s`` is their median.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import eventlog
from workloads import STAGE_LAYERS, UNIT, WORKLOADS, Ctx, prepare_input

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# Seed kept out of every run used to develop or tune a change; a claim
# measured on other seeds is re-checked on this one.
HELD_OUT_SEED = 20261017
WARMUP_SEED = 0
SETUP_SAMPLES = 5
TRACED_PASSES = 2


def pin_settings(tmp: str) -> dict[str, str]:
    """The environment the engine reads, pinned to this host: one local
    task slot per usable core, a quarter of RAM (1..4 GiB) for the single
    local JVM, and scratch space inside the run directory."""
    cpus = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(ram_gib // 4)))}g",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
    }
    os.environ.update(settings)
    tempfile.tempdir = None  # re-read TMPDIR
    return settings


def host_cpu_times() -> list[int]:
    """The host's aggregate CPU times (user … steal), from /proc/stat.
    Steal is time the hypervisor gave this VM's CPUs to other tenants."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def tree_cpu_s(root: int, jvm: int) -> tuple[float, float]:
    """CPU seconds (user + system) used so far by ``root`` and every live
    descendant, each with the children it has reaped, as (all, the JVM's
    own). The rest is Python: this driver process and the Python workers."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while we looked
                continue
            procs[int(name)] = (int(fields[1]), [int(x) for x in fields[11:15]])
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += sum(procs[pid][1]) if pid in procs else 0
        todo.extend(kids.get(pid, []))
    jvm_own = sum(procs[jvm][1][:2]) if jvm in procs else 0
    tick = os.sysconf("SC_CLK_TCK")
    return total / tick, jvm_own / tick


class Bench:
    """One run of one workload: its inputs, sessions, passes and counts."""

    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 run_dir: str):
        self.wl = workload
        self.ops = workload.ops()
        self.trace = trace
        self.seconds = seconds
        self.run_dir = run_dir
        self.events = os.path.join(run_dir, "events")
        os.makedirs(self.events)
        cache = os.path.join(WORK, "data")
        os.makedirs(cache, exist_ok=True)
        self.data = prepare_input(cache, *workload.timed, seed)
        self.warm = prepare_input(cache, *workload.warmup, WARMUP_SEED)
        t0 = time.perf_counter()
        self.expected = workload.expected(self.data) if workload.expected else {}
        self.expected_s = time.perf_counter() - t0
        self.n_out = 0
        self.check_times = {}
        self.attempted = 0
        self.failed = 0
        self.setups: list[float] = []
        self.spark = None

    # -- sessions -----------------------------------------------------------
    def open_session(self, traced: bool) -> float:
        from data_engineering_course_project_2023_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.eventLog.enabled": "true" if traced else "false",
            "spark.eventLog.dir": self.events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.wl.name}", extra_conf=conf)
        start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return start_s

    def close_session(self) -> str:
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return app_id

    def ctx(self, data: str) -> Ctx:
        self.n_out += 1
        out = os.path.join(self.run_dir, "out", str(self.n_out))
        return Ctx(self.spark, data, out, self.expected)

    # -- operations ---------------------------------------------------------
    def run_ops(self, ctx, ops, label: bool = False) -> list[dict]:
        sc = self.spark.sparkContext
        recs = []
        for op in ops:
            if label:
                sc.setJobGroup(op.name, op.name)
            start = time.time()
            t0 = time.perf_counter()
            handle = plan_s = error = None
            try:
                handle, plan_s = op.run(ctx)
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                error = traceback.format_exc()
                print(f"[perfbench] {op.name} raised:\n{error}", file=sys.stderr)
            wall = time.perf_counter() - t0
            self.attempted += 1
            self.failed += error is not None
            recs.append({"op": op, "start": start, "end": start + wall,
                         "wall_s": wall, "plan_s": plan_s, "handle": handle,
                         "error": error})
        if label:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return recs

    def check(self, ctx, recs: list[dict]) -> dict[str, list[str]]:
        problems = {}
        for r in recs:
            if r["error"] is not None:
                continue
            t0 = time.perf_counter()
            try:
                bad = r["op"].check(ctx, r["handle"])
            except Exception:  # noqa: BLE001 — a check that cannot run is a failure
                bad = [traceback.format_exc()]
            self.check_times[r["op"].name] = time.perf_counter() - t0
            if bad:
                problems[r["op"].name] = bad
                self.failed += 1
                print(f"[perfbench] {r['op'].name} mismatched: {bad}", file=sys.stderr)
        return problems

    def calib(self) -> float:
        """bench.py's machine-speed probe, unchanged: min of two runs of a
        pure-CPU codegen sum. Recorded with traced runs only (it costs
        about 4 s), never gated."""
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            self.spark.range(0, 2_000_000_000, 1, 32).selectExpr(
                "sum(id % 1000007)"
            ).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return best

    @staticmethod
    def jvm_pid() -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def cpu_s(self) -> tuple[float, float]:
        return tree_cpu_s(os.getpid(), self.jvm_pid())

    def reset_peak_rss(self) -> None:
        """Restart the JVM's resident-set high-water mark from its current
        resident set."""
        with open(f"/proc/{self.jvm_pid()}/clear_refs", "w") as f:
            f.write("5")

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def jit_s(self) -> float:
        """Seconds the JVM's JIT compiler threads have spent compiling so
        far (elapsed, summed over the threads)."""
        mx = self.spark._jvm.java.lang.management.ManagementFactory
        return mx.getCompilationMXBean().getTotalCompilationTime() / 1000.0

    @staticmethod
    def collect_heap() -> None:
        """Full JVM garbage collection, so that no timed window pays for
        garbage an earlier session left."""
        from pyspark import SparkContext

        if SparkContext._jvm is not None:
            SparkContext._jvm.System.gc()

    # -- the run ------------------------------------------------------------
    def setup_sample(self, traced: bool) -> None:
        """Open a fresh session and run the first op on the warm-up input."""
        self.collect_heap()
        start_s = self.open_session(traced)
        probe = self.run_ops(self.ctx(self.warm), self.ops[:1])
        self.setups.append(start_s + probe[0]["wall_s"])

    def more_passes(self, passes: list[dict]) -> bool:
        if self.trace:
            return len(passes) < TRACED_PASSES
        return not passes or sum(p["wall_s"] for p in passes) < self.seconds

    def run(self) -> dict:
        start_s = self.open_session(traced=False)
        warm = self.run_ops(self.ctx(self.warm), self.ops)
        cold = {"start_s": start_s, "warmup_s": sum(r["wall_s"] for r in warm),
                "ops": {r["op"].name: r["wall_s"] for r in warm}}
        calib = self.calib() if self.trace else None
        self.close_session()

        passes: list[dict] = []
        problems: dict[str, list[str]] = {}
        groups: dict = {}
        spans: list[dict] = []
        while self.more_passes(passes):
            traced = self.trace and len(passes) == TRACED_PASSES - 1
            self.setup_sample(traced)  # the pass does not pay the session's first job
            ctx = self.ctx(self.data)
            self.collect_heap()
            self.reset_peak_rss()
            jit0 = self.jit_s()
            (cpu0, jvm0), host0 = self.cpu_s(), host_cpu_times()
            t0 = time.perf_counter()
            recs = self.run_ops(ctx, self.ops, label=traced)
            wall = time.perf_counter() - t0
            cpu1, jvm1 = self.cpu_s()
            host = [b - a for a, b in zip(host0, host_cpu_times())]
            jit = self.jit_s() - jit0
            rss = self.peak_rss_mb()
            if not passes:
                problems = self.check(ctx, recs)
            app_id = self.close_session()
            passes.append({"wall_s": wall, "cpu_s": cpu1 - cpu0, "jvm_cpu_s": jvm1 - jvm0,
                           "jit_s": jit, "peak_rss_mb": rss, "recs": recs, "traced": traced,
                           "steal_share": host[7] / sum(host)})
            if traced:
                groups, spans = eventlog.read(os.path.join(self.events, app_id))
        while len(self.setups) < SETUP_SAMPLES:
            self.setup_sample(traced=False)
            self.close_session()
        return {"setups": self.setups, "cold": cold, "calib_sec": calib,
                "passes": passes, "problems": problems, "groups": groups,
                "job_spans": spans}


def end_to_end(res: dict) -> dict[str, tuple[float, str]]:
    return {
        "setup_s": (statistics.median(res["setups"]), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in res["passes"]), "s"),
    }


def per_layer_spec() -> dict[str, str]:
    """Every per-layer metric name → unit, across all workloads; a run
    reports 0 for the operations its workload does not issue."""
    spec = {"session.start_s": "s", "session.warmup_s": "s"}
    for wl in WORKLOADS.values():
        for op in wl.ops():
            for c in op.counters:
                spec[f"{op.prefix}.{c}"] = UNIT[c]
    spec.update({
        "orchestrate.chain.wall_s": "s",
        "arxiv_analytics.leg.wall_s": "s",
        "registry.plan_s": "s",
        "registry.exec_s": "s",
        "pass.query_p50_s": "s",
        "workload.spill_mb": "MB",
        "jvm.peak_rss_mb": "MB",
        "pass.jvm_cpu_s": "s",
        "pass.python_cpu_s": "s",
        "pass.jit_s": "s",
        "trace.untraced_wall_s": "s",
        "trace.traced_wall_s": "s",
    })
    return spec


def per_layer(res: dict) -> dict[str, tuple[float, str]]:
    spec = per_layer_spec()
    vals = dict.fromkeys(spec, 0.0)
    vals["session.start_s"] = res["cold"]["start_s"]
    vals["session.warmup_s"] = res["cold"]["warmup_s"]
    untraced, traced = res["passes"]
    groups = res["groups"]
    for r in traced["recs"]:
        op = r["op"]
        g = groups.get(op.name, {})
        for c in op.counters:
            vals[f"{op.prefix}.{c}"] += r["wall_s"] if c == "wall_s" else g.get(c, 0.0)
        if op.layer in STAGE_LAYERS:
            vals["orchestrate.chain.wall_s"] += r["wall_s"]
        elif op.layer == "arxiv_analytics":
            vals["arxiv_analytics.leg.wall_s"] += r["wall_s"]
        if r["plan_s"] is not None:
            vals["registry.plan_s"] += r["plan_s"]
            vals["registry.exec_s"] += r["wall_s"] - r["plan_s"]
    vals["pass.query_p50_s"] = statistics.median(r["wall_s"] for r in traced["recs"])
    vals["workload.spill_mb"] = sum(g["spill_mb"] for g in groups.values())
    vals["jvm.peak_rss_mb"] = untraced["peak_rss_mb"]
    vals["pass.jvm_cpu_s"] = untraced["jvm_cpu_s"]
    vals["pass.python_cpu_s"] = untraced["cpu_s"] - untraced["jvm_cpu_s"]
    vals["pass.jit_s"] = untraced["jit_s"]
    vals["trace.untraced_wall_s"] = untraced["wall_s"]
    vals["trace.traced_wall_s"] = traced["wall_s"]
    return {k: (v, spec[k]) for k, v in vals.items()}


def span_tree(workload: str, res: dict) -> list[dict]:
    """workload → op → Spark job spans of the traced pass."""
    recs = res["passes"][-1]["recs"]
    spans = [{"id": 0, "parent": None, "name": workload,
              "start": recs[0]["start"], "end": recs[-1]["end"]}]
    op_id = {}
    for r in recs:
        op_id[r["op"].name] = len(spans)
        spans.append({"id": len(spans), "parent": 0, "name": r["op"].name,
                      "start": r["start"], "end": r["end"]})
    for j in sorted(res["job_spans"], key=lambda s: s["job"]):
        if j["group"] in op_id:  # unlabelled jobs are the session's set-up probe
            spans.append({"id": len(spans), "parent": op_id[j["group"]],
                          "name": f"job {j['job']}", "start": j["start"],
                          "end": j["end"]})
    return spans


def shutdown() -> None:
    """Stop the active SparkContext and the JVM this process launched,
    and wait for the JVM to exit."""
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run_dir = os.path.join(WORK, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    settings = pin_settings(tmp)
    sys.path.insert(0, ROOT)
    engine_loaded = False
    try:
        try:
            import data_engineering_course_project_2023_spark  # noqa: F401
        except ImportError as e:
            print(f"[perfbench] the engine is not importable from {ROOT}: {e}",
                  file=sys.stderr)
            return 3
        engine_loaded = True
        bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds,
                      bool(args.trace), run_dir)
        res = bench.run()
    finally:
        if engine_loaded:
            shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = per_layer(res) if args.trace else end_to_end(res)
    out = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {
        "workload": args.workload, "seed": args.seed,
        "held_out_seed": HELD_OUT_SEED, "seconds": args.seconds,
        "settings": settings, "calib_sec": res["calib_sec"],
        "setup_samples_s": res["setups"], "cold": res["cold"],
        "expected_s": bench.expected_s,
        "passes": [{**{k: v for k, v in p.items() if k != "recs"},
                    "ops": {r["op"].name: r["wall_s"] for r in p["recs"]}}
                   for p in res["passes"]],
        "problems": res["problems"], "check_s": bench.check_times,
        "result": out,
    }
    for sub, doc in (("results", record),
                     ("traces", span_tree(args.workload, res) if args.trace else None)):
        if doc is not None:
            os.makedirs(os.path.join(WORK, sub), exist_ok=True)
            with open(os.path.join(WORK, sub, f"{tag}.json"), "w") as f:
                json.dump(doc, f, indent=1)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
