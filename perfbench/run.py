"""Benchmark entry point.

One workload per process:

    python3 perfbench/run.py --workload etl_grids --seed 1 --seconds 8 --trace 0

prints the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) and, as its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Metric names, units
and workloads are those of ``BENCHMARK.json`` at the repository root.

    python3 perfbench/run.py --all [--seed 1]

runs every workload untraced and traced, each in its own process, and
prints every metric per workload plus the tracing overhead (traced minus
untraced end-to-end).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))
sys.path.insert(2, os.path.join(os.path.dirname(HERE), "tools"))  # the scale-data generator

from common import (  # noqa: E402
    ROOT, WORK, RssSampler, Session, Tracer, clean, cpu_sentinel, cpu_ticks, cpus,
    event_log_metrics, prepare_env, tree_cpu_s,
)

WORKLOADS = {
    "etl_grids": "wl_etl",
    "catalog_stream": "wl_catalog",
}
OUT = os.path.join(ROOT, ".perfbench_out")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Context:
    """What a workload gets: the session, its inputs, the clock and the
    tracer, plus hooks that mark set-up done and the measured window."""

    def __init__(self, session, work, inputs, seed, seconds, tracer):
        self.session, self.work, self.inputs = session, work, inputs
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.clock = time.perf_counter
        self.t_setup = None
        self.untimed_s = 0.0
        self.window = [None, None]

    def setup_done(self) -> None:
        self.t_setup = time.perf_counter()

    @contextlib.contextmanager
    def untimed(self):
        """Time spent in here before set-up is done stays out of setup_s."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t

    def window_start(self) -> None:
        self.window[0] = time.time()
        self.ticks = cpu_ticks()
        self.cpu_s = tree_cpu_s()

    def window_end(self) -> None:
        self.window[1] = time.time()
        self.cpu_s = tree_cpu_s() - self.cpu_s
        d = [b - a for a, b in zip(self.ticks, cpu_ticks())]
        # host notes: share of CPU time the hypervisor took away (steal),
        # and how fast the host runs a fixed loop right now
        self.steal_share = d[7] / max(sum(d), 1) if len(d) > 7 else 0.0
        self.sentinel_s = cpu_sentinel()


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "geospatial_etl_pipeline_spark")):
        raise SystemExit("perfbench: the program (geospatial_etl_pipeline_spark) is not in this checkout")
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    clean(work)
    os.makedirs(work)
    try:
        return _run(workload, seed, seconds, trace, work)
    finally:
        clean(work)


def _run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import importlib

    settings = prepare_env(work, trace)
    sampler = RssSampler().start()
    wl = importlib.import_module(WORKLOADS[workload])
    session = None
    try:
        t = time.perf_counter()
        inputs = wl.make_inputs(os.path.join(work, "inputs"), seed)
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        session = Session(f"perfbench-{workload}")
        t_session = time.perf_counter() - t
        tracer = Tracer(enabled=trace)
        ctx = Context(session, work, inputs, seed, seconds, tracer)
        res = wl.run(ctx)
    finally:
        peak_mb = sampler.stop()
        if session is not None:
            session.stop()
    if trace:  # the event log is complete once the session has stopped
        res["layers"].update(event_log_metrics(
            settings["event_log_dir"], ctx.window[0], ctx.window[1], cpus()))
    res["e2e"]["setup_s"] = ctx.t_setup - T_PROCESS - gen_s - ctx.untimed_s
    res["e2e"]["ok_ratio"] = (res["attempted"] - res["failed"]) / max(res["attempted"], 1)
    res["e2e"]["peak_rss_mb"] = peak_mb
    res["e2e"]["cpu_s_per_unit"] = ctx.cpu_s / max(res["attempted"], 1)
    res["notes"] = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "inputs": wl.describe(inputs),
        "input_gen_s": gen_s,
        "settings": {k: v for k, v in settings.items() if k != "event_log_dir"},
        "samples": res.pop("samples"),
        "units": res.pop("units", None),
        "warm_s": res.pop("warm", None),
        "session_start_s": t_session,
        "untimed_s": ctx.untimed_s,
        "host_steal_share": ctx.steal_share,
        "host_cpu_sentinel_s": ctx.sentinel_s,
        "peak_rss_kb_by_process": sampler.peak_parts,
        "problems": res["problems"][:20],
    }
    if trace:
        os.makedirs(OUT, exist_ok=True)
        tracer.dump(os.path.join(OUT, f"spans-{workload}-{seed}.jsonl"))
        res["layers"]["trace.latency_p50_s"] = res["e2e"]["latency_p50_s"]
        res["layers"]["trace.throughput_per_s"] = res["e2e"]["throughput_per_s"]
    return res


def result_line(res: dict, trace: bool) -> dict:
    s = spec()
    wanted = s["per_layer"] if trace else s["end_to_end"]
    source = res["layers"] if trace else res["e2e"]
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    return {
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def run_all(seed: int, seconds: float) -> int:
    """Every workload, untraced then traced, each in its own process."""
    rows = {}
    for name in (w["name"] for w in spec()["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{name} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
                return 1
            rows[(name, trace)] = json.loads(lines[-1])
    for name in (w["name"] for w in spec()["workloads"]):
        plain, traced = rows[(name, 0)], rows[(name, 1)]
        print(f"== {name}: correct={plain['correct']} attempted={plain['attempted']} failed={plain['failed']}")
        for k, v in plain["metrics"].items():
            print(f"  {k:<28} {v['value']:>14.4f} {v['unit']}")
        for k in ("latency_p50_s", "throughput_per_s"):
            over = traced["metrics"][f"trace.{k}"]["value"] - plain["metrics"][k]["value"]
            print(f"  tracing overhead {k:<16} {over:>+14.4f}")
        print(f"  -- per layer (traced, correct={traced['correct']})")
        for k, v in traced["metrics"].items():
            if v["value"]:
                print(f"  {k:<44} {v['value']:>14.4f} {v['unit']}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()
    seconds = args.seconds if args.seconds is not None else spec()["run_seconds"]
    if args.all:
        return run_all(args.seed, seconds)
    if not args.workload:
        ap.error("--workload or --all is required")
    res = run_one(args.workload, args.seed, seconds, bool(args.trace))
    line = result_line(res, bool(args.trace))
    print("# " + json.dumps(res["notes"]))
    for k, v in line["metrics"].items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
