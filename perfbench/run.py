#!/usr/bin/env python3
"""Benchmark of record for stackoverflowner_spark.

    python3 perfbench/run.py --workload build --seed 0 --seconds 20 --trace 0

Workloads: build, build_ckpt, refresh, query, or ``all`` (each of the four
in its own process, one after the other). Prints every metric by name with
its unit, every correctness check, the noise diagnostics, and as the last
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports end-to-end metrics; ``--trace 1`` reports per-layer
metrics and the tracing overhead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env  # noqa: E402

WORKLOAD_NAMES = ("build", "build_ckpt", "refresh", "query")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    p.add_argument("--workload", required=True,
                   choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def end_to_end(workload: str, setup_s: float, out: dict) -> dict:
    """The metrics a user sees. build and refresh report the gated set in
    BENCHMARK.json: at a fixed seed a pass's triple count is fixed and
    checked, so triples_per_s carries wall time and only it is gated
    (the pass walls are printed as a note). The process tree's peak RSS is printed
    as a note and reported per layer: it moves by ~1 GB with the number of
    Python workers Spark forks, which varies from run to run."""
    m = {"setup_s": (setup_s, "s")}
    if workload == "query":
        m["lat_p50_ms"] = (out["lat_p50_ms"], "ms")
        m["lat_p90_ms"] = (out["lat_p90_ms"], "ms")
    else:
        m["triples_per_s"] = (out["triples_per_s"], "1/s")
    if workload == "build_ckpt":
        m["wall_s"] = (out["wall_s"], "s")
        m["resume_s"] = (out["resume_s"], "s")
    m["stored_mb"] = (out["stored_mb"], "MB")
    return m


def per_layer(run, out: dict) -> dict:
    """Every layer metric of the workload, measured on its seed's inputs.
    build and refresh measure the same set: the fused-build layers, the
    recrawl layers and the kernel replay."""
    from perfbench import inputs, layers, workloads

    m = {k: (v, "s") for k, v in run.setup_parts.items()}
    w = run.workload
    if w in ("build", "refresh"):
        m.update(layers.kernel_replay(run, out["pages_a"]))
        m.update(layers.build_layers(run, out["pages_a"]))
        pa, ta = out["pages_a"], out["triples_a"]
        if w == "build":  # the recrawl layers on this seed's snapshot B;
            # its snapshot A is the first page set, built by pass 0
            pb = run.path("layer_pages_b")
            inputs.write_recrawl(workloads.PAGES, run.seed,
                                 run.path("layer_pages_a"), pb, run.files)
        else:
            pb = out["pages_b"]
        m.update(layers.incremental_layers(run, pa, pb, ta))
    elif w == "build_ckpt":  # passes too long to repeat untraced
        return {**m, **layers.checkpoint_layers(run, out["pages_a"])}
    else:
        m.update(layers.query_layers(run, out))
    m["perfbench.trace_overhead_s"] = (run.trace_overhead_s(), "s")
    return m


def run_one(args) -> int:
    from perfbench import workloads

    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace))
    env.prepare_env(run.dir)
    diag = {"run_id": run.run_id, "cores": env.cores(),
            "triad_gbs_start": env.triad_gbs(), "load_start": env.loadavg()}
    res = workloads.Result()
    try:
        with env.TreeRss() as rss:
            t0 = time.perf_counter()
            setup_s = run.setup()
            t1 = time.perf_counter()
            out = workloads.WORKLOADS[args.workload](run, res)
            t2 = time.perf_counter()
            diag["phases_s"] = {"setup": t1 - t0, "workload": t2 - t1}
            if args.trace:
                metrics = per_layer(run, out)
            else:
                metrics = end_to_end(args.workload, setup_s, out)
        tree = {"process_tree.peak_rss_mb": (rss.peak_mb, "MB"),
                "process_tree.procs_at_peak": (rss.peak_procs, "count")}
        if args.trace:
            metrics.update(tree)
        else:
            res.notes.append("peak RSS of the process tree: "
                             f"{rss.peak_mb:.1f} MB with {rss.peak_procs} "
                             "processes (not gated)")
    finally:
        env.shutdown(run.spark)
        env.clean(run.dir)
    diag.update(load_end=env.loadavg(), setup_s=run.setup_s,
                pass_walls_s=run.walls, pass_cpu_s=run.pass_cpu)
    logs = os.path.join(env.WORK, "logs")
    diag["spans"] = run.tracer.write(os.path.join(logs,
                                                  run.run_id + ".spans.jsonl"))

    print(f"perfbench: phases {diag['phases_s']}", file=sys.stderr)
    print(f"perfbench {args.workload} seed={args.seed} cores={env.cores()} "
          f"passes={len(run.walls)}")
    for name, (value, unit) in metrics.items():
        print(f"  {name} = {value:.6g} {unit}")
    if args.trace:
        print("  span self time (s):")
        for name, s in sorted(run.tracer.self_times().items()):
            print(f"    {name} = {s:.4f}")
    share = res.failed / max(res.attempted, 1)
    print(f"  failed_share = {share:.6g} ({res.failed}/{res.attempted})")
    for note in res.notes:
        print(f"  note: {note}")
    for name, ok, detail in res.checks:
        print(f"  check {'PASS' if ok else 'FAIL'}: {name}"
              + ("" if ok else f" ({detail})"))
    print(f"  noise: triad_gbs_start={diag['triad_gbs_start']:.2f} "
          f"load_start={diag['load_start']:.2f} "
          f"load_end={diag['load_end']:.2f} spans={diag['spans']}")
    os.makedirs(logs, exist_ok=True)
    with open(os.path.join(logs, run.run_id + ".diag.json"), "w") as f:
        json.dump({**diag, "metrics": metrics, "checks": res.checks}, f)
    print(json.dumps({
        "correct": all(ok for _, ok, _ in res.checks),
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Each workload in its own process; metrics prefixed by workload."""
    correct, attempted, failed, metrics = True, 0, 0, {}
    for w in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench {w}: exited with {proc.returncode}",
                  file=sys.stderr)
            return proc.returncode or 1
        print("\n".join(lines[:-1]), flush=True)
        last = json.loads(lines[-1])
        correct &= last["correct"]
        attempted += last["attempted"]
        failed += last["failed"]
        metrics.update({f"{w}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(env.PACKAGE):
        print(f"perfbench: no stackoverflowner_spark package at {env.PACKAGE}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    t0 = time.perf_counter()
    rc = run_one(args)
    print(f"perfbench: run took {time.perf_counter() - t0:.1f} s",
          file=sys.stderr)
    return rc


if __name__ == "__main__":
    sys.exit(main())
