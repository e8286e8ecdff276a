#!/usr/bin/env python3
"""Record the reference outputs the benchmark checks against.

    python3 perfbench/record.py --seeds 0-99

For every seed, untimed: the digest of ``run_fused`` over the seed's pages
and the pages the fused kernel skips (extraction failures plus
tokenizer-guard drops), and the digest of ``run_fused`` over the seed's
recrawl snapshot B. For the ``CHECK_SEEDS`` the build digest must also
equal ``run_checkpointed``'s, and ``incremental_update`` must reproduce
snapshot B's digest, or nothing is written. Rerun this only for a change
that means to alter the program's output; writes perfbench/expected.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env, inputs, workloads  # noqa: E402
from perfbench.digest import triples_digest  # noqa: E402

CHECK_SEEDS = (0, 1)  # also cross-checked against the other two paths


def seed_range(text: str) -> list:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def record_seed(run, seed: int, check: bool) -> tuple:
    """([rows, hash_sum, failed_pages] for build, [rows, hash_sum] for
    refresh) at ``seed``."""
    from stackoverflowner_spark.operators.incremental import incremental_update
    from stackoverflowner_spark.operators.triples import write_triples
    from stackoverflowner_spark.plans.pipeline import KGPipeline

    pa, pb, ta = run.path("pa"), run.path("pb"), run.path("ta")
    inputs.write_recrawl(workloads.PAGES, seed, pa, pb, run.files)
    write_triples(run.pipe.run_fused(run.read(pa)), ta)
    build = triples_digest(run.read(ta))
    failed = workloads.count_failed_pages(run, run.read(pa))
    refresh = triples_digest(run.pipe.run_fused(run.read(pb)))
    if check:
        root = run.path("ckpt")
        pipe = KGPipeline(run.spark, root, tagger=run.pipe.tagger)
        ckpt = triples_digest(run.read(pipe.run_checkpointed(run.read(pa))))
        env.clean(root)
        incr = triples_digest(incremental_update(
            run.read(pa), run.read(pb), run.read(ta), run.pipe.run_fused))
        if ckpt != build or incr != refresh:
            raise SystemExit(f"seed {seed}: run_checkpointed {ckpt} vs "
                             f"run_fused {build}; incremental {incr} vs "
                             f"full {refresh}")
    return [*build, failed], list(refresh)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="0-99")
    args = p.parse_args(argv)

    run = workloads.Run("record", workloads.DEFAULT_SEED, 0, False)
    env.prepare_env(run.dir)
    build, refresh = {}, {}
    try:
        run.setup()
        for seed in seed_range(args.seeds):
            build[seed], refresh[seed] = record_seed(
                run, seed, seed in CHECK_SEEDS)
            print(f"seed {seed}: build {build[seed]} refresh {refresh[seed]}",
                  flush=True)
    finally:
        env.shutdown(run.spark)
        env.clean(run.dir)

    def block(d):  # one seed per line keeps diffs readable
        return "{\n" + ",\n".join(f'  "{k}": {json.dumps(v)}'
                                  for k, v in sorted(d.items())) + "\n }"
    with open(workloads.EXPECTED, "w") as f:
        f.write(f'{{\n "pages": {workloads.PAGES},\n "build": {block(build)},'
                f'\n "refresh": {block(refresh)}\n}}\n')
    return 0


if __name__ == "__main__":
    sys.exit(main())
