"""The four workloads, each driven only through the package's public API.

Every workload has the same shape: set up (timed, once), make the
seeded inputs (untimed), run passes until ``--seconds`` have been measured,
then check every output. A pass is the unit a user waits for:

* ``build``      ``KGPipeline.run_fused`` + ``write_triples`` over pages A;
* ``build_ckpt`` ``run_checkpointed`` with a failure injected after the
                 mentions stage, then the resuming call;
* ``refresh``    ``incremental_update`` from snapshot A to B + ``write_triples``;
* ``query``      one query of the seeded mix, closed loop, one client.
"""

from __future__ import annotations

import copy
import json
import os
import time
from dataclasses import dataclass, field
from statistics import median
from typing import Dict, List

from . import env, inputs
from .digest import triples_digest
from .stats import percentile
from .trace import Tracer

DEFAULT_SEED = 0
SMALL_PAGES = 64       # the first small fused run of a setup
PAGES = 1000           # pages in snapshot A
RECORDED_SEEDS = 100   # expected.json holds input seeds 0..99
QUERY_PAGES = 2000     # pages behind the graph the query workload reads
MIN_QUERIES = 100      # lat_p90_ms needs >= 10 samples above it
MIN_PASSES = 1         # a pass of build or refresh is one job's wall time
PAGE_SETS = 4          # build passes cycle over the pages of seeds s..s+3
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected.json")


@dataclass
class Result:
    checks: List[tuple] = field(default_factory=list)  # (name, ok, detail)
    attempted: int = 0
    failed: int = 0
    notes: List[str] = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        return ok


class Run:
    """One process's benchmark run: session, pipeline, tracer, work dirs."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = input_seed(seed)
        self.seconds = seconds
        self.run_id = f"{workload}-s{seed}-p{os.getpid()}-{int(time.time())}"
        self.dir = os.path.join(env.WORK, "runs", self.run_id)
        self.trace = trace
        self.tracer = Tracer(self.run_id, trace)
        self.spark = None
        self.pipe = None
        self.setup_parts: Dict[str, float] = {}
        self.files = env.cores()  # input files: one scan split per core

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def span(self, name: str):
        return self.tracer.span(name)

    # ------------------------------------------------------------ setup

    def setup(self) -> float:
        """Session start, tagger load, dictionary and the first small fused
        run; returns their seconds. This is the cold start a spark-submit
        job pays once: JVM launch, Spark's Python workers spawned and
        importing the package, code paths compiled. Only the first setup
        in a process pays it, so a run sets up once."""
        from stackoverflowner_spark.operators import tagger as tagger_mod
        from stackoverflowner_spark.plans.pipeline import KGPipeline

        small = inputs.write_pages(SMALL_PAGES, self.seed,
                                   self.path("pages_small"), self.files)
        t0 = time.perf_counter()
        with self.span("session.start"):
            self.spark = env.start_session()
        t1 = time.perf_counter()
        with self.span("operators.tagger.load"):
            self.tagger = tagger_mod.default_tagger()
        t2 = time.perf_counter()
        with self.span("sources.dictionary.build"):
            self.pipe = KGPipeline(self.spark, self.path("pipeline"),
                                   tagger=self.tagger)
        t3 = time.perf_counter()
        with self.span("operators.document_kernel.first_run"):
            (self.pipe.run_fused(self.read(small)).write.format("noop")
             .mode("overwrite").save())
        t4 = time.perf_counter()
        self.setup_parts = {"session.start_s": t1 - t0,
                            "operators.tagger.load_s": t2 - t1,
                            "sources.dictionary.build_s": t3 - t2,
                            "operators.document_kernel.first_run_s": t4 - t3}
        self.setup_s = t4 - t0
        return self.setup_s

    # ---------------------------------------------------------- helpers

    def fresh_tagger(self):
        """Give the pipeline a shallow copy of the loaded tagger. The copy
        is broadcast anew, so Spark's Python workers start it with an empty
        sentence memo: a pass over pages an earlier pass already tagged
        does the tagging work again, as a job over new pages would."""
        self.pipe.tagger = copy.copy(self.tagger)
        return self.pipe.tagger

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def measure(self, one_pass, check, min_passes: int = MIN_PASSES,
                overhead: bool = True) -> List[float]:
        """Run ``one_pass(i)``, calling ``check(i)`` untimed after each, for
        at least ``min_passes`` passes and then while another pass as long
        as the last still ends within ``seconds``; return each pass's wall
        time. Passes keep getting faster for several passes after a cold
        setup (JVM JIT, worker caches), so the number of passes must not
        depend on host noise: stopping before a pass that would overrun
        the window, rather than after, gives every run on a host the same
        passes.

        In a traced run with ``overhead``, passes after the first alternate
        traced and untraced, at least traced-untraced-traced, so the
        tracing overhead is measured in one process with a linear warm-up
        trend cancelling; without it every pass is traced."""
        if self.trace and overhead:
            min_passes = max(min_passes, 4)
        walls: List[float] = []
        self.pass_traced, self.pass_cpu = [], []
        start = time.perf_counter()
        while (len(walls) < min_passes or time.perf_counter() - start
               + walls[-1] <= self.seconds):
            self.tracer.enabled = self.trace and (
                not overhead or len(walls) % 2 == 1)
            i = len(walls)
            c0, t0 = env.tree_cpu_s(), time.perf_counter()
            one_pass(i)
            walls.append(time.perf_counter() - t0)
            self.pass_cpu.append(env.tree_cpu_s() - c0)
            self.pass_traced.append(self.tracer.enabled)
            check(i)
        self.tracer.enabled = self.trace
        self.walls = walls
        return walls

    def trace_overhead_s(self) -> float:
        """Median traced minus median untraced pass, after the first."""
        pairs = list(zip(self.walls, self.pass_traced))[1:]
        on = [w for w, t in pairs if t]
        off = [w for w, t in pairs if not t]
        return median(on) - median(off)


def input_seed(seed: int) -> int:
    """The input seed behind a ``--seed``: inputs come from one of the
    ``RECORDED_SEEDS`` seeds record.py recorded, so every output has a
    recorded reference and no run pays for computing one."""
    return seed % RECORDED_SEEDS


def recorded(workload: str, seed: int) -> list:
    """What perfbench/record.py recorded for this workload and input seed:
    ``[rows, hash_sum]`` for refresh, ``[rows, hash_sum, failed_pages]``
    for build."""
    with open(EXPECTED) as f:
        rec = json.load(f)
    if rec["pages"] != PAGES:
        raise SystemExit(f"{EXPECTED} was recorded at {rec['pages']} pages, "
                         f"not {PAGES}: rerun perfbench/record.py")
    return rec[workload][str(seed)]


def _digest_check(res: Result, name: str, got: tuple, want: tuple,
                  rows: int = PAGES) -> None:
    """One check of one pass; a mismatching pass fails all its rows."""
    if not res.check(name, got == want, f"got {got}, want {want}"):
        res.failed += rows


def _digest_checks(res: Result, name: str, digests: List[tuple],
                   reference: tuple, rows_per_pass: int) -> None:
    for i, d in enumerate(digests):
        _digest_check(res, f"{name}[pass {i}]", d, reference, rows_per_pass)


# ================================================================= build

def run_build(run: Run, res: Result) -> dict:
    """Full fused builds written with write_triples. Pass ``i`` builds page
    set ``i mod PAGE_SETS``, the pages of seed ``seed + i mod PAGE_SETS``,
    so a pass meets pages no earlier pass has seen, as a job over a new
    crawl does: the kernel's per-worker memos start cold for its pages."""
    from stackoverflowner_spark.operators.triples import write_triples

    seeds = [input_seed(run.seed + k) for k in range(PAGE_SETS)]
    sets = [inputs.write_pages(PAGES, s, run.path(f"pages_s{s}"), run.files)
            for s in seeds]
    recs = [recorded("build", s) for s in seeds]
    outs = [run.path(f"triples_s{s}") for s in seeds]
    digests: List[tuple] = []

    def one_pass(i):
        run.fresh_tagger()
        with run.span("pass.build"):
            with run.span("plans.pipeline.run_fused"):
                triples = run.pipe.run_fused(run.read(sets[i % PAGE_SETS]))
            with run.span("operators.triples.write_triples"):
                write_triples(triples, outs[i % PAGE_SETS])

    def check(i):
        k = i % PAGE_SETS
        d = triples_digest(run.read(outs[k]))
        digests.append(d)
        res.attempted += PAGES
        _digest_check(res, f"build digest == recorded for seed {seeds[k]} "
                      f"[pass {i}]", d, tuple(recs[k][:2]))

    walls = run.measure(one_pass, check)
    # failed pages are counted on the program under test, untimed: in one
    # job over the page sets the passes built, and per set only if some
    # page failed
    used = sets[:min(len(walls), PAGE_SETS)]
    failed = [0] * len(used)
    if count_failed_pages(run, run.spark.read.parquet(*used)):
        failed = [count_failed_pages(run, run.read(p)) for p in used]
    for s, rec, n in zip(seeds, recs, failed):
        res.check(f"failed pages == recorded for seed {s}", n == rec[2],
                  f"got {n}, want {rec[2]}")
    res.failed += sum(failed[i % PAGE_SETS] for i in range(len(walls)))
    res.notes.append(f"failed pages per page set (extract ok=false + "
                     f"sentences sent_idx=-1): {failed}")
    res.notes.append(f"triples per pass: {[d[0] for d in digests]}")
    res.notes.append(f"pass walls: {[round(w, 3) for w in walls]} s")
    return {"triples_per_s": sum(d[0] for d in digests) / sum(walls),
            "stored_mb": env.dir_mb(outs[0]), "pages_a": sets[0],
            "triples_a": outs[0]}


def count_failed_pages(run: Run, pages) -> int:
    """Pages the fused kernel skips without a trace: extraction failures
    (``extract_stage`` ok=false) plus tokenizer-guard drops
    (``sentences_stage`` sent_idx=-1), in one job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from stackoverflowner_spark.operators import document_kernel as dk

    obs = Observation("extract_failures")
    extracted = dk.extract_stage(pages, run.pipe.lang_filter).observe(
        obs, F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n"))
    dropped = (dk.sentences_stage(extracted)
               .filter(F.col("sent_idx") == -1).count())
    return dropped + int(obs.get["n"] or 0)


# ============================================================ build_ckpt

def run_build_ckpt(run: Run, res: Result) -> dict:
    """run_checkpointed with one injected failure after ``mentions``,
    then the resuming call, in a fresh output root per pass."""
    from stackoverflowner_spark.plans.pipeline import KGPipeline

    pages_path = inputs.write_pages(PAGES, run.seed, run.path("pages_a"),
                                    run.files)
    reference = tuple(recorded("build", run.seed)[:2])
    resumes, roots, outs = [], [], []

    def one_pass(i):
        root = run.path(f"ckpt{i}")
        roots.append(root)
        pipe = KGPipeline(run.spark, root, tagger=run.fresh_tagger())
        with run.span("pass.build_ckpt"):
            try:
                with run.span("plans.pipeline.run_checkpointed"):
                    pipe.run_checkpointed(run.read(pages_path),
                                          fail_after_stage="mentions")
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
            t0 = time.perf_counter()
            with run.span("plans.pipeline.run_checkpointed"):
                outs.append(pipe.run_checkpointed(run.read(pages_path)))
            resumes.append(time.perf_counter() - t0)

    digests: List[tuple] = []
    walls = run.measure(one_pass, lambda i: digests.append(
        triples_digest(run.read(outs[i]))), min_passes=1, overhead=False)
    stored = env.dir_mb(roots[-1])
    _digest_checks(res, "build_ckpt digest == build (run_fused)", digests,
                   reference, PAGES)
    failed_rows = lineage_failed_rows(roots[-1])
    res.attempted += PAGES * len(walls)
    res.failed += failed_rows * len(walls)
    res.notes.append(f"lineage failed_rows per pass: {failed_rows}")
    for root in roots[:-1]:
        env.clean(root)
    wall = median(walls)
    return {"wall_s": wall, "resume_s": median(resumes),
            "triples_per_s": digests[-1][0] / wall, "stored_mb": stored,
            "pages_a": pages_path}


def lineage_failed_rows(root: str) -> int:
    total = 0
    for name in os.listdir(root):
        if name.startswith("_lineage_") and name.endswith(".json"):
            with open(os.path.join(root, name)) as f:
                total += int(json.load(f).get("metrics", {})
                             .get("failed_rows", 0))
    return total


# =============================================================== refresh

def run_refresh(run: Run, res: Result) -> dict:
    """incremental_update from snapshot A to B, B's triples written."""
    from stackoverflowner_spark.operators.incremental import incremental_update
    from stackoverflowner_spark.operators.triples import write_triples

    pa, pb = run.path("pages_a"), run.path("pages_b")
    _, n_b = inputs.write_recrawl(PAGES, run.seed, pa, pb, run.files)
    ta = run.path("triples_a")
    write_triples(run.pipe.run_fused(run.read(pa)), ta)
    reference = tuple(recorded("refresh", run.seed))
    out = run.path("triples_b")
    digests: List[tuple] = []

    def one_pass(i):
        run.fresh_tagger()
        with run.span("pass.refresh"):
            with run.span("operators.incremental.incremental_update"):
                triples = incremental_update(run.read(pa), run.read(pb),
                                             run.read(ta), run.pipe.run_fused)
            with run.span("operators.triples.write_triples"):
                write_triples(triples, out)

    walls = run.measure(one_pass, lambda i: digests.append(
        triples_digest(run.read(out))))
    _digest_checks(res, "refresh digest == run_fused(pages_b) as recorded",
                   digests, reference, n_b)
    res.attempted += n_b * len(walls)
    res.notes.append(f"triples per pass: {digests[-1][0]}")
    res.notes.append(f"pass walls: {[round(w, 3) for w in walls]} s")
    return {"triples_per_s": sum(d[0] for d in digests) / sum(walls),
            "stored_mb": env.dir_mb(out), "pages_a": pa, "pages_b": pb,
            "triples_a": ta}


# ================================================================= query

def run_query(run: Run, res: Result) -> dict:
    """Closed loop, one client: each query starts when the last returns."""
    from stackoverflowner_spark.operators.triples import write_triples_sorted
    from stackoverflowner_spark.sources.dictionary import build_dictionary_rows

    pages_path = inputs.write_pages(QUERY_PAGES, run.seed,
                                    run.path("pages_a"), run.files)
    graph = run.path("graph")
    write_triples_sorted(run.pipe.run_fused(run.read(pages_path)), graph)
    rows = build_dictionary_rows()
    ranked = sorted({(r["freq_rank"], r["canonical_id"]) for r in rows})
    entities = [c for _, c in ranked]
    types = sorted({r["entity_type"] for r in rows})
    mix = inputs.query_mix(run.seed, 4 * MIN_QUERIES, entities, types)
    duck = DuckOracle(graph)
    results: Dict[int, object] = {}
    kinds: List[str] = []
    rows_out: List[int] = []

    def one_query(i):
        q = mix[i % len(mix)]
        with run.span(f"query.{q.kind}"):
            try:
                results[i] = execute(run, graph, q)
            except Exception as e:  # a failing query is counted, not fatal
                results[i] = e

    def check(i):
        q = mix[i % len(mix)]
        got = results.pop(i)
        kinds.append(q.kind)
        if isinstance(got, Exception):
            res.failed += 1
            res.check(f"query {i} ({q.kind}) raised", False, repr(got)[:200])
            return
        rows_out.append(len(got))
        want = duck.rows(q.sql)
        if got != want:
            res.failed += 1
            res.check(f"query {i} ({q.kind}) == duckdb", False,
                      f"{len(got)} rows vs {len(want)}: {q.text[:120]}")

    lat = run.measure(one_query, check, min_passes=MIN_QUERIES)
    res.attempted += len(lat)
    res.check(f"{len(lat)} queries == duckdb 1.0", res.failed == 0,
              f"{res.failed} failed or mismatched")
    by_kind: Dict[str, List[float]] = {}
    for kind, dt in zip(kinds, lat):
        by_kind.setdefault(kind, []).append(dt)
    return {"by_kind": by_kind, "rows": rows_out,
            "lat_p50_ms": 1e3 * percentile(lat, 50),
            "lat_p90_ms": 1e3 * percentile(lat, 90),
            "stored_mb": env.dir_mb(graph), "mix": mix}


def execute(run: Run, graph: str, q) -> list:
    """Run one query through the package and return its canonical rows."""
    from stackoverflowner_spark.operators.sparql import run_sparql
    from stackoverflowner_spark.operators.triples import read_subject

    if q.kind == "point":
        df = read_subject(run.spark, graph, q.text,
                          n_buckets=run.pipe.n_buckets)
        df = df.select("subj", "pred", "obj", "url")
    else:
        df = run_sparql(run.read(graph), q.text)
    return canonical(tuple(r) for r in df.collect())


def canonical(rows) -> list:
    return sorted(tuple(int(v) if isinstance(v, int) else str(v)
                        for v in r) for r in rows)


class DuckOracle:
    """DuckDB 1.0 over the same parquet files, cached per query text."""

    def __init__(self, graph: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            "CREATE VIEW t AS SELECT subj, pred, obj, url FROM read_parquet("
            f"'{graph}/*/*.parquet', hive_partitioning = true)")
        self.cache: Dict[str, list] = {}

    def rows(self, sql: str) -> list:
        if sql not in self.cache:
            self.cache[sql] = canonical(self.con.execute(sql).fetchall())
        return self.cache[sql]


WORKLOADS = {"build": run_build, "build_ckpt": run_build_ckpt,
             "refresh": run_refresh, "query": run_query}
