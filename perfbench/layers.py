"""Per-layer measurements for traced runs.

Each Spark layer is timed alone: the upstream layer's output is first
saved to parquet (untimed), then the layer's public function is timed over
that file with a ``noop`` sink. The Python document kernel is replayed in
this process, function by function, on a fixed sample of the workload's
pages. Plan counts (exchanges, Python crossings) are read from each timed
DataFrame's physical plan and repeat exactly between runs.
"""

from __future__ import annotations

import os
import pickle
import re
import time
from statistics import median
from typing import Dict

from . import env

REPLAY_PAGES = 200
REPLAY_REPEATS = 3

_EXCHANGE = re.compile(r"\b(?:Broadcast)?Exchange\b")
_PYTHON = re.compile(r"\b(?:MapInPandas|MapInArrow|PythonMapInArrow|"
                     r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|"
                     r"FlatMapCoGroupsInPandas|AggregateInPandas|"
                     r"WindowInPandas)\b")


def plan_counts(df) -> tuple:
    """(exchanges, python crossings) in the DataFrame's physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan)), len(_PYTHON.findall(plan))


def timed_noop(run, name: str, df, out: Dict[str, tuple]) -> float:
    """Time one layer over saved input with a noop sink; record its plan
    counts as ``<name>.exchanges`` / ``<name>.python_crossings``."""
    ex, py = plan_counts(df)
    out[f"{name}.exchanges"] = (ex, "count")
    out[f"{name}.python_crossings"] = (py, "count")
    t0 = time.perf_counter()
    with run.span(name):
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# ------------------------------------------------------------ fused build

def build_layers(run, pages_path: str) -> Dict[str, tuple]:
    from stackoverflowner_spark.operators import document_kernel as dk
    from stackoverflowner_spark.operators.link import link
    from stackoverflowner_spark.operators.triples import (triples_from_linked,
                                                          write_triples)

    pipe = run.pipe
    out: Dict[str, tuple] = {}

    def mentions(p):
        return dk.pages_to_mentions_fused(p, run.fresh_tagger(),
                                          pipe.lang_filter,
                                          doc_consistency=pipe.doc_consistency)

    m_path, l_path, t_path = (run.path(n) for n in
                              ("layer_mentions", "layer_linked", "layer_triples"))
    mentions(run.read(pages_path)).write.mode("overwrite").parquet(m_path)
    t = timed_noop(run, "operators.document_kernel",
                   mentions(run.read(pages_path)), out)
    n_pages = run.read(pages_path).count()
    n_mentions = run.read(m_path).count()
    out["operators.document_kernel.s"] = (t, "s")
    out["operators.document_kernel.pages_in"] = (n_pages, "count")
    out["operators.document_kernel.mentions_out"] = (n_mentions, "count")

    def linked(m):
        return link(m, pipe.dictionary, pipe.link_strategy)

    linked(run.read(m_path)).write.mode("overwrite").parquet(l_path)
    t = timed_noop(run, "operators.link", linked(run.read(m_path)), out)
    n_linked = run.read(l_path).count()
    out["operators.link.s"] = (t, "s")
    out["operators.link.match_ratio"] = (n_linked / max(n_mentions, 1), "ratio")

    def triples(lk):
        return triples_from_linked(lk, n_buckets=pipe.n_buckets)

    t = timed_noop(run, "operators.triples", triples(run.read(l_path)), out)
    t0 = time.perf_counter()
    with run.span("operators.triples.write_triples"):
        write_triples(triples(run.read(l_path)), t_path)
    write_s = time.perf_counter() - t0
    n_triples = run.read(t_path).count()
    out["operators.triples.s"] = (t, "s")
    # every linked row explodes into three predicate rows before the dedup
    out["operators.triples.dedup_ratio"] = (n_triples / max(3 * n_linked, 1),
                                            "ratio")
    out["operators.triples.write_s"] = (write_s, "s")
    out["operators.triples.stored_mb"] = (env.dir_mb(t_path), "MB")
    for p in (m_path, l_path, t_path):
        env.clean(p)
    return out


# ------------------------------------------------------------ incremental

def incremental_layers(run, pages_a: str, pages_b: str,
                       triples_a: str) -> Dict[str, tuple]:
    from stackoverflowner_spark.operators.crawldiff import changed_or_added
    from stackoverflowner_spark.operators.incremental import (incremental_update,
                                                              page_delta)

    out: Dict[str, tuple] = {}
    d_path, w_path = run.path("layer_delta"), run.path("layer_work")
    page_delta(run.read(pages_a), run.read(pages_b)).write.mode(
        "overwrite").parquet(d_path)
    t = timed_noop(run, "operators.incremental.page_delta",
                   page_delta(run.read(pages_a), run.read(pages_b)), out)
    out["operators.incremental.page_delta_s"] = (t, "s")
    changed_or_added(run.read(d_path), run.read(pages_b), ["url"]).write.mode(
        "overwrite").parquet(w_path)
    n_work, n_b = run.read(w_path).count(), run.read(pages_b).count()
    out["operators.incremental.work_ratio"] = (n_work / max(n_b, 1), "ratio")

    # carried triples alone: the same call with a rebuild that emits nothing
    ta = run.read(triples_a)
    carried = incremental_update(run.read(pages_a), run.read(pages_b), ta,
                                 lambda work: ta.limit(0),
                                 delta=run.read(d_path))
    t = timed_noop(run, "operators.incremental.carry", carried, out)
    out["operators.incremental.carry_s"] = (t, "s")
    run.fresh_tagger()
    t = timed_noop(run, "operators.incremental.rebuild",
                   run.pipe.run_fused(run.read(w_path)), out)
    out["operators.incremental.rebuild_s"] = (t, "s")
    for p in (d_path, w_path):
        env.clean(p)
    return out


# ---------------------------------------------------------- kernel replay

def kernel_replay(run, pages_path: str) -> Dict[str, tuple]:
    """Single-process replay of the fused kernel's phases on the first
    ``REPLAY_PAGES`` English pages (url order); median of repeats."""
    from pyspark.sql import functions as F

    from stackoverflowner_spark.kernel.bio import sentence_token_tags
    from stackoverflowner_spark.kernel.conlleval import extract_chunks
    from stackoverflowner_spark.kernel.docconsist import doc_postpass
    from stackoverflowner_spark.kernel.htmltext import (ExtractionError,
                                                        extract_text)
    from stackoverflowner_spark.kernel.sentencize import sentencize
    from stackoverflowner_spark.kernel.sotok import TokenizerGuardError
    from stackoverflowner_spark.operators.document_kernel import MAX_HTML_BYTES

    sample = (run.read(pages_path).filter(F.col("lang") == "en")
              .orderBy("url").limit(REPLAY_PAGES).select("url", "html")
              .collect())
    clock = time.perf_counter
    reps: Dict[str, list] = {}
    for _ in range(REPLAY_REPEATS):
        # as a Spark worker receives it: without the sentence memo
        tagger = pickle.loads(pickle.dumps(run.tagger))
        acc = dict.fromkeys(("extract", "sentencize", "bio", "tag",
                             "docconsist", "chunks"), 0.0)
        docs = []  # per page: list of (tokens, md_tags)
        for url, html in sample:
            t0 = clock()
            try:
                text = extract_text(bytes(html)[:MAX_HTML_BYTES]
                                    .decode("utf-8", "replace"))
                t1 = clock()
                final, anns = sentencize(text, url.rsplit("/", 1)[-1])
                t2 = clock()
                per_sent = sentence_token_tags(final, anns)
                t3 = clock()
            except (ExtractionError, TokenizerGuardError):
                continue
            acc["extract"] += t1 - t0
            acc["sentencize"] += t2 - t1
            acc["bio"] += t3 - t2
            docs.append([(toks, mds) for _, toks, mds in per_sent])
        flat = [s for d in docs for s in d]
        t0 = clock()
        tags = list(tagger.tag_sentences(flat))
        acc["tag"] = clock() - t0
        t0 = clock()
        fixed, i = [], 0
        for d in docs:
            fixed.extend(doc_postpass([toks for toks, _ in d],
                                      tags[i:i + len(d)]))
            i += len(d)
        acc["docconsist"] = clock() - t0
        t0 = clock()
        n_mentions = sum(len(extract_chunks(t)) for t in fixed)
        acc["chunks"] = clock() - t0
        for k, v in acc.items():
            reps.setdefault(k, []).append(v)
    n_pages, n_sents = len(docs), len(flat)
    n_tokens = sum(len(toks) for toks, _ in flat)
    per_page = lambda k: 1e6 * median(reps[k]) / n_pages  # noqa: E731
    per_sent = lambda k: 1e6 * median(reps[k]) / n_sents  # noqa: E731
    return {
        "kernel.extract_us_per_page": (per_page("extract"), "us"),
        "kernel.sentencize_us_per_page": (per_page("sentencize"), "us"),
        "kernel.tokenize_bio_us_per_page": (per_page("bio"), "us"),
        "operators.tagger.tag_us_per_sentence": (per_sent("tag"), "us"),
        "kernel.docconsist_us_per_page": (per_page("docconsist"), "us"),
        "kernel.chunks_us_per_sentence": (per_sent("chunks"), "us"),
        "kernel.sentences_per_page": (n_sents / n_pages, "count"),
        "kernel.tokens_per_page": (n_tokens / n_pages, "count"),
        "kernel.mentions_per_page": (n_mentions / n_pages, "count"),
    }


# ------------------------------------------------------------- checkpoint

def checkpoint_layers(run, pages_path: str) -> Dict[str, tuple]:
    """Each stage timed as the run_checkpointed call that completes it,
    chaining through ``fail_after_stage``; then a rerun with every bucket
    already done."""
    from stackoverflowner_spark.plans.pipeline import (STAGES, KGPipeline,
                                                       Lineage)

    root = run.path("layer_ckpt")
    pipe = KGPipeline(run.spark, root, tagger=run.fresh_tagger())
    out: Dict[str, tuple] = {}
    for stage in STAGES:
        t0 = time.perf_counter()
        with run.span(f"plans.pipeline.{stage}"):
            try:
                pipe.run_checkpointed(run.read(pages_path),
                                      fail_after_stage=stage)
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
        out[f"plans.pipeline.{stage}_s"] = (time.perf_counter() - t0, "s")
        out[f"plans.pipeline.{stage}_written_mb"] = (
            env.dir_mb(os.path.join(root, stage)), "MB")
        out[f"plans.pipeline.{stage}_rows"] = (
            sum(Lineage(root).completed(stage).values()), "count")
    t0 = time.perf_counter()
    with run.span("plans.pipeline.noop_resume"):
        pipe.run_checkpointed(run.read(pages_path))
    out["plans.pipeline.noop_resume_s"] = (time.perf_counter() - t0, "s")
    env.clean(root)
    return out


# ------------------------------------------------------------------ query

def query_layers(run, result: dict) -> Dict[str, tuple]:
    from stackoverflowner_spark.operators.sparql import parse_query

    texts = sorted({q.text for q in result["mix"] if q.kind != "point"})
    t0 = time.perf_counter()
    for _ in range(20):
        for text in texts:
            parse_query(text)
    parse_us = 1e6 * (time.perf_counter() - t0) / (20 * len(texts))
    by_kind = result["by_kind"]
    bgp = by_kind.get("bgp2", []) + by_kind.get("bgp3", [])
    rows = result["rows"]
    return {
        "operators.sparql.parse_us": (parse_us, "us"),
        "operators.triples.read_subject_ms": (
            1e3 * median(by_kind.get("point", [0.0])), "ms"),
        "operators.kgquery.bgp_ms": (1e3 * median(bgp or [0.0]), "ms"),
        "operators.kgquery.agg_ms": (
            1e3 * median(by_kind.get("agg", [0.0])), "ms"),
        "operators.kgquery.rows_per_query": (sum(rows) / max(len(rows), 1),
                                             "count"),
    }
