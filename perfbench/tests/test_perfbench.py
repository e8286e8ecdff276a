"""Self-tests of the benchmark: seeded inputs repeat, the percentile helper
picks the right sample, and the triple digest ignores row order.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import random
import statistics
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.digest import triples_digest  # noqa: E402
from perfbench.stats import percentile, quartile_spread  # noqa: E402

ENTITIES = ["soft:python", "soft:java", "soft:c++", "soft:numpy"]
TYPES = ["Language", "Library"]


# ------------------------------------------------------------ percentiles

def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    random.Random(3).shuffle(xs)
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 90) == 7.0
    # 4 samples: the median is the 2nd, p90 the 4th
    assert percentile([4, 1, 3, 2], 50) == 2
    assert percentile([4, 1, 3, 2], 90) == 4


def test_percentile_returns_a_sample():
    rng = random.Random(0)
    xs = [rng.random() for _ in range(37)]
    for q in (1, 25, 50, 75, 90, 99):
        assert percentile(xs, q) in xs


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1, 2], 0)


def test_quartile_spread_matches_statistics():
    xs = [10.0, 11.0, 9.0, 10.5, 10.2, 9.8, 10.1, 9.9, 10.3, 10.4]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


# ------------------------------------------------------------------ seeds

def test_query_mix_repeats_per_seed():
    a = inputs.query_mix(5, 200, ENTITIES, TYPES)
    assert a == inputs.query_mix(5, 200, ENTITIES, TYPES)
    assert a != inputs.query_mix(6, 200, ENTITIES, TYPES)
    assert {q.kind for q in a} == {"point", "bgp2", "bgp3", "agg"}
    # head-skewed: the first entity is the most frequent subject
    heads = [q.text for q in a if q.kind == "point"]
    assert max(set(heads), key=heads.count) == ENTITIES[0]
    # every BGP is DISTINCT (the evidence table keeps a row per url)
    assert all("SELECT DISTINCT" in q.text for q in a
               if q.kind.startswith("bgp"))


# ------------------------------------------------------------ Spark-backed

@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    # Spark's Python workers import the package from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_seed_gives_same_inputs():
    a1, b1 = inputs.recrawl_rows(90, 4)
    a2, b2 = inputs.recrawl_rows(90, 4)
    assert (a1, b1) == (a2, b2)
    assert inputs.recrawl_rows(90, 5) != (a1, b1)
    urls_a = {r["url"] for r in a1}
    urls_b = {r["url"] for r in b1}
    assert len(a1) == 90
    # churn: removed and added urls, and changed content on kept urls
    assert urls_a - urls_b and urls_b - urls_a
    html_a = {r["url"]: r["html"] for r in a1}
    assert any(html_a.get(r["url"], r["html"]) != r["html"] for r in b1)


def test_written_pages_are_synth_pages(spark, tmp_path):
    from stackoverflowner_spark.sources.pages import synth_pages

    path = inputs.write_pages(40, 3, str(tmp_path / "pages"), files=3)
    cols = ["url", "warc_ts", "html", "text", "lang"]
    got = sorted(tuple(r) for r in spark.read.parquet(path).select(*cols)
                 .collect())
    want = sorted(tuple(r) for r in synth_pages(spark, 40, seed=3)
                  .select(*cols).collect())
    assert got == want


def test_digest_ignores_row_order(spark):
    rows = [(f"s{i % 7}", "p", f"o{i}", f"u{i % 3}") for i in range(200)]
    shuffled = rows[:]
    random.Random(1).shuffle(shuffled)
    cols = ["subj", "pred", "obj", "url"]
    a = triples_digest(spark.createDataFrame(rows, cols))
    b = triples_digest(spark.createDataFrame(shuffled, cols).repartition(5))
    assert a == b and a[0] == 200
    changed = rows[:-1] + [("s0", "p", "o-other", "u0")]
    assert triples_digest(spark.createDataFrame(changed, cols)) != a
    assert triples_digest(spark.createDataFrame(rows[:-1], cols)) != a

