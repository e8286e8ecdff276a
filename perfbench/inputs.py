"""Seeded inputs. The same seed always gives the same tables and queries.

Pages are ``sources.pages.synth_page(i, seed)`` for page ids ``0..n-1``:
the rows ``synth_pages(spark, n, seed=seed)`` generates, made in the
benchmark's process (without a Spark job, so input generation does not warm
or load the engine under test) and written to parquet before any timing, as
``files`` files of consecutive page ids. The program under test only reads
those files.

Snapshot B of a recrawl is derived from snapshot A (pages ``0..n-1``) by
the seed: a seeded hash of the page id sends about 1/30 of the urls to
*removed*, 1/30 to *changed* (new content: the html of the page
``n // 2`` ids away, a day later), and adds ``n // 30`` new urls, so
about 10 % of B differs from A. The remaining pages keep their content and
move one day forward (a metadata-only recrawl, which the fingerprint must
classify as unchanged).
"""

from __future__ import annotations

import datetime as dt
import os
import random
import zlib
from dataclasses import dataclass
from typing import List, Sequence

CHURN_BUCKETS = 30  # 1/30 removed, 1/30 changed, n // 30 added


def page_rows(ids, seed: int) -> List[dict]:
    from stackoverflowner_spark.sources.pages import synth_page

    return [synth_page(i, seed) for i in ids]


def recrawl_rows(n: int, seed: int) -> tuple:
    """(snapshot A rows, snapshot B rows) for ``seed``."""
    a = page_rows(range(n), seed)
    day = dt.timedelta(days=1)
    b = []
    for pid, row in enumerate(a):
        roll = zlib.crc32(f"{seed}:{pid}".encode()) % CHURN_BUCKETS
        if roll == 0:
            continue  # removed
        new = dict(row, warc_ts=row["warc_ts"] + day)
        if roll == 1:  # changed: another page's content
            donor = a[(pid + n // 2) % n]
            new.update(html=donor["html"], text=donor["text"],
                       lang=donor["lang"])
        b.append(new)
    b += page_rows(range(n, n + n // CHURN_BUCKETS), seed)  # added
    return a, b


def write_rows(rows: List[dict], path: str, files: int) -> str:
    """Parquet with the pages schema, ``files`` files of consecutive rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for k in range(0, len(rows), step):
        chunk = rows[k:k + step]
        table = pa.table({f.name: [r[f.name] for r in chunk] for f in schema},
                         schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k // step:05d}.parquet"))
    return path


def write_pages(n: int, seed: int, path: str, files: int) -> str:
    return write_rows(page_rows(range(n), seed), path, files)


def write_recrawl(n: int, seed: int, path_a: str, path_b: str,
                  files: int) -> tuple:
    """Write snapshots A and B; return their row counts."""
    a, b = recrawl_rows(n, seed)
    write_rows(a, path_a, files)
    write_rows(b, path_b, files)
    return len(a), len(b)


# ---------------------------------------------------------------- queries


@dataclass(frozen=True)
class Query:
    kind: str      # "point" | "bgp2" | "bgp3" | "agg"
    text: str      # SPARQL text, or the subject literal for "point"
    sql: str       # the same query for DuckDB over table ``t``


def _zipf(rng: random.Random, items: Sequence[str], s: float = 1.1) -> str:
    weights = [1.0 / (rank + 1) ** s for rank in range(len(items))]
    return rng.choices(items, weights=weights)[0]


def query_mix(seed: int, n: int, entities: Sequence[str],
              types: Sequence[str]) -> List[Query]:
    """``n`` queries: subject point lookups (40 %), two- and three-pattern
    BGP joins (25 % / 20 %) and GROUP BY aggregates (15 %). Subjects are
    Zipf-skewed over ``entities`` (ordered head first). Every BGP uses
    SELECT DISTINCT: the evidence table keeps one row per url."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        roll = rng.random()
        x = _zipf(rng, entities)
        if roll < 0.40:
            out.append(Query("point", x,
                             f"SELECT subj, pred, obj, url FROM t "
                             f"WHERE subj = '{x}'"))
        elif roll < 0.65:
            y = _zipf(rng, entities)
            out.append(Query(
                "bgp2",
                f'SELECT DISTINCT ?p WHERE {{ "{x}" mentioned_in ?p . '
                f'"{y}" mentioned_in ?p }}',
                f"SELECT DISTINCT a.obj AS p FROM t a JOIN t b "
                f"ON a.obj = b.obj WHERE a.subj = '{x}' "
                f"AND a.pred = 'mentioned_in' AND b.subj = '{y}' "
                f"AND b.pred = 'mentioned_in'"))
        elif roll < 0.85:
            typ = rng.choice(types)
            out.append(Query(
                "bgp3",
                f'SELECT DISTINCT ?e WHERE {{ "{x}" mentioned_in ?p . '
                f'?e mentioned_in ?p . ?e instance_of "{typ}" }}',
                f"SELECT DISTINCT b.subj AS e FROM t a "
                f"JOIN t b ON a.obj = b.obj "
                f"JOIN t c ON b.subj = c.subj "
                f"WHERE a.subj = '{x}' AND a.pred = 'mentioned_in' "
                f"AND b.pred = 'mentioned_in' AND c.pred = 'instance_of' "
                f"AND c.obj = '{typ}'"))
        else:
            typ = rng.choice(types)
            out.append(Query(
                "agg",
                f'SELECT ?e (COUNT(DISTINCT ?p) AS ?n) WHERE {{ '
                f'?e mentioned_in ?p . ?e instance_of "{typ}" }} GROUP BY ?e',
                f"SELECT a.subj AS e, COUNT(DISTINCT a.obj) AS n FROM t a "
                f"JOIN t c ON a.subj = c.subj WHERE a.pred = 'mentioned_in' "
                f"AND c.pred = 'instance_of' AND c.obj = '{typ}' "
                f"GROUP BY a.subj"))
    return out
