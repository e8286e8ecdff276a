"""Order-independent digest of a triple table.

``(rows, sum of xxhash64(subj, pred, obj, url) mod 2**64)``: addition
commutes, so the digest does not depend on row order, partitioning or file
layout, and any added, dropped, duplicated or altered row changes it.
"""

from __future__ import annotations

from typing import Tuple

DIGEST_COLS = ("subj", "pred", "obj", "url")

Digest = Tuple[int, int]


def triples_digest(df) -> Digest:
    """Digest of a Spark DataFrame with the triple columns. Hashes are
    summed as decimals, so the sum cannot overflow under ANSI mode."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*DIGEST_COLS).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).first()
    return int(row["n"]), int(row["s"] or 0) % (1 << 64)

