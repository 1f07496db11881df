"""Output checks that need no Spark: planted-pair recall/precision at
cluster level, the token dedup ratio, and the order-free hash fold used by
the result fingerprint."""

from __future__ import annotations

from collections import Counter

from .corpus import Truth

MASK64 = (1 << 64) - 1


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def recall_precision(assign: dict[str, object], truth: Truth) -> tuple[float, float]:
    """Pair recall and precision of a cluster assignment against the
    planted groups.

    A planted pair is two documents of one planted group (originals, near
    variants and exact copies alike); a predicted pair is two documents
    that share a cluster id. Counted from cell sizes, not pair sets, so the
    cost is linear in the number of documents.
    """
    missing = set(truth.group) - set(assign)
    if missing:
        raise ValueError(f"{len(missing)} documents have no cluster, e.g. {sorted(missing)[:3]}")
    clusters = Counter(assign[n] for n in truth.group)
    groups = Counter(g for g in truth.group.values() if g >= 0)
    cells = Counter((assign[n], g) for n, g in truth.group.items() if g >= 0)
    predicted = sum(_pairs(c) for c in clusters.values())
    planted = sum(_pairs(c) for c in groups.values())
    hit = sum(_pairs(c) for c in cells.values())
    recall = hit / planted if planted else 1.0
    precision = hit / predicted if predicted else 1.0
    return recall, precision


def dedup_ratio(assign: dict[str, object], truth: Truth, inserted_tokens: int) -> float:
    """Raw tokens over stored tokens: every document whose cluster id is
    itself (representatives and singletons) is stored whole, every other
    member costs only the tokens its span instructions insert."""
    raw = sum(truth.tokens.values())
    stored = sum(t for n, t in truth.tokens.items() if assign[n] == n) + inserted_tokens
    return raw / stored


def fold64(hashes) -> int:
    """Order-independent fold of signed 64-bit hashes (sum mod 2**64)."""
    return sum(int(h) & MASK64 for h in hashes) & MASK64


def xxhash_fold(df, *cols) -> int:
    """``fold64`` of Spark's ``xxhash64(*cols)`` over every row of ``df``."""
    from pyspark.sql import functions as F

    return fold64(r[0] for r in df.select(F.xxhash64(*cols)).collect())
