"""Ranking / scoring scalar functions (SURVEY §2.7 F5-F10).

- member sort key  (F5, create_merged.py:884-886) and the ordered-collect
  aggregate every stage regroups its arrays with
- rank clamps      (F6, create_merged.py:871, :966-977; MIN_VALUE 1e-8 :41)
- avatar emoji / banner image deterministic-random choice (F7/F8,
  create_merged.py:849-856, :898-899) — CPython's ``random.seed(str)``
  is reproduced EXACTLY by using CPython's random module inside the UDF;
  no Mersenne-Twister re-implementation needed.
- interesting score / name log-probability (F9/F10) — the NameRank model
  is external and unavailable; ``interesting_score_stub`` /
  ``log_probability_stub`` are clearly-marked deterministic stand-ins with
  the same signature, swapped out via constructor injection when the real
  model is importable.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MIN_VALUE = 1e-8  # create_merged.py:41


def member_sort_key(rank: Column, curated: Column) -> Column:
    """log2(rank+1) / max(len(curated), 10) — the canonical display order."""
    return F.log2(rank + F.lit(1)) / F.greatest(F.length(curated), F.lit(10))


def ordered_list(value: Column, *order: Column) -> Column:
    """Aggregate: ``collect_list(value)`` ordered by ``order`` ascending,
    ties broken by the value itself; null values are dropped, as
    ``collect_list`` drops them."""
    keys = [o.alias(f"k{i}") for i, o in enumerate(order)]
    pairs = F.collect_list(
        F.when(value.isNotNull(), F.struct(*keys, value.alias("v")))
    )
    return F.transform(F.array_sort(pairs), lambda s: s["v"])


def clamp_min(col: Column, minimum: float = MIN_VALUE) -> Column:
    return F.greatest(col, F.lit(minimum))


def member_sort_key_py(rank: int | None, curated: str) -> float:
    r = rank or 0
    return math.log(r + 1, 2) / max(len(curated), 10)


def banner_image(collection_item: str) -> str:
    """tc-NN.png with NN = randint(0,19) seeded by the collection QID —
    byte-parity with the reference via CPython random (F8)."""
    rnd = random.Random()
    rnd.seed(collection_item)
    return f"tc-{rnd.randint(0, 19):02d}.png"


def avatar_emoji(
    collection_item: str,
    type_names: list[str],
    emoji_sets: dict[str, list[str]],
    emoji_counts: dict[str, int],
    other_emojis: list[str],
) -> str:
    """Least-popular-type emoji choice, seeded by collection id (F7,
    create_merged.py:849-856)."""
    ordered = sorted(type_names, key=lambda t: emoji_counts.get(t, float("inf")))
    rnd = random.Random()
    rnd.seed(collection_item)
    if ordered and ordered[0] in emoji_sets:
        return rnd.choice(emoji_sets[ordered[0]])
    return rnd.choice(other_emojis)


def interesting_score_stub(label: str) -> tuple[float | None, list[str]]:
    """Deterministic stand-in for NameRank.inspect_label (F10).

    NOT the real model: scores by length/character balance so downstream
    plumbing (nullable double + tokenization passthrough) is exercised.
    Returns (score, tokenization) like the reference; errors → (None, []).
    """
    if not label:
        return None, []
    alpha = sum(c.isalpha() for c in label)
    score = round(min(alpha / max(len(label), 1), 1.0) * min(len(label) / 12, 1.0), 6)
    return score, [label]


def log_probability_stub(tokens: list[str]) -> float:
    """Deterministic stand-in for the ngram sequence_log_probability (F9):
    length-penalized pseudo log-prob, strictly negative like the real one."""
    if not tokens:
        return -20.0
    return round(-sum(1.0 + 0.25 * len(t) for t in tokens), 6)
