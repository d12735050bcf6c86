"""Seeded synthetic knowledge graph for the ``etl_daily`` workload.

Builds the inputs of ``plans.pipeline.run_pipeline`` for two consecutive
days, and the ground truth the pipeline's output is checked against. Every
choice is a hash bucket of (seed, entity, salt), computed column-wise with
numpy and written with pyarrow, so generating the corpus starts no JVM and
takes about a second.

Day 1:
- a 50-class, depth-5 subclass ontology (every chain ends in one root);
- ``CATEGORIES`` categories and ``LISTS`` "List of" articles, each typed by
  one class at a hashed depth; ``DORMANT`` more categories exist in the
  triples and the title mapping but have no members yet;
- ``members`` member pages. Two thirds belong to category 0, the hot
  collection, which at 16k members puts it above the 10k-member P11 cap;
  the rest are spread over the other categories. A member is valid when its
  class is its collection's class; 20% of all members (all outside the hot
  collection) are planted invalid. 10% of members are also linked from a
  list page (80% of those links valid).

Day 1 is the same for every run (``BASE_SEED``); the run's seed draws the
day-2 change. Day 2 changes only member edges, so the title corpus (and
with it the language model) is unchanged and untouched collections must
diff as ``noop``: 2% of categories and lists lose a third of their edges
(``update``), 0.5% of categories and 1% of lists lose all of them
(``archive``), the dormant categories gain members (``insert``), and the
hot collection loses 5% of its edges.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = 1_000
DORMANT = 10
LISTS = 200
CLASSES, DEPTH = 50, 5
# 2 in 3 members sit in the hot collection, all valid there; 3 in 5 of the
# others are invalid, which makes 20% of all members invalid
HOT_IN_3, BAD_IN_5 = 2, 3

WD = "<http://www.wikidata.org/entity/"
WP = "<https://en.wikipedia.org/wiki/"
P31 = "<http://www.wikidata.org/prop/direct/P31>"
P279 = "<http://www.wikidata.org/prop/direct/P279>"
P360 = "<http://www.wikidata.org/prop/direct/P360>"
P4224 = "<http://www.wikidata.org/prop/direct/P4224>"
ABOUT = "<http://schema.org/about>"
LABEL = "<http://www.w3.org/2000/01/rdf-schema#label>"

CAT_QID0, LIST_QID0, MEMBER_QID0, CLASS_QID0 = 1_000_000, 2_000_000, 10_000_000, 5_000_000
ROOT_QID = 5_999_999
CAT_PAGE0, LIST_PAGE0 = 3_000_000, 4_000_000
HOT_QID = f"Q{CAT_QID0}"
STATUSES = ("taken", "available", "on_sale", "recently_released")
BASE_SEED = 0
BASE_TABLES = ("mapping", "qrank", "domains", "day1/categorylinks", "day1/pagelinks")


def _h(seed: int, ids: np.ndarray, salt: int, mod: int) -> np.ndarray:
    """Deterministic bucket in [0, mod) of (seed, id, salt): splitmix64."""
    with np.errstate(over="ignore"):
        x = np.asarray(ids).astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + np.uint64(
            (seed * 1_000_003 + salt * 7_919) & 0xFFFFFFFFFFFFFFFF
        )
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return (x % np.uint64(mod)).astype(np.int64)


def _cls_qid(cls: int, depth: int) -> int:
    return CLASS_QID0 + cls * 10 + depth


def build(seed: int, members: int) -> dict:
    """Every table (pyarrow), the N-Triples lines and the truth: day 1
    from ``BASE_SEED``, the day-2 change from ``seed``."""
    base, m = BASE_SEED, np.arange(members)
    cat = np.where(_h(base, m, 3, 3) < HOT_IN_3, 0, 1 + _h(base, m, 4, CATEGORIES - 1))
    bad = (_h(base, m, 5, 5) < BAD_IN_5) & (cat != 0)
    cls = np.where(bad, (cat + 7) % CLASSES, cat % CLASSES)
    c = np.arange(CATEGORIES + DORMANT)
    c_depth = _h(base, c, 1, DEPTH)
    lst = np.arange(LISTS)
    l_depth = _h(base, lst, 2, DEPTH)

    # ---- member edges per day, as (member ids, collection index) columns
    dormant_m = m[_h(seed, m, 13, 200) == 0]
    dormant_c = CATEGORIES + _h(seed, dormant_m, 14, DORMANT)
    removed_c = _h(seed, cat, 9, 200) == 0
    perturbed_c = _h(seed, cat, 10, 50) == 0
    keep2 = np.where(
        cat == 0,
        _h(seed, m, 12, 20) != 0,
        ~removed_c & ~(perturbed_c & (_h(seed, m, 11, 3) == 0)),
    )
    cat_edges = {
        "day1": (m, cat),
        "day2": (np.concatenate([m[keep2], dormant_m]), np.concatenate([cat[keep2], dormant_c])),
    }
    linked = m[_h(base, m, 6, 10) == 0]
    lcls = np.where(_h(base, linked, 8, 5) != 0, cls[linked], (cls[linked] + 7) % CLASSES)
    lnk = lcls + CLASSES * _h(base, linked, 7, LISTS // CLASSES)
    keep_l = (_h(seed, lnk, 17, 100) != 0) & ~(
        (_h(seed, lnk, 15, 50) == 0) & (_h(seed, linked, 16, 3) == 0)
    )
    list_edges = {"day1": (linked, lnk), "day2": (linked[keep_l], lnk[keep_l])}

    # ---- truth: per collection and day, valid and invalid member counts
    # and a digest of the member set
    collections: dict[str, dict] = {}
    for day in ("day1", "day2"):
        for (mm, coll), qid0 in ((cat_edges[day], CAT_QID0), (list_edges[day], LIST_QID0)):
            valid = cls[mm] == coll % CLASSES
            order = np.lexsort((mm, coll))
            mm, coll, valid = mm[order], coll[order], valid[order]
            keys, starts = np.unique(coll, return_index=True)
            for k, lo, hi in zip(keys.tolist(), starts, [*starts[1:], len(coll)]):
                collections.setdefault(f"Q{qid0 + k}", {})[day] = [
                    int(valid[lo:hi].sum()),
                    int(hi - lo - valid[lo:hi].sum()),
                    hash(tuple(mm[lo:hi].tolist())),
                ]

    ent = lambda q: f"{WD}Q{q}>"  # noqa: E731
    nt = [
        f"{ent(_cls_qid(k, d))} {P279} "
        f"{ent(_cls_qid(k, d + 1) if d + 1 < DEPTH else ROOT_QID)} ."
        for k in range(CLASSES)
        for d in range(DEPTH)
    ]
    for i, d in zip(c.tolist(), c_depth.tolist()):
        q = CAT_QID0 + i
        nt += [
            f"{ent(q)} {P4224} {ent(_cls_qid(i % CLASSES, d))} .",
            f"{WP}Category:Topic_{i}> {ABOUT} {ent(q)} .",
            f'{ent(q)} {LABEL} "Category:Topic {i}"@en .',
        ]
    for j, d in zip(lst.tolist(), l_depth.tolist()):
        q = LIST_QID0 + j
        nt += [
            f"{ent(q)} {P360} {ent(_cls_qid(j % CLASSES, d))} .",
            f"{WP}List_of_Gadgets_{j}> {ABOUT} {ent(q)} .",
        ]
    for i, k in zip(m.tolist(), cls.tolist()):
        nt += [
            f"{WP}Page_{i}> {ABOUT} {ent(MEMBER_QID0 + i)} .",
            f"{ent(MEMBER_QID0 + i)} {P31} {ent(_cls_qid(k, 0))} .",
        ]

    ranked = m[_h(base, m, 18, 3) == 0]
    named = m[_h(base, m, 21, 7) == 0]
    tables = {
        "mapping": pa.table({
            "title": [f"Page {i}" for i in m.tolist()]
            + [f"Category:Topic {i}" for i in c.tolist()]
            + [f"List of Gadgets {j}" for j in lst.tolist()],
            "wikipedia_id": np.concatenate([m + 1, CAT_PAGE0 + c, LIST_PAGE0 + lst]),
            "qid": [f"Q{MEMBER_QID0 + i}" for i in m.tolist()]
            + [f"Q{CAT_QID0 + i}" for i in c.tolist()]
            + [f"Q{LIST_QID0 + j}" for j in lst.tolist()],
        }),
        "qrank": pa.table({
            "id": [f"Q{MEMBER_QID0 + i}" for i in ranked.tolist()]
            + [f"Q{CAT_QID0 + i}" for i in c.tolist()],
            "rank": np.concatenate(
                [1 + _h(base, ranked, 19, 100_000), 1 + _h(base, c, 20, 1_000)]
            ),
        }),
        "domains": pa.table({
            "name": [f"page{i}" for i in named.tolist()],
            "status": [STATUSES[s] for s in _h(base, named, 22, len(STATUSES)).tolist()],
        }),
    }
    for day in ("day1", "day2"):
        (cm, cc), (lm, ll) = cat_edges[day], list_edges[day]
        tables[f"{day}/categorylinks"] = pa.table({
            "cl_from": cm + 1, "cl_to": [f"Topic_{k}" for k in cc.tolist()],
        })
        tables[f"{day}/pagelinks"] = pa.table({
            "pl_from": LIST_PAGE0 + ll, "pl_title": [f"Page_{i}" for i in lm.tolist()],
        })
    truth = {"members": members, "hot": HOT_QID, "collections": collections}
    return {"nt": nt, "tables": tables, "truth": truth}


def write_base(members: int, out: str) -> None:
    """Write day 1 under ``out``: ``nt/`` (text) and one parquet directory
    per table in ``BASE_TABLES``."""
    corpus = build(BASE_SEED, members)
    os.makedirs(os.path.join(out, "nt"), exist_ok=True)
    nt = corpus["nt"]
    for part in range(4):  # a few files, so the parser reads in parallel
        with open(os.path.join(out, "nt", f"part-{part:05d}.nt"), "w") as f:
            f.write("\n".join(nt[part::4]) + "\n")
    for name in BASE_TABLES:
        os.makedirs(os.path.join(out, name), exist_ok=True)
        pq.write_table(corpus["tables"][name], os.path.join(out, name, "part-00000.parquet"))


def write_day2(seed: int, members: int, out: str) -> None:
    """Write the day-2 member edges drawn by ``seed`` under ``out/day2``,
    and ``truth.json`` for both days."""
    corpus = build(seed, members)
    for name in ("day2/categorylinks", "day2/pagelinks"):
        os.makedirs(os.path.join(out, name), exist_ok=True)
        pq.write_table(corpus["tables"][name], os.path.join(out, name, "part-00000.parquet"))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(corpus["truth"], f)
