"""Stemming for the batch search analyzer (SURVEY §2.10 parity).

The reference's ES mapping defines an ``english_stemmer`` analyzer
(standard tokenizer → lowercase → porter_stem) for collection names
(/root/reference/research/learning-to-rank/populate.py:86-104). Two
public re-expressions here:

- ``SUFFIX_RULES`` + the ``suffix_pass_*`` one-pass appliers + the
  stabilized ``suffix_stem_py`` / ``apply_suffix_stem`` /
  ``suffix_stem_sql_select``: a fixed ordered first-match suffix table
  (the spirit of Porter steps 1/4 without the measure conditions),
  generated into a native Spark CASE chain, an identical DuckDB CASE
  chain, and a plain-Python applier from the SAME table — so search
  scoring is fully JVM-side AND fully oracled. It diverges from
  porter_stem where Porter's m-measure guards or multi-step chaining
  matter (e.g. "agreed": porter's eed-rule yields "agree", this table's
  ed-rule yields "agre"); divergences are pinned in
  tests/test_stemming.py.

  IDEMPOTENCE (r5 verdict #1): a finite one-pass suffix table cannot be
  closed under self-application — stripping a suffix can expose another
  strippable suffix, and chains like ``"aaa" + "ly"*k`` need unbounded
  iterations, so no finite set of combined rules fixes it. The public
  stemmers therefore use STABILIZE-OR-LEAVE semantics::

      r = pass(w);  return r if pass(r) == r else w

  which is idempotent by construction (a changed output is pinned stable
  by the guard; an unchanged output is trivially a fixpoint) and total,
  at the cost of leaving adversarial shapes (``aaalys``) whole. Measured
  against the pinned vocabularies (corpus vocabulary, divergence lists,
  rule-output shapes): ZERO real words change stem — only shapes whose
  one-pass output was itself unstable, i.e. exactly the words the old
  table mis-handled.
- ``porter_stem``: the complete original Porter algorithm (Porter, 1980,
  "An algorithm for suffix stripping" — public domain spec), for callers
  needing exact ES ``porter_stem`` token parity. Python-only; apply via
  functions/udfs.compute_on_distinct, never per-row in a hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Ordered first-match-wins suffix rules: (suffix, replacement,
#: min_remaining_stem_len). Longest/most-specific first. Shared verbatim
#: by the Spark expression, the oracle SQL, and the Python applier.
#:
#: Design constraint — ONE-PASS CONSISTENCY on real vocabulary: Porter
#: achieves plural/base agreement ("filters"/"filtered"/"filter" → one
#: stem) by running five sequential steps with m-measure guards; a
#: one-pass table can't chain rules, so every rule here is chosen such
#: that the inflected form and its base map to the SAME stem in one
#: application ("ers"→"er" rather than stripping "er" from the base;
#: "ies"→"y" to the base form rather than porter's "i"). The table alone
#: is NOT a fixpoint map over arbitrary strings (see module docstring);
#: the public stemmers wrap it in the stabilize-or-leave guard, and
#: stem(stem(x)) == stem(x) is pinned by a Hypothesis sweep.
SUFFIX_RULES: tuple[tuple[str, str, int], ...] = (
    ("ational", "ate", 2),
    ("ization", "ize", 2),
    ("iveness", "ive", 2),
    ("fulness", "ful", 2),
    ("ousness", "ous", 2),
    ("tional", "tion", 2),
    ("biliti", "ble", 2),
    ("ations", "ate", 2),
    ("ation", "ate", 2),
    ("sses", "ss", 2),
    ("xes", "x", 2),
    ("ches", "ch", 2),
    ("shes", "sh", 2),
    ("ness", "", 3),
    ("ments", "", 3),
    ("ment", "", 3),
    ("ings", "", 3),
    ("ing", "", 3),
    ("ies", "y", 2),  # to the BASE form (queries→query), not porter's "i" —
    #                   a y→i rule would re-fire on other rules' outputs
    #                   (payments→pay→"pai") and break idempotence
    ("edly", "", 3),
    ("ed", "", 3),
    ("ly", "", 3),
    ("ers", "er", 2),
    ("ss", "ss", 1),  # identity: keeps "-ss" words out of the "-s" rule
    ("ous", "ous", 1),  # identity: "-ous" adjectives (incl. the ousness
    #                     rule's own output) must not lose their s
    ("s", "", 2),
)


def suffix_pass_expr(col: Column) -> Column:
    """ONE application of the rule table as a native CASE chain (no UDF,
    codegen-friendly). Building block — not idempotent on its own; use
    ``apply_suffix_stem`` for the stabilized stem."""
    expr = None
    for sfx, repl, min_len in SUFFIX_RULES:
        cond = col.endswith(sfx) & (F.length(col) - len(sfx) >= min_len)
        stemmed = F.concat(
            F.substring(col, F.lit(1), F.length(col) - len(sfx)), F.lit(repl)
        )
        expr = F.when(cond, stemmed) if expr is None else expr.when(cond, stemmed)
    return expr.otherwise(col)


def suffix_pass_sql(var: str) -> str:
    """ONE application of the SAME rule table as a DuckDB CASE chain over
    SQL expression ``var`` — generated from one source so the engines
    cannot drift. Building block for ``suffix_stem_sql_select``."""
    branches = []
    for sfx, repl, min_len in SUFFIX_RULES:
        repl_sql = f" || '{repl}'" if repl else ""
        branches.append(
            f"WHEN ends_with({var}, '{sfx}') "
            f"AND length({var}) - {len(sfx)} >= {min_len} "
            f"THEN substr({var}, 1, length({var}) - {len(sfx)}){repl_sql}"
        )
    return "CASE " + " ".join(branches) + f" ELSE {var} END"


def _suffix_pass_py(word: str) -> str:
    for sfx, repl, min_len in SUFFIX_RULES:
        if word.endswith(sfx) and len(word) - len(sfx) >= min_len:
            return word[: -len(sfx)] + repl
    return word


def suffix_stem_py(word: str) -> str:
    """Stabilize-or-leave stem in Python (for stemming query terms
    driver-side): strip a suffix only if the result is itself fully
    stemmed, else leave the word whole. Idempotent and total."""
    r = _suffix_pass_py(word)
    return r if _suffix_pass_py(r) == r else word


def apply_suffix_stem(df: "DataFrame", src: str, dst: str) -> "DataFrame":
    """Stabilize-or-leave stem as a DataFrame transform: three NARROW
    projections (pass, pass-of-pass, guard) instead of one nested
    expression — a single inlined ``pass(pass(col))`` tree would be
    O(rules²) ≈ 10⁵ expression nodes and stall Catalyst/codegen; staged,
    each projection is linear in the rule table and CollapseProject keeps
    the heavily-referenced intermediate materialized (CaseWhen is not
    "cheap"). Fully JVM-side, no UDF."""
    p1, p2 = f"___{dst}_p1", f"___{dst}_p2"
    return (
        df.withColumn(p1, suffix_pass_expr(F.col(src)))
        .withColumn(p2, suffix_pass_expr(F.col(p1)))
        .withColumn(
            dst,
            F.when(F.col(p2) == F.col(p1), F.col(p1)).otherwise(F.col(src)),
        )
        .drop(p1, p2)
    )


def suffix_stem_sql_select(src_sql: str, var: str, out: str, cols: str = "") -> str:
    """Stabilize-or-leave stem in DuckDB SQL, staged exactly like
    ``apply_suffix_stem``: returns a SELECT over relation ``src_sql``
    (any SQL producing columns ``cols`` + ``var``) yielding ``cols`` plus
    the stemmed ``out``. Staging keeps the SQL text linear in the rule
    table (an inlined pass-of-pass would be ~400 KB)."""
    sel = f"{cols}, " if cols else ""
    return (
        f"SELECT {sel}CASE WHEN __s2 = __s1 THEN __s1 ELSE {var} END AS {out}"
        f" FROM (SELECT {sel}{var}, __s1, {suffix_pass_sql('__s1')} AS __s2"
        f" FROM (SELECT {sel}{var}, {suffix_pass_sql(var)} AS __s1"
        f" FROM ({src_sql})))"
    )


# ---------------------------------------------------------------------------
# Full Porter (1980) — exact ES porter_stem parity for Python-side callers.
# ---------------------------------------------------------------------------

_VOWELS = "aeiou"


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """m = number of VC sequences in the [C](VC)^m[V] form."""
    m, prev_cons = 0, True
    started_vowel = False
    for i in range(len(stem)):
        cons = _is_cons(stem, i)
        if not cons:
            started_vowel = True
        elif started_vowel:
            m += 1
            started_vowel = False
        prev_cons = cons  # noqa: F841 — clarity
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_cons(word, len(word) - 1)
    )


def _cvc(word: str) -> bool:
    """*o condition: stem ends cvc where the final c is not w, x or y."""
    if len(word) < 3:
        return False
    return (
        _is_cons(word, len(word) - 3)
        and not _is_cons(word, len(word) - 2)
        and _is_cons(word, len(word) - 1)
        and word[-1] not in "wxy"
    )


def porter_stem(word: str) -> str:  # noqa: C901 — the algorithm is a table
    """Original Porter stemmer (Porter 1980), steps 1a–5b."""
    w = word.lower()
    if len(w) <= 2:
        return w

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif (w.endswith("ed") and _has_vowel(w[:-2])) or (
        w.endswith("ing") and _has_vowel(w[:-3])
    ):
        w = w[:-2] if w.endswith("ed") else w[:-3]
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif _ends_double_cons(w) and w[-1] not in "lsz":
            w = w[:-1]
        elif _measure(w) == 1 and _cvc(w):
            w += "e"

    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # step 2
    for sfx, repl in (
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
        ("anci", "ance"), ("izer", "ize"), ("abli", "able"),
        ("alli", "al"), ("entli", "ent"), ("eli", "e"), ("ousli", "ous"),
        ("ization", "ize"), ("ation", "ate"), ("ator", "ate"),
        ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
        ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"),
        ("biliti", "ble"),
    ):
        if w.endswith(sfx):
            if _measure(w[: -len(sfx)]) > 0:
                w = w[: -len(sfx)] + repl
            break

    # step 3
    for sfx, repl in (
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ):
        if w.endswith(sfx):
            if _measure(w[: -len(sfx)]) > 0:
                w = w[: -len(sfx)] + repl
            break

    # step 4
    for sfx in (
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
        "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive",
        "ize",
    ):
        if w.endswith(sfx):
            stem = w[: -len(sfx)]
            if sfx == "ion" and (not stem or stem[-1] not in "st"):
                break
            if _measure(stem) > 1:
                w = stem
            break

    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem
    # step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w
