"""Seeded input generator owned by the benchmark.

Everything here is a pure function of its arguments (stdlib ``random`` only)
and imports nothing from the package under test, so a change to the program
can never change the benchmark's inputs.  The shapes follow FIXTURES.md:

* ``webpages``: ``(url, warc_ts, html, text, lang)`` rows in planted
  near-duplicate families, with hard negatives (pages that copy half of
  another family's text but are a different entity), one hot boilerplate
  block and a few null or blank texts.  ``family`` maps each url to its
  planted entity; null and blank pages belong to no family.
* ``catalog``: LOINC-style rows ``(LOINC_NUM, LONG_COMMON_NAME, COMPONENT,
  CLASS)`` with distinct names.
* ``queries_labeled``: ``(loinc code, department name, test description)``
  rows, each a noisy rewrite of one catalog row (the gold answer).
* ``split_days``: the day-1 / day-2 split of a webpages corpus.
"""

from __future__ import annotations

import datetime
import random
from dataclasses import dataclass

_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_EPOCH = datetime.datetime(2024, 1, 1)
_BOILERPLATE = (
    "copyright example network all rights reserved terms of use privacy "
    "policy cookie settings contact us sitemap accessibility statement"
)
_LANGS = ("en", "en", "en", "en", "es", "de", "fr")


def _words(rng: random.Random, n: int, lo: int, hi: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(_LETTERS) for _ in range(rng.randint(lo, hi))))
    return sorted(out)


# One fixed vocabulary for every seed: the seed varies the documents, not
# the language they are written in.
_VOCAB = _words(random.Random(0x5EED), 6000, 4, 10)
# Zipf-like weights: a few very common words, a long tail.
_CUM_WEIGHTS = []
_acc = 0.0
for _rank in range(len(_VOCAB)):
    _acc += 1.0 / (_rank + 1) ** 0.9
    _CUM_WEIGHTS.append(_acc)


@dataclass(frozen=True)
class PagesSpec:
    n_pages: int
    words: int = 60            # words per base page
    max_family: int = 6        # family sizes are 1..max_family
    noise: float = 0.25        # share of variants that get heavy edits
    hard_negative_rate: float = 0.1
    boilerplate_rows: int = 30  # one hot block of identical pages
    null_rows: int = 4         # half None, half blank


@dataclass
class Pages:
    rows: list[tuple]          # (url, warc_ts, html, text, lang)
    family: dict[str, int]     # url -> planted entity, text-bearing pages only
    hard_negatives: list[tuple[str, str]]


def _base_text(rng: random.Random, n: int) -> list[str]:
    return rng.choices(_VOCAB, cum_weights=_CUM_WEIGHTS, k=n)


def _edit(rng: random.Random, words: list[str], heavy: bool) -> list[str]:
    """Near-duplicate edits: token swaps, drops, abbreviations, casing.  A
    heavy variant rewrites about a third of its words, so some planted pairs
    fall below any sensible match threshold and recall sits below 1."""
    words = list(words)
    n_edits = max(1, len(words) // 3) if heavy else rng.randint(1, 3)
    for _ in range(n_edits):
        op = rng.randrange(5 if heavy else 4)
        i = rng.randrange(len(words))
        if op == 0 and len(words) > 1:
            j = min(i + 1, len(words) - 1)
            words[i], words[j] = words[j], words[i]
        elif op == 1 and len(words) > 2:
            del words[i]
        elif op == 2:
            words[i] = words[i][: rng.randint(2, 4)]
        elif op == 3:
            words[i] = words[i].upper() if rng.random() < 0.5 else words[i].capitalize()
        else:
            words[i] = rng.choices(_VOCAB, cum_weights=_CUM_WEIGHTS)[0]
    return words


def webpages(seed: int, spec: PagesSpec) -> Pages:
    rng = random.Random(seed)
    texts: list[tuple[int, str]] = []   # (family, text)
    bases: list[list[str]] = []
    hard_pairs: list[tuple[int, int]] = []  # (family, family) planted negatives
    budget = spec.n_pages - spec.boilerplate_rows - spec.null_rows
    while len(texts) < budget:
        fam = len(bases)
        if bases and rng.random() < spec.hard_negative_rate:
            # a different entity that shares the first half of another's text
            other = rng.randrange(len(bases))
            half = len(bases[other]) // 2
            base = bases[other][:half] + _base_text(rng, spec.words - half)
            hard_pairs.append((other, fam))
        else:
            base = _base_text(rng, spec.words)
        bases.append(base)
        size = min(rng.randint(1, spec.max_family), budget - len(texts))
        texts.append((fam, " ".join(base)))
        for _ in range(size - 1):
            variant = _edit(rng, base, heavy=rng.random() < spec.noise)
            texts.append((fam, " ".join(variant)))
    boiler_fam = len(bases)
    texts.extend((boiler_fam, _BOILERPLATE) for _ in range(spec.boilerplate_rows))
    texts.extend((-1, None if i % 2 == 0 else "   ") for i in range(spec.null_rows))
    rng.shuffle(texts)

    rows: list[tuple] = []
    family: dict[str, int] = {}
    first_url: dict[int, str] = {}
    for i, (fam, text) in enumerate(texts):
        url = f"https://s{rng.randrange(97):02d}.example.org/p/{seed}/{i:07d}"
        ts = _EPOCH + datetime.timedelta(seconds=rng.randrange(86400 * 365))
        html = b"" if text is None else f"<html><body><p>{text}</p></body></html>".encode()
        rows.append((url, ts, html, text, rng.choice(_LANGS)))
        if fam >= 0:
            family[url] = fam
            first_url.setdefault(fam, url)
    negatives = [
        tuple(sorted((first_url[a], first_url[b]))) for a, b in hard_pairs
    ]
    return Pages(rows=rows, family=family, hard_negatives=negatives)


def split_days(seed: int, pages: Pages, day2_share: float) -> tuple[list[tuple], list[tuple]]:
    """Random page-level split: some day-2 pages join day-1 families, some
    start new ones."""
    rng = random.Random(seed * 7919 + 1)
    day1, day2 = [], []
    for row in pages.rows:
        (day2 if rng.random() < day2_share else day1).append(row)
    return day1, day2


# ---------------------------------------------------------------------------
# LOINC-style catalog and labelled queries
# ---------------------------------------------------------------------------

_PROPERTIES = (
    "Mass/volume", "Moles/volume", "Presence", "Number/volume", "Titer",
    "Catalytic activity/volume", "Ratio", "Mass/time", "Arbitrary concentration",
)
_SYSTEMS = (
    "Serum or Plasma", "Urine", "Blood", "Cerebral spinal fluid", "Stool",
    "Saliva", "Body fluid", "Arterial blood", "Capillary blood",
)
_METHODS = (
    "", "by Automated count", "by Manual count", "by Immunoassay",
    "by Test strip", "by Electrophoresis", "by Culture", "by Probe and target amplification",
)
_CLASSES = ("CHEM", "HEM/BC", "MICRO", "UA", "SERO", "DRUG/TOX", "COAG")
_DEPARTMENTS = (
    "Chemistry", "Hematology", "Microbiology", "Urinalysis", "Serology",
    "Toxicology", "Coagulation", "Core lab",
)
_ANALYTES = _words(random.Random(0xA11E), 900, 5, 12)


def catalog(seed: int, n: int) -> list[tuple]:
    """-> rows (LOINC_NUM, LONG_COMMON_NAME, COMPONENT, CLASS), distinct names."""
    rng = random.Random(seed * 31 + 7)
    rows, seen = [], set()
    while len(rows) < n:
        component = " ".join(rng.sample(_ANALYTES, rng.randint(1, 2)))
        name = (
            f"{component.capitalize()} [{rng.choice(_PROPERTIES)}] in "
            f"{rng.choice(_SYSTEMS)} {rng.choice(_METHODS)}"
        ).strip()
        if name in seen:
            continue
        seen.add(name)
        num = len(rows) + 10000
        rows.append((f"{num}-{num % 9}", name, component, rng.choice(_CLASSES)))
    return rows


def _noisy(rng: random.Random, text: str) -> str:
    words = text.replace("[", " ").replace("]", " ").split()
    out = []
    for w in words:
        r = rng.random()
        if r < 0.15 and len(words) > 3:
            continue                      # drop
        if r < 0.30 and len(w) > 4:
            w = w[: rng.randint(3, 4)]    # abbreviate
        elif r < 0.40 and len(w) > 3:
            i = rng.randrange(len(w))     # typo
            w = w[:i] + rng.choice(_LETTERS) + w[i + 1:]
        out.append(w.lower() if rng.random() < 0.7 else w.upper())
    if len(out) > 2 and rng.random() < 0.5:
        i = rng.randrange(len(out) - 1)
        out[i], out[i + 1] = out[i + 1], out[i]
    return " ".join(out)


def queries_labeled(seed: int, cat: list[tuple], n: int) -> list[tuple]:
    """-> rows (loinc code, department name, test description); each query
    rewrites a distinct catalog row, whose LOINC_NUM is the gold answer."""
    rng = random.Random(seed * 131 + 3)
    picks = rng.sample(range(len(cat)), n)
    return [
        (cat[i][0], rng.choice(_DEPARTMENTS), _noisy(rng, cat[i][1])) for i in picks
    ]
