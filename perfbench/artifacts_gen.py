"""Seeded generator of raw Harvard-Art-Museums-shaped artifact records.

Every record is a pure function of ``(seed, id, block)``, so an id that is
delivered again in a later batch carries an identical record. Records fill
the whole ``RAW_ARTIFACT`` field set, including the shapes the ETL must
handle: fields that are missing and fields that are NULL, descriptions
longer than 500 characters, NaN and +-inf color percents, and records with
no colors and with more than five. Ids on a fixed residue get a showcase
shape so that every one of the 20 reference templates returns rows on any
id range of at least ``SHOWCASE_EVERY`` records.
"""

from __future__ import annotations

import random

PAGE_SIZE = 100
SHOWCASE_EVERY = 97
CLASSIFICATIONS = ("Coins", "Paintings", "Sculpture", "Jewelry", "Drawings")
CULTURES = ("Byzantine", "Greek", "Roman", "Egyptian", "Chinese", "French", "Persian")
CENTURIES = ("11th century", "5th century BCE", "16th century", "19th century", "2nd century")
PERIODS = ("Archaic period", "Classical period", "Hellenistic period",
           "Middle Byzantine period", "Ming dynasty", "Late Archaic")
MEDIUMS = ("Bronze", "Oil on canvas", "Marble", "Gold", "Ink on paper", "Silver")
DEPARTMENTS = ("Department of Coins", "Department of Paintings",
               "Department of Sculpture", "Department of Prints", "Asian Art")
METHODS = ("Gift", "Purchase", "Bequest", "Transfer")
HUES = ("Grey", "Red", "Blue", "Brown", "Yellow", "Green", "Black", "White", "Orange")
COLORS = tuple(f"#{v:06x}" for v in (0x1A1A1A, 0x323232, 0x4B4B4B, 0x646464,
                                     0x7D1E1E, 0x1E327D, 0xC8A050, 0xE1E1E1,
                                     0x32643C, 0xAF7D4B, 0x963232, 0x4B4BAF))
WORDS = ("bronze", "coin", "obverse", "reverse", "emperor", "portrait", "inscription",
         "gilded", "landscape", "figure", "relief", "vessel", "fragment", "border")


def _field(rng: random.Random, rec: dict, key: str, value) -> None:
    """Set ``key`` to ``value``, to None (4%) or leave it missing (6%)."""
    r = rng.random()
    if r < 0.04:
        rec[key] = None
    elif r >= 0.10:
        rec[key] = value


def _percent(rng: random.Random):
    r = rng.random()
    if r < 0.03:
        return float("nan")
    if r < 0.045:
        return float("inf")
    if r < 0.06:
        return float("-inf")
    if r < 0.08:
        return None
    return round(rng.random(), 6)


def _colors(rng: random.Random, n: int) -> list[dict]:
    out = []
    for _ in range(n):
        c: dict = {}
        _field(rng, c, "spectrum", rng.choice(COLORS))
        _field(rng, c, "hue", rng.choice(HUES))
        # skewed color frequency so the top-k template has a clear head
        c["color"] = COLORS[min(int(rng.expovariate(0.35)), len(COLORS) - 1)]
        c["percent"] = _percent(rng)
        _field(rng, c, "css3", rng.choice(COLORS))
        out.append(c)
    return out


def artifact(seed: int, i: int, block: int) -> dict:
    """The raw record for object id ``i``; ``block`` ids share a classification."""
    rng = random.Random(f"artifact:{seed}:{i}")
    rec: dict = {"id": i}
    _field(rng, rec, "title", f"{rng.choice(WORDS).title()} object {i}")
    _field(rng, rec, "culture", rng.choice(CULTURES))
    _field(rng, rec, "period", rng.choice(PERIODS))
    _field(rng, rec, "century", rng.choice(CENTURIES))
    _field(rng, rec, "medium", rng.choice(MEDIUMS))
    _field(rng, rec, "dimensions", f"{rng.randint(1, 90)} x {rng.randint(1, 90)} cm")
    if rng.random() < 0.25:
        n_words = rng.randint(80, 160)  # > 500 characters: exercises truncation
    else:
        n_words = rng.randint(3, 40)
    _field(rng, rec, "description", " ".join(rng.choice(WORDS) for _ in range(n_words)))
    _field(rng, rec, "department", rng.choice(DEPARTMENTS))
    rec["classification"] = CLASSIFICATIONS[(i // block) % len(CLASSIFICATIONS)]
    _field(rng, rec, "accessionyear", rng.randint(1890, 2020))
    _field(rng, rec, "accessionmethod", rng.choice(METHODS))
    _field(rng, rec, "imagecount", rng.choice((0, 0, 1, 1, 2, 3, 5)))
    _field(rng, rec, "mediacount", rng.choice((0, 0, 0, 1, 2, 4)))
    _field(rng, rec, "colorcount", rng.randint(0, 9))
    _field(rng, rec, "rank", rng.randint(0, 100))
    begin = rng.randint(-600, 1950)
    _field(rng, rec, "datebegin", begin)
    _field(rng, rec, "dateend", begin + rng.randint(0, 120))
    r = rng.random()
    if r < 0.08:
        pass  # no colors key at all
    elif r < 0.12:
        rec["colors"] = []
    elif r < 0.24:
        rec["colors"] = _colors(rng, rng.randint(6, 9))  # above the cap of 5
    else:
        rec["colors"] = _colors(rng, rng.randint(1, 5))
    if i % SHOWCASE_EVERY == 0:
        rec.update(culture="Byzantine", century="11th century", period="Late Archaic",
                   accessionyear=1950, imagecount=3, mediacount=0, colorcount=4,
                   rank=5, datebegin=1550, dateend=1580)
        rec["colors"] = [{"spectrum": "#1a1a1a", "hue": "Grey", "color": COLORS[0],
                          "percent": 0.5, "css3": "#1a1a1a"}] + rec.get("colors", [])[:4]
    return rec


def records(seed: int, ids: range, block: int) -> list[dict]:
    return [artifact(seed, i, block) for i in ids]


def page_fetcher(recs: list[dict]):
    """A ``sources.rest.PageFetcher`` serving pre-built records, 100 a page.

    The records are generated before the fetcher is handed to the program,
    so generation time never counts towards the program's timings.
    """
    def fetch_page(page: int) -> list[dict]:
        start = (page - 1) * PAGE_SIZE
        return recs[start:start + PAGE_SIZE]

    return fetch_page
