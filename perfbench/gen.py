"""Seeded input generators with ground truth.

Each generator is a pure function of its seed and size: the same
arguments give the same records, and the ground truth the output checks
need is computed from the records themselves, never from the engine.
"""

from __future__ import annotations

import itertools
import json
import random
import re
from dataclasses import dataclass

# ---------------------------------------------------------------- medallion

STATES = {
    "United States": [
        "Alabama", "Alaska", "Arizona", "California", "Colorado", "Florida",
        "Georgia", "Idaho", "Illinois", "Indiana", "Iowa", "Kansas",
        "Kentucky", "Maine", "Maryland", "Michigan", "Minnesota", "Missouri",
        "Montana", "Nebraska", "Nevada", "New York", "North Carolina", "Ohio",
        "Oregon", "Pennsylvania", "Texas", "Utah", "Vermont", "Virginia",
        "Washington", "Wisconsin",
    ],
    "Ireland": ["Dublin", "Cork", "Galway", "Kerry"],
    "England": ["Kent", "Devon", "Yorkshire", "Cornwall"],
    "Australia": ["Victoria", "Queensland", "Tasmania"],
}
BREWERY_TYPES = ["micro", "nano", "regional", "brewpub", "large", "planning",
                 "contract", "proprietor", "closed"]
WORDS = ["river", "stone", "hop", "barrel", "copper", "oak", "mill", "north",
         "iron", "wolf", "harbor", "valley", "summit", "union", "crooked",
         "lazy", "golden", "black", "red", "old", "town", "bear", "fox"]
# the silver stage drops rows with a null in any of these
REQUIRED = ("id", "name", "state", "country")
# string columns the silver stage lower-cases and trims
STRING_COLS = ("id", "name", "brewery_type", "street", "city", "state",
               "country", "phone", "website_url")


@dataclass
class MedallionInput:
    records: list[dict]       # in page order, as the API serves them
    per_page: int
    distinct_ids: int
    silver_min: int           # exact bounds on the silver row count
    silver_max: int
    input_bytes: int          # JSON bytes of all served records


def _noisy(rng: random.Random, s: str) -> str:
    """Case and whitespace noise the silver stage must normalise away."""
    r = rng.random()
    if r < 0.3:
        s = s.upper()
    elif r < 0.6:
        s = s.title()
    if rng.random() < 0.3:
        s = " " * rng.randint(1, 2) + s + " " * rng.randint(0, 2)
    return s


def _brewery(rng: random.Random, bid: str, ts: str) -> dict:
    country = rng.choice(list(STATES))
    name = " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 3)))
    return {
        "id": bid,
        "name": _noisy(rng, name + " brewing"),
        "brewery_type": _noisy(rng, rng.choice(BREWERY_TYPES)),
        "street": _noisy(rng, f"{rng.randint(1, 9999)} {rng.choice(WORDS)} st"),
        "city": _noisy(rng, rng.choice(WORDS) + " " + rng.choice(["falls", "city", "springs"])),
        "state": _noisy(rng, rng.choice(STATES[country])),
        "country": _noisy(rng, country),
        "longitude": round(rng.uniform(-160.0, 150.0), 6) if rng.random() < 0.9 else None,
        "latitude": round(rng.uniform(-45.0, 65.0), 6) if rng.random() < 0.9 else None,
        "phone": str(rng.randint(10**9, 10**10 - 1)) if rng.random() < 0.8 else None,
        "website_url": f"http://www.{name.replace(' ', '')}.com" if rng.random() < 0.7 else None,
        "updated_at": ts,
    }


def _ts(day: int, second: int) -> str:
    return f"2024-{1 + day // 28:02d}-{1 + day % 28:02d}T{second // 3600:02d}:{second // 60 % 60:02d}:{second % 60:02d}Z"


def medallion_input(seed: int, distinct_ids: int, per_page: int = 50) -> MedallionInput:
    """Brewery records as a paginated API returns them: every id once,
    plus identical re-fetched copies (10% of ids), later-updated
    versions (15%) and conflicting versions that share the earliest
    timestamp (5%, half of them with a null name). 2% of first
    versions have a null required field."""
    rng = random.Random(seed)
    records: list[dict] = []
    # the mix is fixed by position so every seed serves the same number
    # of records of each kind; the seed decides contents and page order
    for i in range(distinct_ids):
        bid = f"brw-{seed % 1000:03d}-{i:07d}"
        day, sec = rng.randrange(300), rng.randrange(86400)
        first = _brewery(rng, bid, _ts(day, sec))
        if i % 50 == 49:
            first[rng.choice(REQUIRED[1:])] = None
        records.append(first)
        if i % 20 < 3:  # later update: a different row, newer timestamp
            later = _brewery(rng, bid, _ts(day + 1 + rng.randrange(30), sec))
            if i % 200 == 0:
                later["name"] = None
            records.append(later)
        elif i % 20 == 3:  # conflicting version at the same timestamp
            twin = _brewery(rng, bid, first["updated_at"])
            if i % 40 == 3:
                twin["name"] = None
            records.append(twin)
        if i % 10 == 5:  # the API served this page twice
            records.append(dict(first))
    rng.shuffle(records)
    lo, hi = silver_bounds(records)
    nbytes = sum(len(json.dumps(r, sort_keys=True)) + 1 for r in records)
    return MedallionInput(records, per_page, distinct_ids, lo, hi, nbytes)


def silver_bounds(records: list[dict]) -> tuple[int, int]:
    """Exact bounds on the silver row count. Silver keeps, per id, one
    row among those with the earliest ``updated_at`` and then drops it
    if a required field is null. An id whose earliest rows all pass is
    certainly kept, one whose earliest rows all fail is certainly
    dropped, and one with both kinds may go either way."""
    earliest: dict[str, list[bool]] = {}
    first_ts: dict[str, str] = {}
    for r in records:
        ok = all(r[c] is not None for c in REQUIRED)
        ts = r["updated_at"]
        cur = first_ts.get(r["id"])
        if cur is None or ts < cur:
            first_ts[r["id"]] = ts
            earliest[r["id"]] = [ok]
        elif ts == cur:
            earliest[r["id"]].append(ok)
    sure = sum(all(v) for v in earliest.values())
    maybe = sum(any(v) and not all(v) for v in earliest.values())
    return sure, sure + maybe


# ------------------------------------------------------------ corpus_dedup

@dataclass
class CorpusInput:
    docs: list[tuple[int, str]]           # (doc_id, text)
    exact_groups: list[list[int]]         # ids sharing one normalised text
    near_groups: list[list[int]]          # base id first, then token-edited copies
    input_bytes: int


def _edit(rng: random.Random, tokens: list[str], vocab: list[str], edits: int) -> list[str]:
    out = list(tokens)
    for _ in range(edits):
        op, pos = rng.random(), rng.randrange(len(out))
        if op < 0.5:
            out[pos] = rng.choice(vocab)
        elif op < 0.75:
            out.insert(pos, rng.choice(vocab))
        elif len(out) > 2:
            del out[pos]
    return out


def _respace(rng: random.Random, tokens: list[str]) -> str:
    """Same normalised text, different bytes: case and whitespace."""
    text = tokens[0] + "".join((" " if rng.random() < 0.9 else "  \t ") + t for t in tokens[1:])
    return (" " + text.upper()) if rng.random() < 0.5 else text


def normalized(text: str) -> str:
    """The engine's exact-dedup key text: lower, trim spaces, collapse
    whitespace runs (``functions.text.normalized_text``)."""
    return re.sub(r"\s+", " ", text.lower().strip(" "))


def corpus_input(seed: int, base_docs: int) -> CorpusInput:
    """A text corpus of ``base_docs`` random documents plus planted
    duplicates: exact copies that differ only in case and whitespace
    (10% of base documents), and near copies with 1-3 token edits
    (insert, delete, replace; 15%). Each planted group has 1-3 copies."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(20000)]
    cum = list(itertools.accumulate(1.0 / (i + 10) for i in range(len(vocab))))
    next_id = 0
    docs: list[tuple[int, str]] = []
    exact_groups: list[list[int]] = []
    near_groups: list[list[int]] = []

    def add(text: str) -> int:
        nonlocal next_id
        next_id += 1
        docs.append((next_id, text))
        return next_id

    # kinds and copy counts are fixed by position, so every seed makes
    # the same number of documents; the seed decides texts and order
    for b in range(base_docs):
        tokens = rng.choices(vocab, cum_weights=cum, k=rng.randint(40, 120))
        base = add(" ".join(tokens))
        kind, copies = b % 20, 1 + (b // 20) % 3
        if kind < 2:
            exact_groups.append([base] + [add(_respace(rng, tokens)) for _ in range(copies)])
        elif kind < 5:
            near_groups.append([base] + [add(" ".join(_edit(rng, tokens, vocab, rng.randint(1, 3))))
                                         for _ in range(copies)])
    order = list(range(len(docs)))
    rng.shuffle(order)
    docs = [docs[i] for i in order]
    nbytes = sum(len(t.encode()) + 8 for _, t in docs)
    return CorpusInput(docs, exact_groups, near_groups, nbytes)
