"""Seed-generated enriched arXiv records for the ``ingest_stream`` workload,
and the pure-Python reference the loaded star schema is checked against.

Records follow the ``enriched`` shape of FIXTURES.md section 2 (the
engine's ``schemas.ENRICHED_RECORD``). The seed picks the contents; the
shape is fixed, so every seed yields the same counts per file:
``OVERLONG_PER_FILE`` titles over 1000 characters (dead-lettered),
``REPLAYS_PER_FILE`` exact copies of records from earlier files (must add
no rows), and sentinel holes (missing year, subject, venue, publisher,
doi, citation count, gender and affiliation) at fixed strides.
"""

from __future__ import annotations

import random

RECORDS_PER_FILE = 1_000
OVERLONG_PER_FILE = 10
REPLAYS_PER_FILE = 5
AUTHOR_POOL = 2_000
ZIPF_S = 1.1

SUBJECTS = ("Astrophysics", "physics", "Mathematics", "math", "Biology",
            "Chemistry", "Computer Science", "Economics")
TYPES = ("journal-article", "proceedings-article", "book-chapter",
         "posted-content")
GENDERS = ("male", "female", "unknown")
MAX_TITLE = 1000


def _author(i: int) -> dict:
    """Author ``i`` of the pool; the same index always yields the same
    person, so h/g-index accumulate across papers and files."""
    return {
        "family": f"Fam{i}",
        "given": f"Giv{i}",
        # every 11th author has no recorded gender (sentinel 'unknown')
        "gender": None if i % 11 == 0 else GENDERS[i % 3],
        "full_name": f"Giv{i} Fam{i}",
        "affiliation": [] if i % 4 == 0 else [f"Institute {i % 37}"],
    }


def generate(seed: int, n_files: int) -> list[list[dict]]:
    """``n_files`` lists of records, each ``RECORDS_PER_FILE`` long."""
    rng = random.Random(seed)
    weights = [1.0 / (k + 1) ** ZIPF_S for k in range(AUTHOR_POOL)]
    ranks = list(range(AUTHOR_POOL))
    rng.shuffle(ranks)  # which author is popular depends on the seed
    files: list[list[dict]] = []
    emitted: list[dict] = []
    serial = 0
    for f in range(n_files):
        batch: list[dict] = []
        fresh = RECORDS_PER_FILE - (REPLAYS_PER_FILE if f else 0)
        for j in range(fresh):
            serial += 1
            n_auth = rng.randint(1, 4)
            picks = sorted({ranks[k] for k in rng.choices(range(AUTHOR_POOL), weights, k=n_auth)})
            title = f"Paper {serial} on " + " ".join(
                rng.choice(("graphs", "stars", "cells", "rings", "fields", "waves"))
                for _ in range(rng.randint(2, 6))
            )
            if j % (RECORDS_PER_FILE // OVERLONG_PER_FILE) == 7:
                title = (title + " ") * (MAX_TITLE // len(title) + 1)
            year = rng.randint(1990, 2025)
            rec = {
                "id": f"{2000 + serial // 100000:04d}.{serial:05d}",
                "title": title,
                "doi": None if serial % 19 == 0 else f"10.{1000 + serial % 977}/{serial}",
                "latest_version": f"v{rng.randint(1, 4)}",
                "published-year": (None if serial % 17 == 0
                                   else 2077 if serial % 53 == 0 else year),
                "published-month": rng.randint(1, 12),
                "type": None if serial % 5 == 0 else rng.choice(TYPES),
                "publisher": None if serial % 11 == 0 else f"Publisher {rng.randint(0, 6)}",
                "container-title": None if serial % 13 == 0 else f"Venue {rng.randint(0, 29)}",
                "subject": None if serial % 29 == 0 else rng.choice(SUBJECTS),
                "is-referenced-by-count": (None if serial % 23 == 0
                                           else int(rng.paretovariate(1.2)) - 1),
                "reference": [],
                "authors_merged": [_author(a) for a in picks],
            }
            batch.append(rec)
        if f:
            accepted = [r for r in emitted if len(r["title"]) <= MAX_TITLE]
            batch.extend(rng.sample(accepted, REPLAYS_PER_FILE))
            rng.shuffle(batch)
        emitted.extend(batch)
        files.append(batch)
    return files


def _hindex(cites: list[int]) -> int:
    s = sorted(cites, reverse=True)
    return max([r for r, v in enumerate(s, 1) if v >= r], default=0)


def _gindex(cites: list[int]) -> int | None:
    """None when no paper is cited: the engine's g-index drops zero counts
    (ref metrics.py:87-90) and leaves such an author's g_index NULL."""
    positive = sorted((c for c in cites if c > 0), reverse=True)
    if not positive:
        return None
    g, total = 0, 0
    for r, v in enumerate(positive, 1):
        total += v
        if total >= r * r:
            g = r
    return g


def reference(files: list[list[dict]]) -> dict:
    """What the star schema must hold after loading ``files`` in order."""
    facts: dict[str, dict] = {}
    dead = 0
    for batch in files:
        new = {}
        for r in batch:
            if len(r["title"] or "") > MAX_TITLE:
                dead += 1
            elif r["id"] not in facts:
                new[r["id"]] = r
        facts.update(new)
    cites: dict[str, list[int]] = {}
    affiliations, venues = set(), set()
    for r in facts.values():
        venues.add((r["container-title"] or "Unknown", r["publisher"] or "Unknown"))
        for a in r["authors_merged"]:
            cites.setdefault(a["full_name"], []).append(r["is-referenced-by-count"] or 0)
            affiliations.add(a["affiliation"][0] if a["affiliation"] else "Unknown")
    return {
        "facts": len(facts),
        "dead_letter": dead,
        "authors": {n: (_hindex(c), _gindex(c)) for n, c in cites.items()},
        "dims": {
            "dim_domain": len({r["subject"] or "Unknown" for r in facts.values()}),
            "dim_type": len({r["type"] or "Unknown" for r in facts.values()}),
            "dim_venue": len(venues),
            "dim_author": len(cites),
            "dim_affiliation": len(affiliations),
        },
    }
