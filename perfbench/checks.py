"""Output checks computed apart from the program.

Every expected value here is derived from the benchmark's own inputs
(the served HTML bytes, the generated texts) with plain Python and
pyarrow. Nothing in this module imports the engine. Each checker
returns a list of problems; an empty list means the output passed.
"""

from __future__ import annotations

import hashlib
import math
import os
import re

import pandas as pd

# -- etl_load ----------------------------------------------------------------

_ROW_RE = re.compile(
    r"<tr><td>(.*?)</td><td>(.*?)</td><td>(.*?)</td><td>(.*?)</td></tr>"
)
_COORD_RE = re.compile(r"\((-?\d+\.\d+), (-?\d+\.\d+)\)")


def md5_geocode(address: str, locality: str) -> tuple[float, float]:
    """The stand-in geocoder's formula, as its docstring states it: the
    first 8 hex digits of md5 over the query, then modular arithmetic."""
    h = int(hashlib.md5(f"{address}, {locality}, ARGENTINA".encode()).hexdigest()[:8], 16)
    return round(h % 18000 / 100.0 - 90.0, 2), round(h % 36000 / 100.0 - 180.0, 2)


def expected_load(pages: list[bytes]) -> dict[str, tuple]:
    """Distinct shops of the served pages -> ``(address, locality, lat,
    lng)``: onclick coordinates parsed from the bytes, ``No disponible``
    rows geocoded by formula, regex misses NULL."""
    out: dict[str, tuple] = {}
    for page in pages:
        for shop, address, locality, cell in _ROW_RE.findall(page.decode("utf-8")):
            if "No disponible" in cell:
                lat, lng = md5_geocode(address, locality)
            else:
                m = _COORD_RE.search(cell)
                lat, lng = (float(m.group(1)), float(m.group(2))) if m else (None, None)
            row = (address, locality, lat, lng)
            if out.setdefault(shop, row) != row:
                raise ValueError(f"shop {shop} rendered twice with different content")
    return out


def _null(x):
    return None if x is None or (isinstance(x, float) and math.isnan(x)) else x


def check_sink(sink: pd.DataFrame, expected: dict[str, tuple]) -> list[str]:
    """The loaded table against :func:`expected_load`: row count, shop
    key set, and address, locality, lat and lng per shop."""
    problems = []
    if len(sink) != len(expected):
        problems.append(f"row count {len(sink)} != {len(expected)} distinct source rows")
    seen = set()
    for shop, address, locality, lat, lng in sink[
        ["shop", "address", "locality", "lat", "lng"]
    ].itertuples(index=False):
        if shop in seen:
            problems.append(f"shop {shop} loaded twice")
        seen.add(shop)
        want = expected.get(shop)
        got = (address, locality, _null(lat), _null(lng))
        if want is None:
            problems.append(f"shop {shop} is not in the source")
        elif got != want:
            problems.append(f"shop {shop}: loaded {got}, expected {want}")
        if len(problems) > 5:
            break
    missing = len(set(expected) - seen)
    if missing:
        problems.append(f"{missing} source shops missing from the sink")
    return problems


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) of the parquet part-files under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


# -- index_cycles ------------------------------------------------------------

def word_grams(text: str, n: int = 3) -> frozenset[str]:
    """Word n-grams after lowercasing and whitespace collapse."""
    toks = " ".join(text.lower().split()).split(" ")
    return frozenset(" ".join(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 1)))


def check_pairs(
    pairs: list[tuple[int, int, float]],
    grams: dict[int, frozenset[str]],
    probe: set[int],
    planted: list[tuple[int, int]],
    deleted: set[int] = frozenset(),
    threshold: float = 0.5,
) -> list[str]:
    """Required properties of a probe's near-duplicate pairs: each pair
    is ordered, has at least one probe member, touches no deleted id,
    and carries its exact word-3-gram Jaccard (rounded to 4 places),
    which reaches ``threshold``; every planted (original, clone) pair
    with at least 5 grams and no deleted member is reported."""
    problems = []
    found = set()
    for a, b, sim in pairs:
        found.add((a, b))
        if not a < b:
            problems.append(f"pair ({a}, {b}) is not ordered")
        if a not in probe and b not in probe:
            problems.append(f"pair ({a}, {b}) has no probe member")
        if a in deleted or b in deleted:
            problems.append(f"pair ({a}, {b}) has a deleted member")
            continue
        ga, gb = grams.get(a), grams.get(b)
        if ga is None or gb is None:
            problems.append(f"pair ({a}, {b}) names an unknown document")
            continue
        exact = round(len(ga & gb) / len(ga | gb), 4)
        if abs(exact - sim) > 1e-9 or exact < threshold:
            problems.append(f"pair ({a}, {b}): reported {sim}, exact Jaccard {exact}")
    for orig, clone in planted:
        if orig in deleted or clone in deleted or len(grams[orig]) < 5:
            continue
        if (min(orig, clone), max(orig, clone)) not in found:
            problems.append(f"planted pair ({orig}, {clone}) not found")
    return problems[:10]
