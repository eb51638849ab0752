"""Seeded input generators for the two workloads.

Everything here is a pure function of the seed and the size profile:
the same seed gives byte-identical inputs. Nothing in this module
imports the engine; the checkers rely on that independence.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# -- etl_load: the two scraped shop tables ----------------------------------

_STREETS = (
    "Corrientes", "Rivadavia", "Santa Fe", "Cabildo", "Belgrano", "Mitre",
    "Sarmiento", "Independencia", "San Martin", "Alem", "Callao", "Pueyrredon",
)
_LOCALITIES = (
    "Palermo", "Caballito", "Flores", "Belgrano", "Almagro", "Recoleta",
    "Boedo", "Villa Urquiza", "Nunez", "Saavedra", "Liniers", "Mataderos",
    "Quilmes", "Lanus", "Moron", "Tigre",
)

NO_BUTTON = "No disponible"


def shop_rows(seed: int, n_rows: int, overlap: float) -> tuple[list[tuple], list[tuple]]:
    """Two shop tables ``(shop, address, locality, kind, lat, lng)``.

    ``kind`` is ``"packed"`` (~70 %: a locate button whose onclick
    carries the coordinates), ``"no_button"`` (~20 %: the cell reads
    ``No disponible``) or ``"miss"`` (~10 %: a locate button whose
    onclick has no coordinates). Table B repeats the last ``overlap``
    share of table A's rows verbatim, then continues with new shops;
    both tables are shuffled by the seed.
    """
    rng = random.Random(seed * 1_000_003 + 17)
    n_shared = int(n_rows * overlap)
    total = 2 * n_rows - n_shared
    rows = []
    for i in range(total):
        u = rng.random()
        kind = "packed" if u < 0.7 else ("no_button" if u < 0.9 else "miss")
        lat = round(-34.0 - rng.random(), 6)
        lng = round(-58.0 - rng.random(), 6)
        rows.append(
            (
                f"Comercio {seed % 1000:03d}-{i:06d}",
                f"{rng.choice(_STREETS)} {rng.randint(1, 9999)}",
                rng.choice(_LOCALITIES),
                kind,
                lat,
                lng,
            )
        )
    a = rows[:n_rows]
    b = rows[n_rows - n_shared:]
    rng.shuffle(a)
    rng.shuffle(b)
    return a, b


def _locate_cell(kind: str, lat: float, lng: float) -> str:
    if kind == "no_button":
        return f"<td>{NO_BUTTON}</td>"
    if kind == "miss":
        return '<td><a class="boton_ir" onclick="ir_mapa()">ir</a></td>'
    return (
        f'<td><a class="boton_ir" onclick="ir_mapa({lat:.6f}, {lng:.6f})">'
        "ir</a></td>"
    )


def render_pages(rows: list[tuple], page_size: int) -> list[bytes]:
    """Pages in the reference site's DataTables shape: four control
    ``<th>`` cells before the data headers, a ``table_id_info`` count
    line with dot-grouped thousands, and ``boton_ir`` locate buttons."""
    n = len(rows)
    grouped = f"{n:,}".replace(",", ".")
    head = (
        "<html><body><table id='table_id' class='row-border'><thead><tr>"
        "<th></th><th></th><th></th><th></th>"
        "<th>Comercio</th><th>Dirección</th><th>Localidad</th>"
        "<th>Localizar</th></tr></thead><tbody>"
    )
    pages = []
    for lo in range(0, max(n, 1), page_size):
        hi = min(lo + page_size, n)
        body = "".join(
            f"<tr><td>{s}</td><td>{a}</td><td>{loc}</td>"
            f"{_locate_cell(k, la, ln)}</tr>"
            for s, a, loc, k, la, ln in rows[lo:hi]
        )
        pages.append(
            (
                head + body + "</tbody></table>"
                f"<div id='table_id_info'>Mostrando {lo + 1} a {hi} de "
                f"{grouped} registros</div></body></html>"
            ).encode("utf-8")
        )
    return pages


# -- index_cycles: documents, history slice and arriving batches -------------

_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
_LANGS = ("de", "en", "en", "es", "fr", "zh")
N_SOURCES = 20


def documents(seed: int, docs_per_source: int) -> list[tuple[int, str, str, str]]:
    """``(doc_id, text, lang, source)`` for ``N_SOURCES`` sources; doc
    ``i`` belongs to ``src{i % N_SOURCES}``; 8 to 96 words each."""
    rng = random.Random(seed * 7_919 + 3)
    out = []
    for i in range(N_SOURCES * docs_per_source):
        words = [rng.choice(_VOCAB) for _ in range(rng.randint(8, 96))]
        out.append((i, " ".join(words), rng.choice(_LANGS), f"src{i % N_SOURCES}"))
    return out


def plant_clones(
    seed: int, history: list[tuple], n_clones: int, first_id: int, tag: int
) -> tuple[list[tuple], list[tuple[int, int]]]:
    """Prefix-insertion clones of ``n_clones`` distinct history docs:
    one word is inserted before the text, so a clone of an ``n``-word
    original shares ``n - 2`` of its ``n - 1`` word 3-grams (Jaccard
    ``(n-2)/(n-1) >= 6/7``). Returns the clone rows and the planted
    ``(original_id, clone_id)`` pairs."""
    rng = random.Random(seed * 104_729 + tag)
    picks = rng.sample(range(len(history)), n_clones)
    rows, planted = [], []
    for j, p in enumerate(picks):
        doc_id, text, lang, _ = history[p]
        cid = first_id + j
        rows.append((cid, f"{rng.choice(_VOCAB)} {text}", lang, f"clone{tag}"))
        planted.append((doc_id, cid))
    return rows, planted


def write_docs(path: str, rows: list[tuple]) -> None:
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
            "lang": [r[2] for r in rows],
            "source": [r[3] for r in rows],
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }),
        path,
    )
