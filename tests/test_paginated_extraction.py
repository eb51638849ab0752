"""Differential test of the paginated source's HTML extraction.

``parse_table_page`` reads pages with compiled regular expressions. The
oracle below is the event-driven ``html.parser`` extractor it replaced,
kept here only as the reference reading: on every generated page both
must return the same headers, body rows and info line.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from etl_project_spark.sources.paginated import HtmlTableFetcher, parse_table_page

_COORD_RE = re.compile(r"\(([-+]?\d+\.\d+),\s*([-+]?\d+\.\d+)")


class _OracleParser(HTMLParser):
    def __init__(self):
        super().__init__()
        self.headers: list[str] = []
        self.rows: list[list[str]] = []
        self.info = ""
        self._text: list[str] = []
        self._cell: str | None = None
        self._in_info = False
        self._in_tbody = False

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "th":
            self._text = []
        elif tag == "tbody":
            self._in_tbody = True
        elif tag == "tr" and self._in_tbody:
            self.rows.append([])
        elif tag == "td":
            self._text = []
            self._cell = None
        elif a.get("id") == "table_id_info":
            self._in_info = True
            self._text = []
        elif "boton_ir" in (a.get("class") or ""):
            m = _COORD_RE.search(a.get("onclick") or "")
            self._cell = f"{m.group(1)},{m.group(2)}" if m else ""

    def handle_endtag(self, tag):
        if tag == "th":
            self.headers.append("".join(self._text).strip())
        elif tag == "tbody":
            self._in_tbody = False
        elif tag == "td" and self.rows:
            self.rows[-1].append(
                self._cell if self._cell is not None else "".join(self._text).strip()
            )
        elif tag == "div" and self._in_info:
            self.info = "".join(self._text)
            self._in_info = False

    def handle_data(self, data):
        self._text.append(data)


def _oracle_parse(html: str) -> dict:
    p = _OracleParser()
    p.feed(html)
    return {"headers": p.headers, "rows": [r for r in p.rows if r], "info": p.info}


# -- page generator ----------------------------------------------------------

_WORDS = st.sampled_from(
    ["Shop", "Calle", "Peña", "café", "12", "3.5", "No", "disponible", "boton_ir",
     "a>b", "'q'", '"dq"', "x,y", "\xa0"]
)
_ENTITIES = st.sampled_from(
    ["&amp;", "&lt;", "&gt;", "&#233;", "&#x41;", "&quot;", "&nbsp;", "&aacute;"]
)
_SPACE = st.sampled_from(["", " ", "  ", "\n", "\t", "\n  "])


def _quoted(name: str, value: str, style: str) -> str:
    if style == "double":
        return f'{name}="{value}"'
    if style == "single":
        return f"{name}='{value}'"
    return f"{name}={value}"  # unquoted: caller keeps value space-free


@st.composite
def _attr(draw, name: str, value: str) -> str:
    style = draw(st.sampled_from(["double", "single"] + (["bare"] * (" " not in value))))
    return _quoted(draw(st.sampled_from([name, name.upper()])), value, style)


@st.composite
def _text(draw, max_pieces: int = 4) -> str:
    pieces = draw(st.lists(st.one_of(_WORDS, _ENTITIES, _SPACE), max_size=max_pieces))
    return " ".join(pieces)


@st.composite
def _comment(draw) -> str:
    body = draw(st.sampled_from(["", " note ", " <td>ghost</td> ", " a > b "]))
    return f"<!--{body}-->"


@st.composite
def _inline(draw, depth: int = 0) -> str:
    """Text with nested inline tags, comments and line breaks."""
    parts = []
    for _ in range(draw(st.integers(0, 3))):
        kind = draw(st.sampled_from(["text", "text", "tag", "comment", "br"]))
        if kind == "text":
            parts.append(draw(_text()))
        elif kind == "comment":
            parts.append(draw(_comment()))
        elif kind == "br":
            parts.append(draw(st.sampled_from(["<br>", "<BR/>", "<br />"])))
        elif depth < 2:
            tag = draw(st.sampled_from(["b", "I", "span", "em", "a"]))
            attrs = draw(
                st.lists(
                    st.one_of(
                        _attr("class", "x y"),
                        _attr("title", "a>b"),
                        _attr("href", "u?p=1&amp;q=2"),
                    ),
                    max_size=2,
                )
            )
            open_tag = " ".join([tag, *attrs])
            parts.append(f"<{open_tag}>{draw(_inline(depth + 1))}</{tag}>")
    return "".join(parts)


@st.composite
def _button(draw) -> str:
    cls = draw(st.sampled_from(["boton_ir", "btn boton_ir", "boton_ir grande"]))
    if draw(st.booleans()):
        lat = draw(st.floats(-90, 90, allow_nan=False).map(lambda v: f"{v:.6f}"))
        lng = draw(st.floats(-180, 180, allow_nan=False).map(lambda v: f"{v:.4f}"))
        sep = draw(st.sampled_from([", ", ",", ",&#32;"]))
        onclick = f"ir_mapa({lat}{sep}{lng})"
    else:
        onclick = draw(st.sampled_from(["ir_mapa()", "ir(x, y)", "ir(1, 2)"]))
    attrs = [draw(_attr("class", cls)), draw(_attr("onclick", onclick))]
    if draw(st.booleans()):
        attrs.reverse()
    tag = draw(st.sampled_from(["a", "A", "button"]))
    label = draw(st.sampled_from(["ir", "", "Ver <b>mapa</b>"]))
    return f"<{tag} {' '.join(attrs)}>{label}</{tag}>"


@st.composite
def _cell_content(draw) -> str:
    kind = draw(st.sampled_from(["text", "inline", "button", "buttons", "no_disponible"]))
    if kind == "text":
        return draw(_text())
    if kind == "inline":
        return draw(_inline())
    if kind == "no_disponible":
        return f"{draw(_SPACE)}No disponible{draw(_SPACE)}"
    buttons = [draw(_button()) for _ in range(1 if kind == "button" else 2)]
    return draw(_SPACE).join([draw(_inline()), *buttons, draw(_SPACE)])


@st.composite
def _cell(draw, tag: str = "td") -> str:
    name = draw(st.sampled_from([tag, tag.upper()]))
    attrs = draw(st.lists(_attr("class", "c"), max_size=1))
    open_tag = " ".join([name, *attrs])
    end_space = draw(st.sampled_from(["", " "]))
    return f"<{open_tag}>{draw(_cell_content())}</{name}{end_space}>"


@st.composite
def _row(draw, tag: str = "td", max_cells: int = 5) -> str:
    name = draw(st.sampled_from(["tr", "TR"]))
    cells = draw(st.lists(_cell(tag), max_size=max_cells))
    sep = draw(_SPACE)
    return f"<{name}>{sep}{sep.join(cells)}{sep}</{name}>"


@st.composite
def _header_cell(draw) -> str:
    name = draw(st.sampled_from(["th", "TH"]))
    return f"<{name}>{draw(_inline())}</{name}>"


@st.composite
def pages(draw) -> str:
    nl = draw(_SPACE)
    headers = "".join(draw(st.lists(_header_cell(), min_size=0, max_size=8)))
    thead = f"<thead><tr>{headers}</tr>"
    if draw(st.booleans()):  # a <tr> of <td> cells outside <tbody>
        thead += draw(_row())
    thead += "</thead>"
    rows = draw(st.lists(st.one_of(_row(), st.just("<tr></tr>"), st.just("<tr> \n</tr>")), max_size=6))
    if draw(st.booleans()):
        rows.insert(draw(st.integers(0, len(rows))), draw(_comment()))
    body_tag = draw(st.sampled_from(["tbody", "TBODY", None]))
    body = nl.join(rows)
    if body_tag:
        body = f"<{body_tag} class='b'>{body}</{body_tag}>"
    tfoot = draw(st.sampled_from(["", "<tfoot><tr><th>pie</th></tr></tfoot>"]))
    info = ""
    if draw(st.booleans()):
        div = draw(st.sampled_from(["div", "DIV"]))
        id_attr = draw(_attr("id", "table_id_info"))
        count = draw(st.integers(0, 10**7))
        grouped = f"{count:,}".replace(",", ".")
        info = (
            f"<{div} {id_attr} class=\"dataTables_info\">{draw(_SPACE)}Mostrando"
            f" {draw(_inline())} de {grouped} registros{draw(_SPACE)}</{div}>"
        )
    return (
        f"<html><body>{nl}<table id='table_id' class=\"row-border\">{nl}{thead}"
        f"{nl}{body}{nl}{tfoot}</table>{nl}{info}</body></html>"
    )


@settings(max_examples=400, deadline=None)
@given(html=pages())
def test_regex_extraction_matches_html_parser(html):
    assert parse_table_page(html) == _oracle_parse(html)


def test_benchmark_shaped_page_matches_html_parser():
    """The reference site's DataTables shape, as the scrape benchmark
    renders it: 4 empty control headers, packed / miss / No disponible
    locate cells."""
    rows = "".join(
        f"<tr><td>Comercio {i:06d}</td><td>Corrientes {i}</td><td>Palermo</td>"
        + (
            "<td>No disponible</td>" if i % 3 == 0
            else '<td><a class="boton_ir" onclick="ir_mapa()">ir</a></td>' if i % 3 == 1
            else f'<td><a class="boton_ir" onclick="ir_mapa(-34.{i:06d}, -58.5)">ir</a></td>'
        )
        + "</tr>"
        for i in range(30)
    )
    html = (
        "<html><body><table id='table_id' class='row-border'><thead><tr>"
        "<th></th><th></th><th></th><th></th><th>Comercio</th><th>Dirección</th>"
        "<th>Localidad</th><th>Localizar</th></tr></thead><tbody>"
        f"{rows}</tbody></table><div id='table_id_info'>Mostrando 1 a 30 de "
        "1.030 registros</div></body></html>"
    )
    got = parse_table_page(html)
    assert got == _oracle_parse(html)
    assert got["rows"][2][3] == "-34.000002,-58.5"
    assert got["rows"][1][3] == "" and got["rows"][0][3] == "No disponible"


@settings(max_examples=100, deadline=None)
@given(html=pages(), data=st.data())
def test_short_row_still_raises_with_location(html, data):
    """A body row narrower than the data headers names its page and row."""
    doc = parse_table_page(html)
    assume(doc["headers"])
    skip = data.draw(st.integers(0, len(doc["headers"]) - 1))
    width = len(doc["headers"]) - skip

    class Fixed(HtmlTableFetcher):
        def _get_html(self, page):
            return html

    f = Fixed(base_url="http://unused.invalid", skip_headers=skip)
    short = [(i, len(r)) for i, r in enumerate(doc["rows"]) if len(r) < width]
    if short:
        i, n = short[0]
        with pytest.raises(ValueError, match=rf"page 0 row {i} has {n} cells"):
            f.fetch_page(0)
    else:
        assert [len(r) for r in f.fetch_page(0)] == [width] * len(doc["rows"])
