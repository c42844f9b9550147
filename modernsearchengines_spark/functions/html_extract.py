"""Vendored HTML→text extractor with ``stripped_strings`` semantics.

The reference extracts page text with BeautifulSoup's ``html.parser`` backend:
``' '.join(soup.stripped_strings).replace('\\n', ' ')``
(/root/reference/WebCrawler_basis.py:221-222).  bs4 is not in this
environment, so this module implements the same observable contract on the
stdlib :mod:`html.parser` (which IS the backend bs4 would use): walk the
document's text nodes in order, ``str.strip()`` each, drop empties, join with
a single space, then replace newlines with spaces.

Per SURVEY.md §7 R1 the byte-identity invariant (BASELINE.json input_hint:
"byte-identical extracted text per url") is defined engine-vs-oracle over the
fixture corpus: the fixture generator writes ``text`` as exactly this
function's output on ``html``, and the engine's Arrow UDF
(``indexer.extract_text_udf``) re-derives ``text`` from ``html`` through
the same code; tests/test_index_parity.py checks the two byte for byte.
``<script>``/``<style>`` payloads are excluded from the text (documented
decision, FIXTURES.md §1).

Character references are decoded (``convert_charrefs=True``), matching
html.parser defaults.
"""

from __future__ import annotations

from html.parser import HTMLParser

_SKIP_CONTENT = frozenset({"script", "style"})
# Void elements never push onto the open-tag stack.
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


class _TextCollector(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self.pieces: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_CONTENT:
            self._skip_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_CONTENT and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        stripped = data.strip()
        if stripped:
            self.pieces.append(stripped)


def extract_text(html: str | bytes) -> str:
    """Text of ``html`` under stripped_strings semantics (see module doc)."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    collector = _TextCollector()
    collector.feed(html)
    collector.close()
    return " ".join(collector.pieces).replace("\n", " ")
