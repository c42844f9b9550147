"""Deterministic Common-Crawl-style fixture corpus (FIXTURES.md §1).

Generates the ``docs(url, warc_ts, html, text, lang)`` table of
BASELINE.json ``input_hint`` entirely in-process (seeded, no external data).
``text`` is EXACTLY ``html_extract.extract_text(html)`` so the byte-identical
extraction invariant is well-defined: the engine re-derives text from html
through the same vendored extractor inside an Arrow UDF and must match
byte-for-byte per url.

Corpus properties (exercising every SURVEY.md §2.11 quirk):
  * Zipf-distributed ~2k-stem vocabulary with a hot head that includes the
    reference ``tuebingen_terms`` (Q6 df-pruning, R5 head-term skew, Q13
    boost);
  * umlauts, embedded URLs, comma/paren/ordinal numerals (O-62..O-65);
  * one document > 800,000 chars (length cap, Q2/Q3);
  * exact-duplicate page pairs under different urls (Q12 dedup);
  * ~10% non-``en`` rows (O-17 English filter);
  * docs containing all/some/none of the reference query terms.
"""

from __future__ import annotations

import datetime as _dt
import html as _htmllib
import random

from ..functions.html_extract import extract_text

# Reference query set (reference queries.txt:1-2).
REFERENCE_QUERIES: list[tuple[int, str]] = [
    (1, "tübingen attractions"),
    (2, "food and drinks"),
]

# Reference tuebingen_terms (retrieval.py:25) — single source of truth lives
# in operators.expansion; re-exported here for fixture generation.
from ..operators.expansion import TUEBINGEN_TERMS  # noqa: E402

_BASE_WORDS = [
    "attraction", "attractions", "castle", "museum", "river", "punt", "tour",
    "food", "drink", "drinks", "restaurant", "cafe", "beer", "wine", "market",
    "university", "student", "town", "old", "bridge", "church", "garden",
    "festival", "music", "history", "science", "library", "park", "hotel",
    "visit", "guide", "walk", "hill", "view", "sunset", "street", "shop",
    "bakery", "chocolate", "cheese", "bread", "coffee", "tea", "menu",
    "dinner", "lunch", "breakfast", "kitchen", "chef", "local", "traditional",
    "swabian", "german", "neckar", "stocherkahn", "altstadt", "schloss",
    "kirche", "platz", "rathaus", "weather", "train", "bus", "station",
    "ticket", "price", "open", "hours", "monday", "sunday", "family", "kids",
    "über", "müller", "straße", "größe", "schön", "grün", "früh", "späte",
]


_VOCAB_SIZE = 2000


def _vocab(rng: random.Random) -> list[str]:
    vocab = list(TUEBINGEN_TERMS) + list(_BASE_WORDS)
    syllables = ["ba", "ko", "ri", "ta", "lu", "me", "so", "ne", "vi", "da",
                 "pe", "gu", "ha", "zo", "fi", "wa", "ce", "ju", "xi", "qua"]
    while len(vocab) < _VOCAB_SIZE:
        w = "".join(rng.choice(syllables) for _ in range(rng.randint(2, 4)))
        vocab.append(w)
    return vocab


def _zipf_word(rng: random.Random, vocab: list[str]) -> str:
    # Zipf via inverse-power sampling over rank.
    n = len(vocab)
    r = rng.random()
    rank = int(n ** r) - 1  # log-uniform rank → heavy head
    return vocab[min(rank, n - 1)]


_SPECIAL_SNIPPETS = [
    "visit www.tuebingen.de/attractions for details",
    "prices from 1,234 euro per group 3) bring cash",
    "the 2nd stop on the 1st tour",
    "see https://unimuseum.uni-tuebingen.de/en/museum-at-hohentuebingen-castle now",
    "größe über müller straße",
    "open monday–sunday 10-18",
]

_DOMAINS = [
    "tuebingen.de", "uni-tuebingen.de", "tuebingen-info.de", "neckar-tours.de",
    "swabian-food.example", "museums.example", "travelguide.example",
    "events.example",
]
_PATH_WORDS = ["attractions", "food", "drinks", "en", "guide", "castle",
               "museum", "river-tours", "old-town", "restaurants", "hotels",
               "tuebingen", "events", "history"]


def _make_url(rng: random.Random, i: int) -> str:
    domain = rng.choice(_DOMAINS)
    depth = rng.randint(1, 3)
    path = "/".join(rng.choice(_PATH_WORDS) for _ in range(depth))
    suffix = ""
    if rng.random() < 0.04:
        suffix = rng.choice([".jpg", ".png", ".pdf"])
    www = "www." if rng.random() < 0.5 else ""
    return f"https://{www}{domain}/{path}/p{i}{suffix}"


_HTML_TEMPLATE = (
    "<html lang=\"{lang}\"><head><title>{title}</title>"
    "<style>body {{ color: #222; }}</style>"
    "<script>var tracker = 'do-not-index';</script></head>"
    "<body><h1>{title}</h1>\n{paras}\n"
    "<div class=\"footer\">  {footer}  </div></body></html>"
)


def _body_words(rng: random.Random, vocab: list[str], n_words: int) -> list[str]:
    words = [_zipf_word(rng, vocab) for _ in range(n_words)]
    if rng.random() < 0.5:
        words.insert(rng.randrange(len(words) + 1), rng.choice(_SPECIAL_SNIPPETS))
    return words


def generate_docs(n_docs: int = 500, seed: int = 42) -> list[dict]:
    """Seeded corpus rows: dicts with url/warc_ts/html/text/lang keys."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    epoch = _dt.datetime(2024, 1, 1)
    rows: list[dict] = []
    for i in range(n_docs):
        lang = "en"
        roll = rng.random()
        if roll < 0.06:
            lang = "de"
        elif roll < 0.10:
            lang = rng.choice(["fr", "en-US", "en-GB"])
        n_words = rng.randint(30, 260)
        words = _body_words(rng, vocab, n_words)
        # A slice of docs carries full reference-query matches close together
        # (proximity spans, Q13 match ladder).
        if i % 17 == 0:
            words[:0] = ["tuebingen", "attractions", "castle"]
        if i % 23 == 0:
            words[:0] = ["food", "drinks", "restaurant"]
        paras, step = [], max(1, len(words) // 3)
        for p in range(0, len(words), step):
            paras.append("<p>" + _htmllib.escape(" ".join(words[p : p + step])) + "</p>")
        title = " ".join(words[:3]) if words else "page"
        html_doc = _HTML_TEMPLATE.format(
            lang=lang, title=_htmllib.escape(title), paras="\n".join(paras),
            footer="&copy; 2024 T&uuml;bingen pages",
        )
        url = _make_url(rng, i)
        rows.append(
            {
                "url": url,
                "warc_ts": epoch + _dt.timedelta(seconds=i * 137),
                "html": html_doc.encode("utf-8"),
                "text": extract_text(html_doc),
                "lang": lang,
            }
        )

    # One oversized doc (> 800,000 chars) — skipped by the index length cap
    # but still counted in N and avg_doc_len denominators (Q2/Q3).
    big_words = " ".join(_zipf_word(rng, vocab) for _ in range(130_000))
    big_html = _HTML_TEMPLATE.format(
        lang="en", title="big page", paras="<p>" + big_words + "</p>",
        footer="big", )
    rows.append(
        {
            "url": "https://www.tuebingen.de/big/p-big",
            "warc_ts": epoch + _dt.timedelta(days=2),
            "html": big_html.encode("utf-8"),
            "text": extract_text(big_html),
            "lang": "en",
        }
    )

    # Exact-duplicate pairs under different urls (Q12).
    for j, src in enumerate(rng.sample([r for r in rows if r["lang"] == "en"][:50], 5)):
        dup = dict(src)
        dup["url"] = f"https://mirror.example/copy/{j}/p{j}"
        dup["warc_ts"] = src["warc_ts"] + _dt.timedelta(days=30)
        rows.append(dup)
    return rows


def write_docs_parquet(rows: list[dict], path: str) -> None:
    """Write fixture rows as a parquet file via pyarrow (no Spark needed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
        }
    )
    # Bounded row groups (~4k docs ≈ 4.5 MB): pyarrow's default writes ONE
    # row group for the whole table, and a parquet row group is the unit of
    # parallel reading — a single-row-group 435 MB fixture serialized the
    # entire scan+UDF stage onto one core regardless of split planning.
    # Real warehouse tables (Iceberg write targets) always have bounded row
    # groups; the fixture must look like them.  4096 rows (was 8192): with
    # ~9 MB row groups the 400k-doc fixture planned exactly one scan task
    # per core, and under hypervisor per-core steal the tokenize stage's
    # wall became the slowest straggler (measured 101 s vs 31 s with finer
    # tasks); ~98 row groups let the build session's smaller
    # maxPartitionBytes cut ≥3 tasks/core — the shape a real multi-file
    # 100 TB table has naturally.
    pq.write_table(table, path, row_group_size=4096)
