"""Unit tests for the vendored text core (no Spark needed)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from modernsearchengines_spark.functions import porter, simhash, tokenizer
from modernsearchengines_spark.functions.html_extract import extract_text
from modernsearchengines_spark.operators.codec import (
    varbyte_decode,
    varbyte_encode,
)


def test_porter_classic_cases():
    # Examples from Porter (1980).
    cases = {
        "caresses": "caress", "ponies": "poni", "ties": "ti", "caress":
        "caress", "cats": "cat", "feed": "feed", "agreed": "agre",
        "plastered": "plaster", "bled": "bled", "motoring": "motor",
        "sing": "sing", "conflated": "conflat", "troubled": "troubl",
        "sized": "size", "hopping": "hop", "tanned": "tan", "falling":
        "fall", "hissing": "hiss", "fizzed": "fizz", "failing": "fail",
        "filing": "file", "happy": "happi", "sky": "sky", "relational":
        "relat", "conditional": "condit", "rational": "ration", "valenci":
        "valenc", "digitizer": "digit", "operator": "oper", "feudalism":
        "feudal", "decisiveness": "decis", "hopefulness": "hope",
        "formaliti": "formal", "formalize": "formal", "electriciti":
        "electr", "electrical": "electr", "hopeful": "hope", "goodness":
        "good", "revival": "reviv", "allowance": "allow", "inference":
        "infer", "airliner": "airlin", "gyroscopic": "gyroscop",
        "adjustable": "adjust", "defensible": "defens", "irritant":
        "irrit", "replacement": "replac", "adjustment": "adjust",
        "dependent": "depend", "adoption": "adopt", "homologou":
        "homolog", "communism": "commun", "activate": "activ",
        "angulariti": "angular", "homologous": "homolog", "effective":
        "effect", "bowdlerize": "bowdler", "probate": "probat", "rate":
        "rate", "cease": "ceas", "controll": "control", "roll": "roll",
    }
    for word, expected in cases.items():
        assert porter.stem(word) == expected, word


def test_tokenizer_normalization_quirks():
    # O-62 umlauts, O-63 URL dots, O-64 numerals, O-65 separators.
    toks = tokenizer.tokenize("Tübingen straße GRÖSSE")
    assert [t for t, _ in toks] == ["tuebingen", "strass", "groess"]
    toks = tokenizer.tokenize("see www.uni-tuebingen.de/en/museum now")
    terms = [t for t, _ in toks]
    assert "tuebingen" in terms and "museum" in terms
    assert not any("." in t for t in terms)
    toks = tokenizer.tokenize("items 3) cost 1,234 on the 2nd day")
    terms = [t for t, _ in toks]
    assert "3" in terms and "1234" in terms and "2" in terms
    assert "2nd" not in terms


def test_tokenizer_positions_are_char_offsets():
    # Q5: positions index into the NORMALIZED chunk.
    toks = tokenizer.tokenize("alpha beta")
    assert toks == [("alpha", 0), ("beta", 6)]


def test_tokenizer_unique_keeps_first(Q=None):
    # Q15: first occurrence of each stem with its position.
    toks = tokenizer.tokenize("castle tour castle tours", only_unique_tokens=True)
    assert toks == [("castl", 0), ("tour", 7)]


def test_tokenizer_stopwords_dropped():
    terms = [t for t, _ in tokenizer.tokenize("the castle and the river")]
    assert terms == ["castl", "river"]


def test_tokenizer_chunk_reset():
    # Q5: offsets reset at the 800k chunk boundary.
    text = "a" * (tokenizer.CHUNK_LEN - 3) + " xx zzz"
    toks = tokenizer.tokenize(text)
    stems = {t for t, _ in toks}
    assert "zzz" in stems
    pos_by_stem = dict(toks)
    assert pos_by_stem["zzz"] < tokenizer.CHUNK_LEN // 2  # reset offset


def test_url_to_words():
    # O-67 (reference indexing.py:89-105 semantics).
    assert (
        tokenizer.url_to_words("https://www.uni-tuebingen.de/en/museum-at-castle/p1")
        == "uni, tuebingen, de, en, museum, at, castle, p1"
    )


def test_html_extraction_contract():
    html_doc = (
        "<html lang=\"en-US\"><head><title>A &amp; B</title>"
        "<style>p{}</style><script>var x=1;</script></head>"
        "<body><p>  Hello\nworld </p><div> T&uuml;bingen <b>rocks</b></div>"
        "</body></html>"
    )
    assert extract_text(html_doc) == "A & B Hello world Tübingen rocks"


def test_simhash_exact_dup_semantics():
    # Q12: identical text ⟺ identical simhash ⟺ hamming 0.
    a = simhash.simhash64("tuebingen castle river tour food")
    b = simhash.simhash64("tuebingen castle river tour food")
    c = simhash.simhash64("completely different words entirely here")
    assert a == b and simhash.hamming64(a, b) == 0
    assert simhash.hamming64(a, c) > 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**31 - 1), max_size=200))
def test_varbyte_roundtrip(values):
    values = sorted(values)
    assert varbyte_decode(varbyte_encode(values)) == values
