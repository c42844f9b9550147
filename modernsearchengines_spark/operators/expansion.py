"""Query compilation: preprocess → Tübingen injection → expansion → stems.

Driver-side (queries are tiny; reference processes them single-threaded too).
Mirrors the reference query_processing / remove_stopwords_and_punctuation /
spellcheck stages (/root/reference/retrieval.py:120-175,333-359) with the
model-dependent stages frozen to fixture maps (SURVEY R3): BERT fill-mask
synonym expansion (O-80) and pyspellchecker (O-77) are non-deterministic
external models not present in this environment, so both are pluggable
callables defaulting to deterministic fixtures.  The oracle (tests/oracle.py)
uses THE SAME compile path, making goldens well-defined.

Deterministic deviation from the reference (documented): the reference joins
Python *sets* into the extended-query string, so token order is
hash-iteration order; here the sets are sorted before joining (affects only
accumulation order of float sums, not the set of matched postings).
"""

from __future__ import annotations

import string
from dataclasses import dataclass

from ..functions.tokenizer import STOPWORDS, tokenize

# Reference scoring constants (retrieval.py:25,126,156-157) — data, not code.
TUEBINGEN_TERMS: list[str] = [
    "tuebingen", "tuebing", "hohentuebingen", "waldhaeus", "oesterberg",
    "derendingen", "derending", "lustnau", "lustnauer", "pfrondorf",
    "wilhelmstr", "wilhelmstrass", "72070", "72072", "72074", "72076",
]
WORDS_TO_FILTER = frozenset(
    {"good", "nice", "okay", "sensible", "popular", "frequented",
     "recommend", "recommended", "competent"}
)
EXPANSION_SKIP = WORDS_TO_FILTER | {
    "tübingen", "renowned", "bad", "unpleasant", "pleasant",
}

EXPANSION_FIXTURE: dict[str, list[str]] = {
    "attractions": ["museum", "castle", "tour", "sight", "landmark"],
    "attraction": ["museum", "castle", "tour"],
    "food": ["restaurant", "meal", "cuisine", "dish", "bakery"],
    "drinks": ["beer", "wine", "coffee", "bar"],
    "castle": ["fortress", "palace"],
    "river": ["neckar", "water"],
}

SPELLCHECK_FIXTURE: dict[str, str] = {
    "tubingen": "tübingen",
    "atractions": "attractions",
    "restuarant": "restaurant",
    "fod": "food",
}


def preprocess_query(text: str) -> str:
    """Lower + stopword/punct strip, non-empty fallback (O-21/O-78, Q-free
    except deterministic sorted order; reference retrieval.py:120-144)."""
    punct = set(string.punctuation)
    words = text.split()
    filtered = {
        w.lower().strip(string.punctuation)
        for w in words
        if w.lower() not in STOPWORDS and w not in punct and w.lower()
    }
    filtered.discard("")
    better = {w for w in filtered if w not in WORDS_TO_FILTER}
    chosen = filtered if not better else better
    return " ".join(sorted(chosen))


def spellcheck(text: str, checker: "VocabSpellchecker | None" = None) -> str:
    """Spellcheck stage (O-77, reference retrieval.py:333-359).

    Default is the frozen fixture (the parity spec — pyspellchecker's
    bundled en/de frequency dictionaries are not in this environment, so
    byte-parity goldens pin a deterministic table).  Pass ``checker`` for
    the real corpus-dictionary corrector (:class:`VocabSpellchecker`) —
    the same Norvig algorithm pyspellchecker implements, with the word
    frequencies drawn from the indexed corpus itself, so corrections map
    to words the index can actually match.
    """
    if checker is not None:
        return checker.correct(text)
    return " ".join(SPELLCHECK_FIXTURE.get(w, w) for w in text.split())


# Norvig-corrector alphabet: ascii + the German letters the reference's
# de dictionary contributes (retrieval.py:335 falls back to German).
_SPELL_ALPHABET = "abcdefghijklmnopqrstuvwxyzäöüß"


def _edits1(word: str) -> set[str]:
    splits = [(word[:i], word[i:]) for i in range(len(word) + 1)]
    deletes = {a + b[1:] for a, b in splits if b}
    transposes = {a + b[1] + b[0] + b[2:] for a, b in splits if len(b) > 1}
    replaces = {a + c + b[1:] for a, b in splits if b for c in _SPELL_ALPHABET}
    inserts = {a + c + b for a, b in splits for c in _SPELL_ALPHABET}
    return deletes | transposes | replaces | inserts


class VocabSpellchecker:
    """Norvig spelling corrector over a corpus-derived frequency dict.

    Semantics mirror the reference's pyspellchecker usage
    (retrieval.py:333-359): a KNOWN word passes through unchanged; an
    unknown word takes the most frequent known candidate at edit distance
    1, else 2, else stays as typed.  Ties break deterministically by
    (frequency desc, word desc) — the order test_tie_break_deterministic
    pins.  "tübingen"/"tuebingen" are force-loaded
    exactly as the reference does (retrieval.py:337-338).

    Scale posture: correction is driver-side and O(len(word)·|alphabet|)
    per query word — queries are tiny (reference processes them single-
    threaded too).  The dictionary is bounded by ``top_n`` at build time
    (:meth:`from_docs` / :meth:`from_vocab_rows`); 1M entries ≈ 30 MB of
    driver heap, and the BUILD is a distributed JVM-side tokenize +
    count + top-N over the corpus — one scan, no Python in the loop.
    """

    def __init__(self, freq: dict[str, int]):
        self.freq = dict(freq)
        for w in ("tübingen", "tuebingen"):
            self.freq.setdefault(w, 1)

    # -- construction -----------------------------------------------------
    @classmethod
    def from_vocab_rows(cls, rows) -> "VocabSpellchecker":
        """From collected (word, n) rows (the output of build_vocab)."""
        return cls({r[0]: int(r[1]) for r in rows})

    @classmethod
    def from_docs(
        cls, docs, top_n: int = 200_000
    ) -> "VocabSpellchecker":
        return cls.from_vocab_rows(build_vocab(docs, top_n).collect())

    # -- correction --------------------------------------------------------
    def _known(self, words) -> set[str]:
        return {w for w in words if w in self.freq}

    def correction(self, word: str) -> str:
        w = word.lower()
        if w in self.freq:
            return word  # known words pass through with original casing
        for cands in (self._known(_edits1(w)),
                      self._known(e2 for e1 in _edits1(w)
                                  for e2 in _edits1(e1))):
            if cands:
                return max(cands, key=lambda c: (self.freq[c], c))
        return word

    def correct(self, text: str) -> str:
        return " ".join(self.correction(w) for w in text.split())


def build_synonym_table(
    postings,
    n_docs: int,
    vocab_top: int = 2000,
    per_doc_cap: int = 64,
    min_pair: int = 5,
    top_k: int = 5,
):
    """Corpus-derived query-expansion table: the model-free analog of the
    reference's BERT fill-mask synonym stage (O-80/O-42,
    retrieval.py:73-118).  Where the reference counts votes across 13
    fill-mask prompts, this ranks candidate synonyms by document
    co-occurrence PMI — terms that keep appearing in the same documents
    as the head term — with the co-occurrence count as the vote analog.

    Distributed plan (offline side-artifact, like the LDA topic model):

    1. df per term from one postings aggregation (map-side combine);
       ``vocab_top`` head terms collected as an O(vocab_top) broadcast.
    2. Postings filtered to head terms (broadcast hash join), then capped
       at ``per_doc_cap`` head terms per document by tf (one shuffle by
       doc_id) — this bounds the self-join fan-out to per_doc_cap²/2
       pairs per document, the knob that keeps the pair count linear in
       corpus size instead of quadratic in per-doc vocabulary.
    3. Doc-level self-equi-join on doc_id (co-located: both sides share
       the step-2 shuffle partitioning) → pair counts → PMI =
       log(n_ab·N / (n_a·n_b)), ``min_pair`` support floor.
    4. Per-term top-``top_k`` by (PMI desc, count desc, synonym asc) —
       deterministic; the window groups are ≤ vocab_top rows each.

    Tübingen terms are excluded as synonym candidates (Q14 injects them
    into every query already).  Returns (term, synonyms array<string>)
    — ``synonym_table_to_dict`` collects it for ``compile_query``.

    Web-scale note: pair volume is ≤ per_doc_cap²/2 per document, linear
    in corpus size; at 10⁹+ docs pass a pre-sampled postings frame
    (``postings.sample(f, seed)`` with n_docs scaled by f) — PMI ratios
    are scale-free and co-occurrence estimates converge long before the
    full corpus is read.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sym = cooccurrence_counts(
        postings,
        vocab_top=vocab_top,
        per_doc_cap=per_doc_cap,
        min_pair=min_pair,
        exclude=TUEBINGEN_TERMS,
    ).withColumn(
        "pmi",
        F.log(F.col("n_ab") * F.lit(float(n_docs))
              / (F.col("n_1") * F.col("n_2"))),
    )
    w = Window.partitionBy("term").orderBy(
        F.desc("pmi"), F.desc("n_ab"), F.asc("syn")
    )
    return (
        sym.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_k)
        .groupBy("term")
        .agg(F.collect_list(F.struct("_rk", "syn")).alias("_s"))
        .select(
            "term",
            F.transform(F.array_sort("_s"), lambda s: s["syn"]).alias(
                "synonyms"
            ),
        )
    )


def cooccurrence_counts(
    pairs_src,
    vocab_top: int = 2000,
    per_doc_cap: int = 64,
    min_pair: int = 5,
    exclude=(),
    distinct_pairs: bool = False,
):
    """Symmetric document co-occurrence counts over a (term, doc_id[, tf])
    frame — the shared core of :func:`build_synonym_table` and the
    ``synonym_votes`` contract query.

    Plan: df aggregation (map-side combine) → vocab_top head broadcast →
    per-doc head-term cap by (tf desc, df desc, term asc) — clustering by
    doc_id bounds pair volume to per_doc_cap²/2 pairs per doc — → in-doc
    pair enumeration (no self-join: the capped per-doc term set is
    collected into one sorted array and the i<j combinations are emitted
    with array higher-order functions, or as packed int keys on the
    ``distinct_pairs`` fast path) → pair counts with a ``min_pair``
    support floor.  Returns (term, syn, n_ab, n_1, n_2), both directions
    of each pair, fully deterministic ordering keys.

    The general path tolerates repeated (term, doc_id) rows: they count
    once towards n_t, the cap and n_ab, and never pair a term with itself.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if distinct_pairs:
        # Caller guarantees (term, doc_id) rows are already unique (e.g.
        # exploded from a per-doc array_distinct): a plain count with
        # map-side combine replaces countDistinct's extra (term, doc_id)
        # dedup pass — identical n_t, one fewer aggregation level
        # (guide §2.3 "aggregate before you shuffle").
        dfreq = pairs_src.groupBy("term").agg(F.count("*").alias("n_t"))
    else:
        dfreq = pairs_src.groupBy("term").agg(
            F.countDistinct("doc_id").alias("n_t")
        )
    if exclude:
        dfreq = dfreq.filter(~F.col("term").isin(*set(exclude)))
    head = dfreq.orderBy(F.desc("n_t"), F.asc("term")).limit(vocab_top)

    tf_col = "tf" if "tf" in pairs_src.columns else None

    if distinct_pairs and tf_col is None:
        # Int-indexed fast path.  With unique (term, doc_id) rows and no
        # tf weight, the per-doc cap order (tf desc, n_t desc, term asc)
        # collapses to (n_t desc, term asc) — exactly the head ranking —
        # so giving every head term its dense rank ``idx`` turns the cap
        # into "keep the ``per_doc_cap`` smallest idx" (a sorted-array
        # slice; the row_number window disappears) and each unordered
        # co-occurring pair into ONE packed long ``i·stride+j``.  The
        # 10⁷-scale pair stream then flows as flat longs through a
        # single-key hash aggregation instead of string-struct rows —
        # same pairs, same counts, far cheaper per row (guide §2.3
        # narrower types / §2.4 fewer shuffles).
        w_idx = Window.partitionBy("_hp").orderBy(
            F.desc("n_t"), F.asc("term")
        )
        head_idx = (
            head.coalesce(1)
            .withColumn("_hp", F.spark_partition_id())
            .withColumn("idx", F.row_number().over(w_idx))
            .drop("_hp")
        )
        stride = int(vocab_top) + 1
        sel = pairs_src.join(
            F.broadcast(head_idx.select("term", "idx")), "term"
        ).select("doc_id", "idx")
        ids = sel.groupBy("doc_id").agg(
            F.slice(
                F.sort_array(F.collect_list("idx")), 1, per_doc_cap
            ).alias("_ids")
        )
        # i<j combinations via TWO chained generators (posexplode, then
        # explode of the tail slice) rather than nested transform/flatten
        # lambdas: GenerateExec runs under whole-stage codegen while
        # higher-order-function lambdas are interpreted per element —
        # measured 2.9 → 2.4 s warm on the 20M-pair sf1.0 stream.
        lvl1 = ids.select("_ids", F.posexplode("_ids").alias("_i", "_x"))
        lvl2 = lvl1.select(
            "_x",
            F.explode(
                F.slice("_ids", F.col("_i") + F.lit(2), F.size("_ids"))
            ).alias("_y"),
        )
        counts = (
            lvl2.select(
                (F.col("_x").cast("long") * stride + F.col("_y")).alias("_k")
            )
            .groupBy("_k")
            .agg(F.count("*").alias("n_ab"))
            .filter(F.col("n_ab") >= min_pair)
            .select(
                (F.col("_k") / stride).cast("int").alias("_i"),
                F.pmod("_k", F.lit(stride)).cast("int").alias("_j"),
                "n_ab",
            )
        )
        both = counts.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("_i").alias("ia"), F.col("_j").alias("ib"),
                        F.col("n_ab").alias("n_ab"),
                    ),
                    F.struct(
                        F.col("_j").alias("ia"), F.col("_i").alias("ib"),
                        F.col("n_ab").alias("n_ab"),
                    ),
                )
            ).alias("_d")
        ).select("_d.ia", "_d.ib", "_d.n_ab")
        ha = F.broadcast(
            head_idx.select(
                F.col("idx").alias("ia"), F.col("term").alias("term"),
                F.col("n_t").alias("n_1"),
            )
        )
        hb = F.broadcast(
            head_idx.select(
                F.col("idx").alias("ib"), F.col("term").alias("syn"),
                F.col("n_t").alias("n_2"),
            )
        )
        return (
            both.join(ha, "ia")
            .join(hb, "ib")
            .select("term", "syn", "n_ab", "n_1", "n_2")
        )

    p = pairs_src.select(
        "term", "doc_id",
        *([F.col(tf_col).alias("_tf")] if tf_col
          else [F.lit(1).alias("_tf")]),
    ).join(F.broadcast(head), "term")
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.desc("_tf"), F.desc("n_t"), F.asc("term")
    )
    # dense_rank: repeated (term, doc) rows share a rank, so they take one
    # cap slot; with unique rows it equals row_number (term breaks ties)
    p = (
        p.withColumn("_r", F.dense_rank().over(w_doc))
        .filter(F.col("_r") <= per_doc_cap)
        .select("term", "doc_id", "n_t")
    )

    # Pair generation WITHOUT a self-join (guide §2.4/§3): collect the
    # capped per-doc head terms into one sorted array (co-located — the cap
    # window already clustered rows by doc_id, so this aggregation needs no
    # exchange) and enumerate the i<j combinations inside the array with
    # JVM higher-order functions.  The former a⨝b self-equi-join computed
    # the whole capped pipeline TWICE (once per side) and broadcast-built
    # the b side; this shape computes it once and shuffles nothing extra.
    # array_distinct drops repeated (term, doc) rows, so a duplicated
    # input row can neither pair a term with itself nor count a pair twice
    # in one doc; sort_array then makes the per-doc order deterministic
    # (term asc, terms now unique), so pair (t1, t2) always has t1 < t2,
    # exactly the old join's a.term < b.term predicate.
    capped = p.groupBy("doc_id").agg(
        F.sort_array(
            F.array_distinct(F.collect_list(F.struct("term", "n_t")))
        ).alias("_ts")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("_ts"),
            lambda x, i: F.transform(
                F.slice(F.col("_ts"), i + F.lit(2), F.size(F.col("_ts"))),
                lambda y: F.struct(
                    x["term"].alias("t1"), y["term"].alias("t2"),
                    x["n_t"].alias("na"), y["n_t"].alias("nb"),
                ),
            ),
        )
    )
    pairs = (
        capped.select(F.explode(pair_structs).alias("_p"))
        .groupBy(F.col("_p.t1").alias("t1"), F.col("_p.t2").alias("t2"))
        .agg(
            F.count("*").alias("n_ab"),
            F.first("_p.na").alias("n_1"),
            F.first("_p.nb").alias("n_2"),
        )
        .filter(F.col("n_ab") >= min_pair)
    )
    # Emit both directions of each pair by exploding a 2-element struct
    # array per row, NOT by unioning two projections of ``pairs``: a union
    # duplicates the whole upstream subtree in the plan (scan → explode →
    # df agg → cap window → self-join, all computed twice — 8 corpus scans
    # in the synonym_votes physical plan), while the explode doubles rows
    # in-place on the single computed subtree (guide §2.4).
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("t1").alias("term"), F.col("t2").alias("syn"),
                    F.col("n_ab").alias("n_ab"),
                    F.col("n_1").alias("n_1"), F.col("n_2").alias("n_2"),
                ),
                F.struct(
                    F.col("t2").alias("term"), F.col("t1").alias("syn"),
                    F.col("n_ab").alias("n_ab"),
                    F.col("n_2").alias("n_1"), F.col("n_1").alias("n_2"),
                ),
            )
        ).alias("_dir")
    ).select("_dir.term", "_dir.syn", "_dir.n_ab", "_dir.n_1", "_dir.n_2")


def synonym_table_to_dict(table) -> dict[str, list[str]]:
    """Collect a build_synonym_table result into the dict shape
    ``compile_query(expansion=...)`` takes.  O(vocab_top) rows."""
    return {r["term"]: list(r["synonyms"]) for r in table.collect()}


def build_vocab(docs, top_n: int = 200_000):
    """Surface-word frequency table from a (``text``) corpus — the
    dictionary for :class:`VocabSpellchecker`.

    Pure JVM column expressions (lower → split on non-letters → explode →
    count → top-N): one corpus scan at whole-stage-codegen speed, a
    single count aggregation (map-side combine), and a global top-N via
    TakeOrdered — no Python UDF, no unbounded collect.  Returns a
    DataFrame of (word, n).
    """
    from pyspark.sql import functions as F

    return (
        docs.select(
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-zäöüß]+")
            ).alias("word")
        )
        .filter(F.length("word") > 1)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(top_n)
    )


@dataclass(frozen=True)
class CompiledQuery:
    qnum: int
    text: str
    terms: tuple[str, ...]           # unique stems of the extended query (Q15)
    original_terms: tuple[str, ...]  # unique stems of the preprocessed query


def compile_query(
    qnum: int,
    text: str,
    expansion: dict[str, list[str]] | None = None,
) -> CompiledQuery:
    """Reference query_processing with frozen expansion (Q14/Q15)."""
    table = EXPANSION_FIXTURE if expansion is None else expansion
    pre = preprocess_query(text)
    words = pre.split()
    n_syn = max(0, 9 - len(words))
    extended = set(words) | set(TUEBINGEN_TERMS)
    if n_syn > 0:
        for w in words + TUEBINGEN_TERMS:
            if w in EXPANSION_SKIP or w in TUEBINGEN_TERMS:
                continue
            extended.update(table.get(w, [])[:n_syn])
    extended_query = preprocess_query(" ".join(sorted(extended)))
    terms = tuple(t for t, _ in tokenize(extended_query, only_unique_tokens=True))
    original = tuple(t for t, _ in tokenize(pre, only_unique_tokens=True))
    return CompiledQuery(qnum, text, terms, original)
