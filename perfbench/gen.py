"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size: the same
arguments write byte-identical files, a different seed writes different
files with the same planted fractions. The program under test only ever
receives the files written here.

* :func:`write_tables` — the star schema plus ``events``, ``documents``
  and ``embeddings`` in the fixture tables' column schemas (FIXTURES.md
  §4-5), one parquet file per table. Their row counts and value
  distributions are partly sourced and partly assumed; see
  :data:`TABLE_ROWS`.
* :func:`corpus_docs` — a ``documents`` corpus with planted off-language
  docs, Gopher-failing docs, PII, exact duplicates that differ only in
  PII, near duplicates and shared boilerplate spans.
* :func:`write_reviews_tsv` — a reviews TSV in the reference's 15-column
  shape (FIXTURES.md §1) with multi-space runs, empty bodies and a
  Zipfian vocabulary in ``review_body``.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Planted shares of the generated corpus. Each removes documents at one
# tier of corpus_pipeline_e2e; together they leave most documents alive.
CORPUS_FRACTIONS = {
    "off_language": 0.10,  # marker words of de/fr/es, no English markers
    "gopher_fail": 0.08,  # too short, symbol-heavy or mostly numeric
    "pii": 0.10,  # one email, phone number or IPv4 address
    "pii_twin": 0.05,  # copy of a PII doc with different PII values
    "near_dup": 0.08,  # copy of a clean doc with two words replaced
    "boilerplate": 0.10,  # clean doc with a shared 12-word span appended
}

STOPWORDS = ["the", "a", "and", "of", "to", "is", "in", "it", "on", "for"]
FOREIGN_MARKERS = {
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "les", "et", "des", "est", "une"],
    "es": ["el", "los", "que", "por", "una", "para"],
}
_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
    "qui", "ter", "bal", "dor", "fen", "gar", "hul", "jin", "mox", "wes",
]


def _vocabulary(n: int) -> list[str]:
    """``n`` distinct lowercase words of 2-4 syllables, the same for every
    seed (the seed varies which words are drawn, not the language)."""
    reserved = set(STOPWORDS).union(*FOREIGN_MARKERS.values())
    combos = [
        "".join(p)
        for k in (2, 3, 4)
        for p in itertools.product(_SYLLABLES, repeat=k)
    ]
    words = [w for w in dict.fromkeys(combos) if w not in reserved]
    if n > len(words):
        raise ValueError(f"vocabulary holds at most {len(words)} words")
    order = np.random.default_rng(0).permutation(len(words))[:n]
    return [words[i] for i in order]


def _zipf_sampler(rng: np.random.Generator, vocab: list[str], s: float = 1.1):
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** s
    cdf = np.cumsum(weights / weights.sum())
    arr = np.array(vocab, dtype=object)

    def draw(k: int) -> list[str]:
        return arr[np.searchsorted(cdf, rng.random(k), side="right")].tolist()

    return draw


# ---------------------------------------------------------------------------
# documents corpus
# ---------------------------------------------------------------------------


def _clean_words(rng: np.random.Generator, draw, n_words: int) -> list[str]:
    """English-like text: Zipfian content words with ~20% stopwords."""
    words = draw(n_words)
    n_stop = max(3, n_words // 5)
    pos = rng.choice(n_words, size=n_stop, replace=False)
    for i, j in enumerate(pos):
        words[j] = STOPWORDS[(i + int(j)) % len(STOPWORDS)]
    return words


def _pii_token(rng: np.random.Generator) -> str:
    kind = int(rng.integers(3))
    if kind == 0:
        return f"user{int(rng.integers(10**6))}@mail{int(rng.integers(100))}.example.com"
    if kind == 1:
        return f"+{int(rng.integers(1, 99))}-{int(rng.integers(10**6, 10**7))}"
    return ".".join(str(int(x)) for x in rng.integers(1, 255, size=4))


def corpus_docs(seed: int, n_docs: int) -> list[tuple[str, str]]:
    """``n_docs`` (text, lang) pairs in a seed-shuffled order, with the
    :data:`CORPUS_FRACTIONS` planted. The label ``lang`` is metadata; the
    pipeline's language tier classifies the text itself."""
    rng = np.random.default_rng(seed)
    draw = _zipf_sampler(rng, _vocabulary(4000))
    boiler = [
        " ".join(_clean_words(rng, draw, 12)) for _ in range(max(1, n_docs // 200))
    ]
    counts = {k: int(round(f * n_docs)) for k, f in CORPUS_FRACTIONS.items()}
    # boilerplate is appended to clean docs; every other kind adds docs
    n_clean = n_docs - sum(counts.values()) + counts["boilerplate"]
    if n_clean < counts["near_dup"] + counts["boilerplate"]:
        raise ValueError(f"n_docs={n_docs} too small for the planted fractions")

    def clean() -> str:
        return " ".join(_clean_words(rng, draw, int(rng.integers(60, 180))))

    docs: list[tuple[str, str]] = [(clean(), "en") for _ in range(n_clean)]
    for i in range(counts["near_dup"]):
        words = docs[i][0].split(" ")
        for j in rng.choice(len(words), size=2, replace=False):
            words[j] = draw(1)[0]
        docs.append((" ".join(words), "en"))
    for i in range(counts["boilerplate"]):
        base = docs[counts["near_dup"] + i][0]
        docs[counts["near_dup"] + i] = (
            f"{base} {boiler[int(rng.integers(len(boiler)))]}",
            "en",
        )
    pii_docs = []
    for _ in range(counts["pii"]):
        words = _clean_words(rng, draw, int(rng.integers(60, 180)))
        at = int(rng.integers(len(words)))
        pii_docs.append((words, at))
        docs.append((" ".join(words[:at] + [_pii_token(rng)] + words[at:]), "en"))
    for k in range(counts["pii_twin"]):
        words, at = pii_docs[k % len(pii_docs)]
        docs.append((" ".join(words[:at] + [_pii_token(rng)] + words[at:]), "en"))
    langs = list(FOREIGN_MARKERS)
    for i in range(counts["off_language"]):
        lang = langs[i % len(langs)]
        words = draw(int(rng.integers(60, 160)))
        for j in rng.choice(len(words), size=len(words) // 4, replace=False):
            words[j] = FOREIGN_MARKERS[lang][int(j) % 6]
        words[:3] = ["a", "on", "for"]  # keeps the Gopher stopword rule passing
        docs.append((" ".join(words), lang))
    for i in range(counts["gopher_fail"]):
        kind = i % 3
        if kind == 0:  # under the 50-word minimum
            words = _clean_words(rng, draw, int(rng.integers(10, 40)))
        elif kind == 1:  # symbol-to-word ratio above 0.1
            words = _clean_words(rng, draw, 80)
            for j in range(0, 80, 4):
                words[j] = "#"
        else:  # fewer than 80% alphabetic words
            words = _clean_words(rng, draw, 80)
            for j in range(0, 80, 3):
                words[j] = str(int(rng.integers(10**5)))
        docs.append((" ".join(words), "en"))
    order = rng.permutation(len(docs))
    return [docs[i] for i in order]


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """The ``documents`` table (doc_id, text, lang, source, n_chars)."""
    docs = corpus_docs(seed, n_docs)
    texts = [t for t, _ in docs]
    return pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([lang for _, lang in docs], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(len(docs))], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


# ---------------------------------------------------------------------------
# star schema + events + embeddings
# ---------------------------------------------------------------------------

# Where each figure comes from. The column schemas are FIXTURES.md §4-5.
# Sourced row counts: lineitem ~60,000 at sf0.01 (TESTDATA.md); region,
# nation, customer, supplier, part and orders at the TPC-H spec's
# fixed sizes and per-sf ratios (150,000, 10,000, 200,000 and 1,500,000
# per sf); documents 500, the sf0.1 corpus's 5,000 (SCALING.md) scaled
# to sf0.01. ASSUMED, documented nowhere in the repository: events
# 10,000 rows over 30 days from 2024-01-01, 150 users, values in
# [0.01, 490.02]; embeddings 500 unit-length 64-dim vectors in 10
# labelled clusters; every value distribution below (uniform draws,
# Gaussian clusters). The documents table is not the fixture's text:
# it is the planted corpus of :func:`corpus_docs`.
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "big", "green", "shiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "valve", "spring"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _days(rng: np.random.Generator, start: dt.date, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    off = rng.integers(0, span_days + 1, n).astype("timedelta64[D]")
    return pa.array(base + off, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array([values[i] for i in rng.integers(0, len(values), n)], pa.string())


def star_tables(seed: int) -> dict[str, pa.Table]:
    """The ten fixture tables at the :data:`TABLE_ROWS` counts, drawn
    from ``seed``."""
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n["part"]), i64),
            "p_name": _pick(rng, names, n["part"]),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])]
            ),
            "p_type": _pick(rng, _PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": pa.array(
                [900.0 + (i % 1000) / 10 for i in range(n["part"])], pa.float64()
            ),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2403, no),
            "o_orderpriority": _pick(rng, _PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), pa.float64()),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100, pa.float64()),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, nl),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + np.sort(rng.integers(0, 30 * 86400 * 10**6, ne)).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, ne), i64),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": _money(rng, 0.01, 490.02, ne),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.15, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.1, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    t["documents"] = documents_table(seed, n["documents"])
    return t


def write_tables(out_dir: str, seed: int) -> int:
    """Write :func:`star_tables` as ``<out_dir>/<name>.parquet``; returns
    the total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in star_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------------------
# reviews TSV (the reference's input shape)
# ---------------------------------------------------------------------------

REVIEW_COLUMNS = [
    "marketplace", "customer_id", "review_id", "product_id", "product_parent",
    "product_title", "product_category", "star_rating", "helpful_votes",
    "total_votes", "vine", "verified_purchase", "review_headline",
    "review_body", "review_date",
]
EMPTY_BODY_SHARE = 0.03
MULTI_SPACE_SHARE = 0.15


def review_rows(seed: int, n_rows: int, vocab_size: int = 50_000):
    """Yield ``n_rows`` reviews as 15-string lists (TSV-safe: no tabs,
    newlines or quotes). ``review_body`` is Zipfian over ``vocab_size``
    words; some bodies are empty and some carry runs of 2-4 spaces."""
    rng = np.random.default_rng(seed)
    draw = _zipf_sampler(rng, _vocabulary(vocab_size), s=1.05)
    lengths = rng.integers(5, 60, n_rows)
    kinds = rng.random(n_rows)
    stars = rng.integers(1, 6, n_rows).tolist()
    votes = np.sort(rng.integers(0, 50, (n_rows, 2)), axis=1).tolist()
    days = rng.integers(0, 3650, n_rows).tolist()
    words = draw(int(lengths.sum()))
    seps = [" " * g for g in range(5)]
    gaps = rng.integers(1, 5, len(words)).tolist()
    epoch = dt.date(2005, 1, 1)
    ends = np.cumsum(lengths).tolist()
    at = 0
    for i in range(n_rows):
        toks = words[at : ends[i]]
        if kinds[i] < EMPTY_BODY_SHARE:
            body = ""
        elif kinds[i] < EMPTY_BODY_SHARE + MULTI_SPACE_SHARE:
            body = "".join(t + seps[g] for t, g in zip(toks, gaps[at : ends[i]]))
            body = body.rstrip(" ")
        else:
            body = " ".join(toks)
        at = ends[i]
        yield [
            "US",
            str(10_000_000 + i * 7919 % 9_000_000),
            f"R{seed % 1000:03d}{i:09d}",
            f"B{i % 5000:07d}",
            str(100_000 + i % 20_000),
            " ".join(toks[:3]) or "untitled",
            "Gift Card",
            str(stars[i]),
            str(votes[i][0]),
            str(votes[i][1]),
            "N" if i % 17 else "Y",
            "Y" if i % 5 else "N",
            " ".join(toks[:4]) or "no headline",
            body,
            str(epoch + dt.timedelta(days=days[i])),
        ]


def write_reviews_tsv(path: str, seed: int, n_rows: int) -> int:
    """Write the reviews TSV with a header row; returns its bytes."""
    with open(path, "w", encoding="utf-8") as f:
        f.write("\t".join(REVIEW_COLUMNS) + "\n")
        f.writelines("\t".join(row) + "\n" for row in review_rows(seed, n_rows))
    return os.path.getsize(path)
