"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the ``--seed`` argument, so the same
seed gives byte-identical inputs. The program under test only ever sees the
files written here.

* Transcript corpora come from the engine's own ``TranscriptGenerator``.
* ``WideVocabGenerator`` swaps its entity names for a pool of seeded
  pseudo-word names, so the link stage has a vocabulary large enough to do
  real work without the stock pool's numeric-suffix collisions.
* ``write_tables`` writes the TPC-H-ish star schema plus the events,
  documents and embeddings tables that the headline queries read, with the
  column names, types, row counts and value distributions of the engine's
  sf0.1 test data (perfbench/README.md, "Headline tables").
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from importtoneo4j_spark.datagen import SUFFIXES, TranscriptGenerator
from importtoneo4j_spark.oracle import norm_key

_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aeiou"


def pseudo_words(n: int, seed: int) -> list[str]:
    """``n`` distinct pronounceable pseudo-words (CV syllables + a final
    consonant), none of them a legal-form suffix."""
    rng = np.random.default_rng([seed, 71])
    taken = {s.lower() for s in SUFFIXES}
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        w = "".join(
            _CONSONANTS[rng.integers(len(_CONSONANTS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(k)
        ) + _CONSONANTS[rng.integers(len(_CONSONANTS))]
        if w not in seen and w not in taken:
            seen.add(w)
            words.append(w)
    return words


class WideVocabGenerator(TranscriptGenerator):
    """Transcript generator whose entity names are two-word pseudo-word
    names (``"Bakesot Virun"``) instead of the stock adjective/noun pool.

    The stock pool is unambiguous only up to 64 x 32 = 2,048 names; past that
    it appends numeric suffixes that link to each other. Here every entity
    keeps the stock alias shapes (datagen's documented order: canonical,
    case variant, punctuation variant, suffix-extended), applied to its own
    pseudo-word name.
    """

    def __post_init__(self) -> None:
        super().__post_init__()
        # ~10 sqrt(n) words: each word recurs in ~n/(5 sqrt(n)) names, so
        # the LSH band join meets real shared-word candidate pairs
        words = pseudo_words(max(64, 10 * int(self.n_entities**0.5)), self.seed)
        rng = np.random.default_rng([self.seed, 72])
        pairs: set[frozenset[int]] = set()
        names: list[str] = []
        while len(names) < self.n_entities:
            a, b = (int(x) for x in rng.integers(len(words), size=2))
            key = frozenset((a, b))
            if a == b or key in pairs:
                continue
            pairs.add(key)
            names.append(f"{words[a]} {words[b]}".title())
        aliases = []
        for i, (name, stock) in enumerate(zip(names, self._aliases)):
            forms = [name]
            if len(stock) >= 2:
                forms.append(name.upper() if i % 2 == 0 else name.lower())
            if len(stock) >= 3:
                forms.append(name.replace(" ", "-") + ".")
            if len(stock) >= 4:
                forms.append(f"{name} {stock[3].rsplit(' ', 1)[1]}")
            aliases.append(forms)
        self._aliases = aliases
        check_unambiguous(self._aliases)


def check_unambiguous(aliases: list[list[str]]) -> None:
    """Raise unless no two entities' surface forms reach the link
    threshold's token Jaccard of 0.60.

    Every surface form normalizes to its entity's two base words, plus at
    most one legal-form suffix that is not a base word. Two different
    entities then share at most one base word and one suffix, a token
    Jaccard of at most 2/4 = 0.5, unless their base word sets are equal.
    So it is enough to check the form shapes and that base sets differ."""
    suffixes = {s.lower() for s in SUFFIXES}
    bases: set[frozenset[str]] = set()
    for forms in aliases:
        base = frozenset(norm_key(forms[0]).split())
        if len(base) != 2 or base & suffixes:
            raise ValueError(f"entity name {forms[0]!r} is not two pool words")
        if base in bases:
            raise ValueError(f"entity name {forms[0]!r} is not unique")
        bases.add(base)
        for form in forms:
            toks = set(norm_key(form).split())
            if not base <= toks or not (toks - base) <= suffixes or len(toks) > 3:
                raise ValueError(f"surface form {form!r} leaves its entity's shape")


def write_transcripts(gen: TranscriptGenerator, path: str, n_convs: int) -> None:
    """Write ``n_convs`` conversations as a parquet directory. Corpora fit in
    one generator chunk, so no worker processes are started."""
    gen.write_parquet(path, n_convs=n_convs, workers=1)


# ------------------------------------------------------------------ tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

# row counts at the engine's bench scale factor 0.1
TABLE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, n_days, size=size).astype(
        "timedelta64[D]"
    )


def _cents(rng, lo: float, hi: float, size: int) -> np.ndarray:
    """Money with two decimals: sums of price x (1 - discount) products are
    then exact 4-decimal quantities, so round(sum, 4) does not depend on
    the summation order (the property the headline oracles rely on)."""
    return rng.integers(int(lo * 100), int(hi * 100), size=size) / 100.0


def _documents(rng, n: int) -> pd.DataFrame:
    """Documents of 10-100 random words; one in twenty is replaced by a
    copy of another document plus the word ``dup``, so the dedup queries
    find real near-duplicate pairs."""
    texts = [
        " ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), size=int(k)))
        for k in rng.integers(10, 101, size=n)
    ]
    for i in sorted(rng.choice(n, size=n // 20, replace=False)):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), size=n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    """Random unit vectors with labels drawn independently of them (no
    clusters, like the engine's test data)."""
    vecs = rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    label = rng.integers(0, n_labels, size=n)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_tables(path: str, seed: int, scale: float = 1.0) -> None:
    """Write the headline queries' ten tables as ``<path>/<name>.parquet``.
    ``scale`` shrinks every growing table (the smoke test uses a small one)."""
    rng = np.random.default_rng([seed, 501])
    rows = {k: max(20, int(v * scale)) for k, v in TABLE_ROWS.items()}
    n_c, n_s, n_p, n_o, n_l = (
        rows[k] for k in ("customer", "supplier", "part", "orders", "lineitem")
    )
    orderdate = _days(rng, "1995-01-01", 2405, n_o)
    l_orderkey = rng.integers(0, n_o, size=n_l)
    frames = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_c, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
                "c_nationkey": rng.integers(0, 25, size=n_c).astype(np.int32),
                "c_acctbal": _cents(rng, -999.99, 9999.99, n_c),
                "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, size=n_c)],
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_s, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
                "s_nationkey": rng.integers(0, 25, size=n_s).astype(np.int32),
                "s_acctbal": _cents(rng, -999.99, 9999.99, n_s),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_p, dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, size=(n_p, 2))
                ],
                "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, size=n_p)],
                "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, size=n_p)],
                "p_size": rng.integers(1, 51, size=n_p).astype(np.int32),
                "p_retailprice": 900.0 + (np.arange(n_p) % 1000) / 10.0,
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_o, dtype=np.int64),
                "o_custkey": rng.integers(0, n_c, size=n_o),
                "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, size=n_o)],
                "o_totalprice": _cents(rng, 1000, 500000, n_o),
                "o_orderdate": orderdate,
                "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, size=n_o)],
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": l_orderkey,
                "l_partkey": rng.integers(0, n_p, size=n_l),
                "l_suppkey": rng.integers(0, n_s, size=n_l),
                "l_linenumber": rng.integers(1, 8, size=n_l).astype(np.int32),
                "l_quantity": rng.integers(1, 51, size=n_l).astype(np.float64),
                "l_extendedprice": _cents(rng, 900, 105000, n_l),
                "l_discount": rng.integers(0, 11, size=n_l) / 100.0,
                "l_tax": rng.integers(0, 9, size=n_l) / 100.0,
                "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, size=n_l)],
                "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, size=n_l)],
                # drawn independently of the line's order, as in the test data
                "l_shipdate": _days(rng, "1995-01-02", 2499, n_l),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(rows["events"], dtype=np.int64),
                "ts": np.datetime64("2024-01-01", "us")
                + rng.integers(0, 30 * 86400 * 10**6, size=rows["events"]).astype(
                    "timedelta64[us]"
                ),
                "user_id": rng.integers(0, 1500, size=rows["events"]),
                "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, size=rows["events"])],
                "value": np.round(rng.exponential(50.0, size=rows["events"]), 2),
                "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, size=rows["events"])],
            }
        ),
        "documents": _documents(rng, rows["documents"]),
    }
    os.makedirs(path, exist_ok=True)
    for name, pdf in frames.items():
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(path, f"{name}.parquet"),
        )
    pq.write_table(_embeddings(rng, rows["embeddings"]), os.path.join(path, "embeddings.parquet"))
