"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``{dir}/{table}.parquet``, one
file each) with the schemas and value distributions of the engine's
fixture set (FIXTURES.md): a TPC-H-like star schema, an ``events``
stream table, a ``documents`` word-soup corpus and unit-norm
``embeddings``. The physical parquet types match the fixtures' too:
``events.ts`` is TIMESTAMP(NANOS), which the engine reads as a raw
long and converts (``io.load_table``, ``streaming.ops.events_stream``),
and the order and ship dates are TIMESTAMP(MILLIS). The same seed
gives byte-identical tables; another seed gives other values of the
same shape and size.

``write_tables`` builds the relational input at the fixtures' sf0.1
row counts. ``write_corpus`` builds the LLM corpus: a base
``documents``/``embeddings`` pair cloned ``copies`` times, each clone
with seeded per-word substitutions and vector jitter, plus small
versions of the other eight tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Rows per unit of scale factor (sf0.1 of the fixtures = these x 0.1).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("large", "small", "hot", "cold", "blue", "red", "old", "new",
            "shiny", "dull", "heavy", "light", "green")
PART_NOUN = ("ring", "bolt", "plate", "gear", "anvil", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIM = 64
N_LABELS = 10

SF = 0.1  # scale of the relational input and of the corpus's base

# Corpus clones: share of words substituted, per-component vector
# jitter (before renormalizing), and the scale of the other tables.
CLONE_RATE = 0.5
CLONE_JITTER = 0.05
CORPUS_OTHER_SF = 0.001

# Twin ids of the engine's near-dup corpora are doc_id + 10_000_000
# (queries/llm_dedup.py _TWIN_OFF): generated doc ids stay below it.
MAX_DOC_ID = 10_000_000

_DAY_MS = 86_400 * 10**3
_DAY_US = 86_400 * 10**6


def _ts_days(rng, n: int, start: str, end: str) -> pa.Array:
    """Midnight timestamps drawn uniformly from [start, end], stored
    as TIMESTAMP(MILLIS) like the fixtures' dates."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _DAY_MS, pa.timestamp("ms"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _rows(sf: float, table: str) -> int:
    return max(1, int(round(ROWS_PER_SF[table] * sf)))


def _relational(rng, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = _rows(sf, "customer"), _rows(sf, "supplier"), _rows(sf, "part")
    n_ord, n_li, n_ev = _rows(sf, "orders"), _rows(sf, "lineitem"), _rows(sf, "events")
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _ts_days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _ts_days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    # events: ts ascending in event_id over 30 days, microsecond grain,
    # stored as TIMESTAMP(NANOS) like the fixtures' events.ts
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n_ev))
    n_users = max(2, n_ev * 3 // 200)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.minimum(np.round(rng.exponential(50.0, n_ev), 2), 999.99)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    return t


def _documents(rng, n: int) -> list[str]:
    """Word-soup texts of 10-100 words; one in twenty re-emits an
    earlier text with a trailing " dup" word (planted near-dups)."""
    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(words[pos:pos + k]))
        pos += k
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def _embeddings(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit-norm float32 vectors around ten label centres."""
    centres = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    v = centres[labels] + rng.normal(0.0, 1.2, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels


def _doc_table(doc_ids: np.ndarray, texts: list[str], rng) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(doc_ids.astype(np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in doc_ids]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })


def _emb_table(vec_ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(vec_ids.astype(np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def substitute(rng, text: str, clone: int) -> str:
    """One clone's text: each word is replaced, with probability
    ``CLONE_RATE``, by a clone-tagged variant (``spark`` -> ``spark7q3``).
    Tagged words are new to the corpus, so most of a clone's 4-grams
    are new too and 4-gram document frequency stays near the base
    corpus's, rather than growing with the clone count."""
    words = text.split(" ")
    hit = rng.random(len(words)) < CLONE_RATE
    tags = rng.integers(0, 8, len(words))
    return " ".join(
        f"{w}{clone}q{t}" if h else w for w, h, t in zip(words, hit, tags)
    )


def _write(d: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(d, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(d, f"{name}.parquet"))


def write_tables(d: str, seed: int) -> dict[str, int]:
    """All ten tables at scale ``SF``. Returns rows per table."""
    rng = np.random.default_rng([seed, 1])
    tables = _relational(rng, SF)
    n_docs, n_vecs = _rows(SF, "documents"), _rows(SF, "embeddings")
    tables["documents"] = _doc_table(np.arange(n_docs), _documents(rng, n_docs), rng)
    vecs, labels = _embeddings(rng, n_vecs)
    tables["embeddings"] = _emb_table(np.arange(n_vecs), vecs, labels)
    _write(d, tables)
    return {k: v.num_rows for k, v in tables.items()}


def write_corpus(d: str, seed: int, copies: int, base_sf: float = SF) -> dict[str, int]:
    """The LLM corpus: base documents/embeddings at ``base_sf``, each
    cloned ``copies`` times in all (clone 0 is the base). Clone c has
    ids ``id + c * n_base``, per-word substitutions at ``CLONE_RATE``
    and per-component Gaussian jitter of ``CLONE_JITTER``
    (renormalized). The other eight tables are written at
    ``CORPUS_OTHER_SF``."""
    rng = np.random.default_rng([seed, 2])
    n_docs, n_vecs = _rows(base_sf, "documents"), _rows(base_sf, "embeddings")
    if copies * n_docs > MAX_DOC_ID:
        raise ValueError(f"{copies} x {n_docs} docs would reach the twin-id offset")
    tables = _relational(rng, CORPUS_OTHER_SF)
    base_texts = _documents(rng, n_docs)
    texts = list(base_texts)
    for c in range(1, copies):
        crng = np.random.default_rng([seed, 3, c])
        texts += [substitute(crng, t, c) for t in base_texts]
    tables["documents"] = _doc_table(np.arange(copies * n_docs), texts, rng)

    base, labels = _embeddings(rng, n_vecs)
    vecs = [base]
    for c in range(1, copies):
        crng = np.random.default_rng([seed, 4, c])
        v = base + crng.normal(0.0, CLONE_JITTER, base.shape)
        vecs.append((v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32))
    tables["embeddings"] = _emb_table(
        np.arange(copies * n_vecs), np.concatenate(vecs), np.tile(labels, copies)
    )
    _write(d, tables)
    return {k: v.num_rows for k, v in tables.items()}
