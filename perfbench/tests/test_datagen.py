"""Self-test of the benchmark's seeded input generator.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402

COPIES = 3
BASE_SF = 0.01  # 500 base documents, 200 base vectors


def _tables(d):
    return {t: pq.read_table(os.path.join(d, f"{t}.parquet")) for t in datagen.TABLES}


def _fourgram_df(texts) -> float:
    """Mean number of documents per distinct word 4-gram."""
    docs_per: dict[tuple, int] = {}
    for t in texts:
        w = t.split(" ")
        for g in {tuple(w[i:i + 4]) for i in range(len(w) - 3)}:
            docs_per[g] = docs_per.get(g, 0) + 1
    return sum(docs_per.values()) / len(docs_per)


@pytest.fixture(scope="module")
def corpus_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("corpus")
    dirs = {}
    for k, seed in (("a", 7), ("b", 7), ("c", 8)):
        dirs[k] = str(root / k)
        datagen.write_corpus(dirs[k], seed, copies=COPIES, base_sf=BASE_SF)
    return dirs


@pytest.fixture(scope="module")
def corpora(corpus_dirs):
    return {k: _tables(d) for k, d in corpus_dirs.items()}


def test_same_seed_same_tables(corpora):
    for t in datagen.TABLES:
        assert corpora["a"][t].equals(corpora["b"][t]), t


def test_other_seed_other_corpus(corpora):
    assert corpora["a"]["documents"]["text"] != corpora["c"]["documents"]["text"]
    assert corpora["a"]["embeddings"]["embedding"] != corpora["c"]["embeddings"]["embedding"]


def test_clone_sizes_and_ids(corpora):
    docs, vecs = corpora["a"]["documents"], corpora["a"]["embeddings"]
    assert docs.num_rows == COPIES * 500 and vecs.num_rows == COPIES * 200
    ids = docs["doc_id"].to_pylist()
    assert len(set(ids)) == len(ids) and max(ids) < datagen.MAX_DOC_ID
    assert len(set(vecs["vec_id"].to_pylist())) == vecs.num_rows


def test_fourgram_df_stays_near_base(corpora):
    texts = corpora["a"]["documents"]["text"].to_pylist()
    base = _fourgram_df(texts[:500])
    grown = _fourgram_df(texts)
    # clones must not multiply shingle frequency by the clone count
    assert grown < 1.5 * base, (base, grown)


def test_vectors_unit_norm_and_jittered(corpora):
    import numpy as np

    v = np.array(corpora["a"]["embeddings"]["embedding"].to_pylist())
    assert np.allclose(np.linalg.norm(v, axis=1), 1.0, atol=1e-5)
    base, clone = v[:200], v[200:400]
    cos = (base * clone).sum(axis=1)
    assert (cos > 0.8).all() and (cos < 1.0).all()


def test_benchmark_json_lists_the_emitted_metrics():
    import run

    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_timestamp_units_match_the_fixtures(corpus_dirs):
    """events.ts is TIMESTAMP(NANOS) and the dates TIMESTAMP(MILLIS) in
    the parquet files, as in the fixtures, so the engine's raw-nanos
    ts conversion is on the measured path."""
    want = {("events", "ts"): "nanoseconds",
            ("orders", "o_orderdate"): "milliseconds",
            ("lineitem", "l_shipdate"): "milliseconds"}
    for (table, col), unit in want.items():
        schema = pq.ParquetFile(os.path.join(corpus_dirs["a"], f"{table}.parquet")).schema
        logical = json.loads(schema.column(schema.names.index(col)).logical_type.to_json())
        assert (logical["Type"], logical["timeUnit"], logical["isAdjustedToUTC"]) == (
            "Timestamp", unit, False), (table, col, logical)
