"""The benchmark's workloads: which registered queries a pass runs,
which input each builds, and how each output is checked."""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import Callable

import datagen

# Clones of the sf0.1 documents/embeddings in the llm_corpus input.
# Sized so executor work (kernels, shuffles, vector math) outweighs
# the fixed per-query driver overhead that dominates at sf0.1.
CORPUS_COPIES = 2


@dataclass(frozen=True)
class Workload:
    name: str
    # query name -> tables it reads (the rows_per_s base)
    queries: dict[str, tuple[str, ...]]
    make_inputs: Callable[[str, int], dict[str, int]]


# The relational reads and the ETL writes and stream drains share one
# workload on the same sf0.1 input: a run pays a JVM launch, a cold
# warm-up pass and an output check whatever its pass runs, and two
# workloads fit the benchmark's time budget with three timed passes a
# run where three did not. Their per-layer metrics still split reads
# (io.*) from writes and drains (sources.*, streaming.*).
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational_etl_sf01",
            {
                "q1_pricing_summary": ("lineitem",),
                "join_multiway_revenue": ("lineitem", "orders", "customer", "nation", "region"),
                "agg_rollup": ("orders",),
                "window_ranking": ("orders",),
                "topk_per_group": ("orders",),
                "join_asof_purchase_click": ("events",),
                "stream_tumbling": ("events",),
                "stream_foreachbatch_parquet": ("events",),
                "stream_cdc_apply": ("events",),
                "sink_partitioned_pruned": ("orders",),
                "sink_compaction": ("events",),
            },
            datagen.write_tables,
        ),
        Workload(
            "llm_corpus",
            {
                "dedup_ngram_jaccard": ("documents",),
                "text_tfidf": ("documents",),
                "knn_bruteforce_cosine": ("embeddings",),
            },
            lambda d, seed: datagen.write_corpus(d, seed, copies=CORPUS_COPIES),
        ),
    )
}

# Streaming queries without an oracle, checked against the oracle of
# the batch query that must give the same rows.
BATCH_TWINS = {"stream_tumbling": "window_tumbling_batch"}


class _Frame:
    def __init__(self, df):
        self._df = df

    def df(self):
        return self._df


class Oracles:
    """The DuckDB oracle results of a workload's queries, computed over
    the input in a background thread so that they overlap the Spark
    side of the output check; ``result(name)`` waits for them."""

    def __init__(self, in_dir: str, temp_dir: str, specs, names):
        from glue_etl_pyspark_spark import parity

        self._con = parity.duckdb_connect(in_dir)
        self._con.execute(f"SET temp_directory='{temp_dir}'")
        self._sql = {n: specs[BATCH_TWINS.get(n, n)].oracle for n in names}
        self._done: dict[str, _Frame] = {}
        self._error: Exception | None = None
        self._thread = threading.Thread(target=self._run)
        self._thread.start()

    def _run(self) -> None:
        try:
            for name, sql in self._sql.items():
                self._done[name] = _Frame(self._con.execute(sql).df())
        except Exception as ex:  # re-raised by result() in the checking thread
            self._error = ex
        finally:
            self._con.close()

    def result(self, name: str) -> _Frame:
        self._thread.join()
        if self._error is not None:
            raise self._error
        return self._done[name]

    def close(self) -> None:
        self._thread.join()


def check_output(spark, specs, in_dir: str, name: str, oracles: Oracles) -> tuple[str, int]:
    """('', output rows) when the query's output on ``in_dir`` equals
    its DuckDB oracle's (a streaming query: its batch twin's oracle),
    else (why not, output rows). The comparison is
    ``parity.compare_pandas``: order-insensitive, floats to 6 dp,
    dtype-strict, and an empty result never matches."""
    from glue_etl_pyspark_spark import parity

    sdf = specs[name].fn(spark, in_dir)
    want = oracles.result(name)
    verdict = parity.compare_pandas(sdf, want)
    return ("" if verdict == "MATCH" else f"{name}: {verdict}"), len(want.df())
