"""The benchmark's workloads: which registry queries each runs, how each
result reaches the user (collected to the driver, or written as parquet
through ``sources.sinks.write_table``), which input files each reads, and
how its inputs are generated from the seed.

Why each workload is here:

- ``wordcount``: the paper's query (``wordcount_topk``, ``wordcount_full``)
  over a Zipf corpus, plus ``pipeline_chunk_documents`` written back as zstd
  parquet. Almost all of the time is execution: scan, regex tokenize, hash
  shuffle, reduce, and the sink writing the chunked corpus beside the reads
  of the same bytes. Zipf heavy hitters load some reducers far more than
  others. An optimisation of build or planning should not move it.
- ``query_mix``: seven of the twelve headline queries of ``bench.py`` over
  a small star schema, each result collected with ``toPandas()``, in a
  seed-shuffled order every pass. The queries are short, so fixed
  per-query costs dominate: Python build and analysis, Catalyst planning,
  job and stage launch, and broadcast builds. The seven cover those
  shapes: a grouped aggregate (q1), a 3-way and a 6-way broadcast join (q3,
  q5), two window plans (a ranked join, sessions over nanosecond
  timestamps), a Python-heavy build with UDFs (MinHash LSH) and a job
  launched inside ``build`` (k-NN). The other five repeat a shape
  (q6, q10, ``agg_count_distinct``) or the word count's tokenizer
  (``wordcount_topk``, ``text_term_stats``); with them a run cannot make
  enough steady passes within the time one run is allowed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import gen

QUERY_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_rank_topn_per_group",
    "events_sessionization",
    "dedup_minhash_lsh",
    "knn_bruteforce",
)

# Input files each query reads, for input throughput.
TABLES_READ = {
    "wordcount_topk": ("documents",),
    "wordcount_full": ("documents",),
    "pipeline_chunk_documents": ("documents",),
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q5_local_supplier_volume": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "window_rank_topn_per_group": ("orders", "customer"),
    "events_sessionization": ("events",),
    "dedup_minhash_lsh": ("documents",),
    "knn_bruteforce": ("embeddings",),
}

# Every query the benchmark can run, for the per-query latency metrics.
ALL_QUERIES = ("wordcount_topk", "wordcount_full", "pipeline_chunk_documents") + QUERY_MIX


@dataclass(frozen=True)
class Query:
    name: str
    sink: bool = False  # written through write_table, else collected

    @property
    def tables(self) -> tuple[str, ...]:
        return TABLES_READ[self.name]


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[Query, ...]
    shuffled: bool  # a seed-shuffled query order every pass
    # Unmeasured passes after the cold one. Passes keep getting faster for
    # a while as the JIT compiles; on 4 cores wordcount's are 3.7, 3.5, 3.0 s
    # and then ~2.6 s, query_mix's 5.5, 4.3, 3.8 s and then ~3.5 s.
    warmup_passes: int

    def make_inputs(self, out_dir: str, seed: int, tiny: bool) -> dict:
        """Generate this workload's inputs for ``seed`` into a new
        ``out_dir``; return what was generated."""
        if self.name == "wordcount":
            docs, words = (100, 50) if tiny else (5000, 400)
            return {"corpus": gen.write_corpus(out_dir, seed, docs, words)}
        return {"tables": gen.write_tables(out_dir, seed, 0.001 if tiny else 0.01)}

    def input_bytes(self, data_dir: str) -> int:
        """On-disk bytes of the input files one pass reads, counted once
        per query that reads them."""
        return sum(
            os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
            for q in self.queries
            for t in q.tables
        )


WORKLOADS = {
    "wordcount": Workload(
        "wordcount",
        (
            Query("wordcount_topk"),
            Query("wordcount_full"),
            Query("pipeline_chunk_documents", sink=True),
        ),
        shuffled=False,
        warmup_passes=2,
    ),
    "query_mix": Workload(
        "query_mix",
        tuple(Query(n) for n in QUERY_MIX),
        shuffled=True,
        warmup_passes=3,
    ),
}
