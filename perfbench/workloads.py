"""The benchmark's workloads: what each call runs, and how it is checked.

A workload stages its inputs from the seed, computes the reference results
its checks compare to, then exposes a list of calls.
A call has two timed parts, each run under its own Spark job group:
``compute`` (the work) and ``finish`` (materialising the result: a parquet
write or a collect). ``check`` runs after the call's span has closed and
returns None when the output is right, else a one-line reason.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import pyarrow.parquet as pq

import corpus
from checks import Oracle, numpy_pagerank, pagerank_mismatch, table_hash

CHAIN_K = 300
CHAIN_ITERATIONS = 5
CORPUS_SF = 0.01

# Registry queries of relational_mix, none of which runs a superstep loop:
# one per query module.
RELATIONAL_QUERIES = (
    "q1_pricing_summary",
    "dedup_minhash_signatures",
    "text_tfidf_top_terms",
    "ann_bruteforce_topk",
    "mm_image_phash",
)

# Query-module layer of a registry function, from its defining module.
_MODULE_LAYERS = (
    ("page_rank_mapreduce_java_spark.operators", "operators"),
    ("page_rank_mapreduce_java_spark.dedup", "dedup"),
    ("page_rank_mapreduce_java_spark.similarity", "similarity"),
    ("page_rank_mapreduce_java_spark.multimodal", "multimodal"),
    ("page_rank_mapreduce_java_spark.functions", "text"),
)
MODULE_LAYERS = tuple(sorted({layer for _, layer in _MODULE_LAYERS}))


def module_layer(fn: Callable) -> str:
    for prefix, layer in _MODULE_LAYERS:
        if fn.__module__.startswith(prefix):
            return layer
    raise ValueError(f"no layer for {fn.__module__}")


@dataclass
class Call:
    name: str
    layer: str  # "graph" or a query-module layer
    compute: Callable[[], Any]
    finish: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    finish_layer: str | None = None  # layer of the finish part when not ``layer``


def _collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


class Workload:
    name = ""
    # Timed passes per session, at the least. Pass times still fall over
    # the first few timed passes, so a floor keeps the median at the same
    # place on that slope when a slow host stretches every pass.
    min_passes = 4

    def __init__(self, work_dir: str, seed: int, threads: int):
        self.work_dir = work_dir
        self.seed = seed
        self.threads = threads
        self.expected: dict[str, str] = {}

    def import_program(self) -> None:
        """Import the program modules the calls use (timed as set-up)."""
        raise NotImplementedError

    def stage(self, attempt: int) -> None:
        """Write this seed's inputs."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed: compute the reference results the checks compare to."""
        raise NotImplementedError

    def calls(self, spark) -> list[Call]:
        raise NotImplementedError

    def _hash_check(self, call: str) -> Callable[[Any], str | None]:
        def check(result) -> str | None:
            got = table_hash(result[1], result[0])
            want = self.expected[call]
            return None if got == want else f"hash {got} != oracle {want}"
        return check


class PagerankChain(Workload):
    """PageRank as the reference runs it, called directly: CSV edge list
    in, CHAIN_ITERATIONS supersteps over the relabelled k-chains graph,
    parquet out."""

    name = "pagerank_chain"

    def import_program(self) -> None:
        from page_rank_mapreduce_java_spark.graph.pagerank import pagerank
        from page_rank_mapreduce_java_spark.sources import readers, writers

        self.pagerank, self.readers, self.writers = pagerank, readers, writers

    def stage(self, attempt: int) -> None:
        self.csv = os.path.join(self.work_dir, f"chain_{attempt}")
        corpus.write_chain_csv(self.csv, CHAIN_K, self.seed)

    def prepare(self) -> None:
        src, dst = corpus.chain_graph(CHAIN_K, self.seed)
        self.ranks = numpy_pagerank(src, dst, CHAIN_ITERATIONS)

    def calls(self, spark) -> list[Call]:
        out = os.path.join(self.work_dir, "ranks.parquet")

        def check_ranks(_):
            t = pq.read_table(out)
            return pagerank_mismatch(t["id"].to_numpy(), t["rank"].to_numpy(), self.ranks)

        return [
            Call("pagerank", "graph",
                 lambda: self.pagerank(self.readers.read_edge_csv(spark, self.csv),
                                       num_iterations=CHAIN_ITERATIONS).ranks,
                 lambda ranks: self.writers.write_parquet(ranks, out), check_ranks,
                 finish_layer="sources"),
        ]


class RelationalMix(Workload):
    """Registry queries that run no superstep loop: parquet scans,
    operators, partition sizing and the Arrow/pandas legs."""

    name = "relational_mix"

    def import_program(self) -> None:
        from page_rank_mapreduce_java_spark.cli import full_registry

        self.queries, self.oracles = full_registry()

    def stage(self, attempt: int) -> None:
        self.corpus = os.path.join(self.work_dir, f"corpus_{attempt}")
        corpus.write_corpus(self.corpus, CORPUS_SF, self.seed)

    def prepare(self) -> None:
        oracle = Oracle(self.corpus, self.threads)
        try:
            for q in RELATIONAL_QUERIES:
                self.expected[q] = oracle.expected_hash(self.oracles[q])
        finally:
            oracle.close()

    def calls(self, spark) -> list[Call]:
        d = self.corpus
        return [Call(q, module_layer(self.queries[q]),
                     lambda fn=self.queries[q]: fn(spark, d), _collect, self._hash_check(q))
                for q in RELATIONAL_QUERIES]


WORKLOADS = {w.name: w for w in (PagerankChain, RelationalMix)}

