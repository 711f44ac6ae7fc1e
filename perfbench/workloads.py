"""The benchmark's workloads: inputs, operations, output checks and spans.

A workload runs in passes. A pass is a list of operations; the harness
times each one, reduces what it returns to a summary (``summarize``,
untimed) and checks every summary after the timed passes. ``trace_ops`` lists the calls into the
package that a traced run wraps in spans (see spans.py), each with the
span name it is counted under.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass
from typing import Any, Callable

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Op:
    name: str
    call: Callable[[], Any]
    #: span the call is counted under in a traced run
    span: str = ""
    #: drop every cached frame before the call, so that no earlier
    #: operation's cache flatters this one
    fresh: bool = True


def output_digest(pdf) -> tuple[int, str]:
    """Order-insensitive (row count, sha256) of a pandas frame, with
    ``tools/check_oracle.normalize`` semantics (sorted columns, floats
    at 10 significant digits, sorted rows)."""
    from tools.check_oracle import normalize

    rows = normalize(pdf)
    digest = hashlib.sha256("\x1f".join(sorted(pdf.columns)).encode())
    for row in rows:
        digest.update(b"\n" + row.encode())
    return len(rows), digest.hexdigest()


class EtlWorkload:
    """``plans.pipeline.run_pipeline`` over a seeded synthetic TSV.

    One operation is one whole pipeline run with Parquet table sinks.
    """

    name = "etl_50k"
    rows = 50_000
    min_warm_passes = 1
    database = "perfbench"

    def __init__(self, work_dir: str) -> None:
        self.tsv = os.path.join(work_dir, "etl", "products.tsv")

    def setup(self, spark, seed: int) -> None:
        from tools.bench_pipeline import gen_tsv

        gen_tsv(self.tsv, self.rows, seed)

    def _bronze(self, spark):
        from data_integration_openfoodfacts_spark.sources.csv_source import (
            read_openfoodfacts_csv,
        )

        # the synthetic TSV has no embedded newlines, so the scan stays
        # splittable (tools/bench_pipeline.py reads it the same way)
        return read_openfoodfacts_csv(spark, self.tsv, multi_line=False)

    def _run_pipeline(self, spark):
        from data_integration_openfoodfacts_spark.plans.pipeline import run_pipeline

        res = run_pipeline(
            spark, self._bronze(spark), database=self.database,
            sk_strategy="row_number",
        )
        return res.metrics

    def pass_ops(self, spark, rng: random.Random) -> list[Op]:
        return [Op("run_pipeline", lambda: self._run_pipeline(spark),
                   "plans.pipeline.run_pipeline")]

    def summarize(self, spark, metrics: dict) -> dict:
        """What the check needs of one pipeline run: its DQ metrics and
        the row and distinct-key counts of the Gold tables it wrote."""
        from pyspark.sql import functions as F

        gold = f"{self.database}_gold"
        keys = {
            "dim_brand": "brand_sk", "dim_category": "category_sk",
            "dim_country": "country_sk", "dim_product": "product_sk",
        }
        tables = {}
        for table, sk in keys.items():
            row = spark.table(f"{gold}.{table}").agg(
                F.count(F.lit(1)).alias("n"), F.count_distinct(sk).alias("d")
            ).first()
            tables[table] = (row["n"], row["d"])
        return {
            "dq": {k: metrics[k] for k in ("rows_in", "rows_out", "rows_rejected")},
            "fact": spark.table(f"{gold}.fact_nutrition_snapshot").count(),
            "tables": tables,
        }

    def check(self, spark, outputs: list[tuple[str, Any]]) -> list[tuple[str, str]]:
        """Check each pipeline run's summary: DQ metrics against a DuckDB
        count of the TSV, fact, dim_product and rows_out alike, surrogate
        keys unique. Returns (operation, problem) pairs; empty when all
        is correct."""
        import duckdb

        # every generated code is a non-empty number, so Silver keeps one
        # row per distinct code
        n, distinct = duckdb.sql(
            f"SELECT count(*), count(DISTINCT code) FROM read_csv("
            f"'{self.tsv}', delim='\t', header=true, quote='', all_varchar=true)"
        ).fetchone()
        expected = {"rows_in": n, "rows_out": distinct, "rows_rejected": n - distinct}
        problems = []
        for name, run in outputs:
            if run["dq"] != expected:
                problems.append((name, f"dq metrics {run['dq']} != duckdb {expected}"))
            for table, (rows, keys) in run["tables"].items():
                if rows != keys:
                    problems.append((name, f"{table} surrogate keys not unique"))
            dim_product = run["tables"]["dim_product"][0]
            if not run["fact"] == dim_product == distinct:
                problems.append((name, f"fact {run['fact']}, dim_product "
                                       f"{dim_product}, rows_out {distinct} differ"))
        return problems

    def trace_ops(self, spark, rng: random.Random) -> list[Op]:
        """The pipeline's public functions in ``run_pipeline``'s order,
        one span each, then one real ``run_pipeline`` call.

        ``run_pipeline`` keeps Gold lazy, so its plans run inside the
        sinks. Here each Gold frame is cached and counted inside the
        ``build_gold`` span, so that span holds the Gold compute and the
        sinks span holds the writes; the real call shows the difference.
        The function spans return nothing to check and keep each
        other's caches; the real call starts without them, and its
        output is checked.
        """
        from data_integration_openfoodfacts_spark.plans.pipeline import (
            build_gold, build_silver,
        )
        from data_integration_openfoodfacts_spark.sources.sinks import write_table

        state: dict[str, Any] = {}

        def read():
            state["bronze"] = self._bronze(spark)
            state["bronze"].count()

        def silver():
            state["silver"] = build_silver(state["bronze"]).cache()
            state["silver"].count()

        def gold():
            state["gold"] = build_gold(state["silver"], sk_strategy="row_number")
            for df in state["gold"].values():
                df.cache().count()

        def sinks():
            for layer in ("silver", "gold"):
                spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.database}_{layer}")
            write_table(state["silver"], f"{self.database}_silver.products")
            for name, df in state["gold"].items():
                write_table(df, f"{self.database}_gold.{name}")

        return [
            Op("read", read, "sources.csv_source"),
            Op("build_silver", silver, "plans.pipeline.build_silver", fresh=False),
            Op("build_gold", gold, "plans.pipeline.build_gold", fresh=False),
            Op("sinks", sinks, "sources.sinks", fresh=False),
            *self.pass_ops(spark, rng),
        ]


class QueryWorkload:
    """Registry queries over the fixed tables in ``data/sf0.01`` (copied
    from the read-only sf0.01 test data).

    One operation is one query call whose result is collected to the
    driver (``toPandas``), so that every operation's output is checked
    without running the query a second time. ``queries`` make the timed
    passes; ``trace_queries`` (query -> span) are the traced pass.
    """

    name = ""
    min_warm_passes = 3
    data_dir = os.path.join(HERE, "data", "sf0.01")
    queries: tuple[str, ...] = ()
    trace_queries: dict[str, str] = {}

    def __init__(self, work_dir: str) -> None:
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f)

    def setup(self, spark, seed: int) -> None:
        """The tables are fixed (the test data is read-only); the seed
        only permutes the order of the operations in each pass."""

    def _run(self, spark, name: str):
        from data_integration_openfoodfacts_spark.plans.registry import QUERIES

        return QUERIES[name](spark, self.data_dir).toPandas()

    def _ops(self, spark, rng: random.Random, names) -> list[Op]:
        names = list(names)
        rng.shuffle(names)
        return [
            Op(n, lambda n=n: self._run(spark, n), self.trace_queries.get(n, ""))
            for n in names
        ]

    def pass_ops(self, spark, rng: random.Random) -> list[Op]:
        return self._ops(spark, rng, self.queries)

    def trace_ops(self, spark, rng: random.Random) -> list[Op]:
        return self._ops(spark, rng, self.trace_queries)

    def summarize(self, spark, pdf) -> tuple[int, str]:
        return output_digest(pdf)

    def check(self, spark, outputs: list[tuple[str, Any]]) -> list[tuple[str, str]]:
        """Compare the digest of each operation's output with the one
        recorded from the DuckDB oracle (record_expected.py)."""
        problems = []
        for name, (rows, digest) in outputs:
            want = self.expected[name]
            if (rows, digest) != (want["rows"], want["sha256"]):
                problems.append((name, f"{rows} rows, digest {digest[:12]} != "
                                       f"{want['rows']} rows, {want['sha256'][:12]}"))
        return problems


class LedgerWorkload(QueryWorkload):
    """Store lifecycles that write and then probe persisted ledgers. The
    timed passes run the counting store and the novelty ledger; the
    traced pass runs one query per store module, each counted under the
    module whose lifecycle it drives."""

    name = "ledger_sf0.01"
    queries = ("q178_counting_store_takedown", "q163_partitioned_novelty_ledger")
    trace_queries = {
        "q178_counting_store_takedown": "streaming.counting_store",
        "q201_component_ledger_lifecycle": "operators.component_ledger",
        "q163_partitioned_novelty_ledger": "operators.novelty_ledger",
        "q184_windowed_novelty_expiry": "operators.windowed_ledger",
    }


class OlapDedupLayers(QueryWorkload):
    """Traced only, not a benchmark workload: the LLM dedup operators,
    one span per query under its registry key's stable prefix, and one
    OLAP query per OLAP module, counted under the module."""

    name = "olap_dedup_sf0.01"
    trace_queries = {
        "q19_minhash_lsh_pairs": "q19",
        "q77_kmeans_semantic_dedup": "q77",
        "q78_bigram_prob_scores": "q78",
        "q150_canonical_dedup": "q150",
        "q171_binary_simhash": "q171",
        "q176_counting_bloom_takedown": "q176",
        "q180_containment_pairs": "q180",
        "q198_semdedup_fixed_cluster": "q198",
        "q89_gold_top_brands": "plans.gold_oracle_queries",
        "q1_brand_return_ratio": "plans.analytics",
        "q32_pricing_summary": "plans.tpch_queries",
    }


#: the benchmark's workloads, by name
WORKLOADS = {w.name: w for w in (EtlWorkload, LedgerWorkload)}
#: what a traced run traces, in order
TRACED = (EtlWorkload, LedgerWorkload, OlapDedupLayers)
