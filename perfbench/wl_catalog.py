"""``catalog_mix`` workload: an analyst's session over the query catalog.

One closed-loop client runs the entries below in this fixed order, in
one session, after the light per-table warm-up that ``bench.py`` uses.
Each call is construct + ``count()``. The order is part of the workload:
``PlanMemo`` shares products between entries (``suffix_array_topk``
reuses what ``longest_repeated_substrings`` built).

Every entry's row count is checked against its DuckDB oracle, computed
once during set-up from the same generated parquet files.
"""

from __future__ import annotations

import os

import gen_catalog

# entry -> the library layer it exercises (named after its module).
ENTRIES = {
    "pricing_summary": "plans.queries",
    "monthly_type_rollup": "plans.queries",
    "aggregate_export": "plans.queries",
    "date_range_watermark": "plans.queries",
    "entsoe_fixup_chain": "plans.queries",
    "first_wins_dedup": "plans.queries",
    "validation_error_taxonomy": "plans.queries",
    "window_rank_family": "plans.queries",
    "cdc_version_diff": "plans.lakehouse_queries",
    "longest_repeated_substrings": "operators.suffix",
    "suffix_array_topk": "operators.suffix",
    "lpa_communities": "operators.graph",
    "bpe_train_rounds": "operators.bpe",
    "neardup_components": "operators.minhash",
    "ivf_topk_cosine": "operators.similarity",
    "user_event_profile": "operators.grouped",
    "stream_dedup_event_counts": "streaming",
}
GROUPS = sorted(set(ENTRIES.values()))
# bench.py's light per-table warm-up, less regional_revenue (~3 s cold).
WARMUP = ["pricing_summary", "top_orders", "json_props_rollup", "doc_token_counts", "ann_topk_cosine"]


class CatalogWorkload:
    def __init__(self, client, work: str, seed: int):
        import duckdb

        from power_generation_etl_spark.plans import ORACLES, QUERIES

        self.c = client
        self.queries = QUERIES
        self.data = os.path.join(work, "tables")
        self.rows = gen_catalog.generate(self.data, seed)
        con = duckdb.connect()
        try:
            for t in gen_catalog.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            self.expected = {
                name: len(con.execute(ORACLES[name]).fetchall()) for name in ENTRIES
            }
        finally:
            con.close()
        for name in WARMUP:
            QUERIES[name](client.spark, self.data).count()

    def sizes(self) -> dict:
        return {"entries": len(ENTRIES), **self.rows}

    def run(self) -> None:
        for name in ENTRIES:
            n = self.c.op(name, self._count, name)
            self.c.check(n == self.expected[name], f"{name}: {n} rows, oracle {self.expected[name]}")

    def _count(self, name: str) -> int:
        df = self.queries[name](self.c.spark, self.data)
        return df.count()
