"""The benchmark's workloads: which registered queries run, in which
order and at which scale, and which shared intermediates
(``shared_intermediates()`` names) each pass builds first. Every query has
a DuckDB oracle in ``oracle_sql()``; none is ``golden_only()``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    memos: tuple[tuple[str, str], ...]  # (shared intermediate, scale)
    queries: tuple[tuple[str, str], ...]  # (registered query, scale)

    @property
    def scales(self) -> list[str]:
        return sorted({s for _, s in self.memos + self.queries})


WORKLOADS = {
    # Per-query fixed cost: reader setup, SQL view registration, small
    # relational / OLAP / sketch / window / text plans; includes the
    # paper's grouped averages over joins.
    "short_queries": Workload(
        "short_queries",
        (),
        tuple(
            (q, "sf0.01")
            for q in (
                "pricing_summary",
                "pricing_summary_sql",
                "group_avg_nation_region",
                "group_avg_brand_status",
                "late_shipment_priority_counts",
                "tumbling_window_stats",
                "cms_heavy_hitters",
                "word_frequencies",
            )
        ),
    ),
    # Operator-heavy queries: driver-side graph rounds with eager
    # checkpoint jobs over the shared co-occurrence graph, and the
    # paper's SON itemsets plus mapInPandas dedup / media kernels and an
    # embedding aggregate over split fact and corpus scans.
    "graph_corpus": Workload(
        "graph_corpus",
        (("edges", "sf0.001"), ("baskets", "sf0.01")),
        (
            ("label_propagation_customers", "sf0.001"),
            ("frequent_itemsets_son", "sf0.01"),
            ("minhash_lsh_near_duplicates", "sf0.01"),
            ("media_phash_near_duplicates", "sf0.01"),
            ("label_centroids", "sf0.01"),
        ),
    ),
}
