"""The ``batch`` workload: registry queries over the generated tables.

Each pass runs every query in :data:`QUERIES` once (the cold pass in
this order, each warm pass in a seeded order) and collects its result
to the driver. The collected rows are checked, untimed, against the row
count and order-insensitive digest of the query's DuckDB oracle, stored
in ``digests.json``. ``clearCache()`` runs between queries so each query
pays its own cost.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import schedule

#: The queries of one pass and the layer each one exercises.
QUERIES = {
    "q_concat_schema_coercion": "operators.concat",
    "q_map_col_region_names": "operators.general",
    "q_grouped_apply_spend_share": "operators.general",
    "q_asof_join": "operators.joins",
    "q_events_session_stats": "streaming.windows",
    "q_dedup_clusters": "operators.dedup",
    "q_self_dedup_corpus": "operators.corpus",
    "q_llm_data_pipeline": "operators.web+dedup+sampling",
}
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def canonical(v) -> str:
    """Dtype-faithful text of one cell: ``99111.0`` stays a float."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def digest(frame) -> dict:
    """Row count and order-insensitive SHA-256 of a pandas frame."""
    cols = sorted(frame.columns)
    rows = sorted(
        "\x1f".join(canonical(v) for v in row)
        for row in frame[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


class BatchWorkload:
    def __init__(self, bench):
        self.bench = bench
        with open(DIGESTS) as fh:
            self.expected = json.load(fh)

    def setup(self) -> None:
        self.bench.warm_python_workers()

    def run_pass(self, pass_no: int) -> None:
        from ons_utils_spark.plans.queries import QUERIES as REGISTRY

        bench = self.bench
        for name in schedule.pass_order(bench.seed, pass_no, QUERIES):
            query = REGISTRY[name]

            def run(query=query):
                with bench.span("plans.build"):
                    df = query.spark(bench.spark, self.bench.data)
                with bench.span("exec.collect", call=True):
                    return df.toPandas()

            bench.timed(pass_no, name, run, self._checker(name))
            bench.spark.catalog.clearCache()

    def _checker(self, name: str):
        def check(frame):
            got, want = digest(frame), self.expected[name]
            if got == want:
                return []
            return [f"rows {got['rows']} digest {got['sha256'][:12]} != "
                    f"oracle rows {want['rows']} digest {want['sha256'][:12]}"]

        return check

    def finish(self) -> dict:
        return {}
