"""Centralized ``Dataset.observe`` metric retrieval with a bounded wait.

The engine fuses count aggregates into a materializing job by
attaching them with ``Dataset.observe`` and reading the metrics after
the action (candidate counts on the hot-gram and similarity-candidate
checkpoints). That relies on a Spark-version fact, pinned here ONCE:
in Spark 3.5/4.x, ``localCheckpoint(eager=True)`` (and any
other full action) runs under ``withAction``, which reports
``CollectMetrics`` results to the attached ``Observation``.

``pyspark.sql.Observation.get`` has NO timeout — if a future Spark
release stopped reporting metrics for some action, every call site
would hang forever instead of erroring. This helper bounds the wait:
the metrics either arrive ~immediately (the action has already
completed by the time callers ask) or never will, so on timeout it
falls back to recomputing the SAME aggregates with one dedicated job —
the exact pre-fusion protocol, values identical, one extra pass.
"""

from __future__ import annotations

import threading
import warnings
from typing import Any

#: Seconds to wait for observed metrics AFTER the observed dataset's
#: action has completed. Generous — metric delivery is driver-local
#: bookkeeping, not a job — but bounded, so a Spark behavior change
#: degrades to one extra aggregate job instead of a hang.
OBSERVED_WAIT_S = 60.0


def get_observed(
    obs,
    fallback_df=None,
    fallback_aggs=None,
    timeout_s: float = OBSERVED_WAIT_S,
) -> dict[str, Any]:
    """Return ``obs.get`` with a bounded wait.

    Call ONLY after the observed dataset's first action has completed
    (the engine's sites all observe on an eager materialization they
    just ran). On timeout, recomputes ``fallback_df.agg(*fallback_aggs)``
    — the same aggregates the observation carries, as one dedicated job
    — and warns; if no fallback is provided, raises ``TimeoutError``.
    """
    result: dict[str, Any] = {}
    done = threading.Event()

    def _wait() -> None:
        try:
            result["row"] = obs.get
        except Exception as exc:  # noqa: BLE001 — surfaced below
            result["err"] = exc
        done.set()

    t = threading.Thread(target=_wait, daemon=True)
    t.start()
    if done.wait(timeout_s):
        if "row" in result:
            return result["row"]
        raise result["err"]
    if fallback_df is None or fallback_aggs is None:
        raise TimeoutError(
            f"observed metrics did not arrive within {timeout_s}s after "
            "the action — Spark stopped reporting CollectMetrics for "
            "this action type (see functions/observed.py's version pin)"
        )
    warnings.warn(
        "observed metrics did not arrive after the action — falling "
        "back to a dedicated aggregate job (a Spark behavior change; "
        "see functions/observed.py)",
        stacklevel=2,
    )
    row = fallback_df.agg(*fallback_aggs).collect()[0]
    return row.asDict()
