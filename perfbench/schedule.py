"""Seeded operation schedules: the warm passes' query order of the batch
workload and the query terms, appended chunks and delete ids of
``hybrid_serve``. Pure Python, no Spark: the same seed
gives the same schedule on any host.
"""

from __future__ import annotations

import random

#: Operations of one ``hybrid_serve`` pass, in order: the search reads
#: the stores right after an append and a delete, so it must serve the new
#: chunks and none of the deleted ones. The seed draws every operation's
#: input, not the order.
SERVE_CYCLE = ("append", "delete", "search")
#: Every operation kind of ``hybrid_serve``: the cold pass ends with a
#: compaction of both stores, so the warm passes read compacted stores
#: plus the writes since.
SERVE_KINDS = SERVE_CYCLE + ("compact",)
QUERY_BATCH = 8
QUERY_TERMS = 3
APPEND_ROWS = 200
DELETE_IDS = 50
#: First id of the appended chunks; base chunk ids are
#: ``doc_id * 1000 + chunk_id``, far below it.
FRESH_ID_BASE = 1_000_000_000


def serve_ops(pass_no: int) -> tuple[str, ...]:
    """The operations of ``hybrid_serve`` pass ``pass_no``."""
    return SERVE_KINDS if pass_no == 0 else SERVE_CYCLE


def pass_order(seed: int, pass_no: int, names) -> list[str]:
    """The query order of batch pass ``pass_no``: the given order for the
    cold pass, a seeded shuffle for every warm pass.

    The first heavy query of a cold pass pays first-use costs that the
    later ones share (about 3 s on a 4-core host); a fixed cold order
    keeps that cost on the same query in every run, so per-query cold
    times and ``compile_tax_s`` compare between runs.
    """
    order = list(names)
    if pass_no > 0:
        random.Random(f"{seed}/pass/{pass_no}").shuffle(order)
    return order


class ServeInputs:
    """Draws the inputs of each serve operation from one seeded stream.

    ``live`` maps every live chunk id to its text; the draws read it, and
    the caller updates it after each write.
    """

    def __init__(self, seed: int):
        self.rng = random.Random(f"{seed}/serve")
        self.next_id = FRESH_ID_BASE

    def queries(self, live: dict[int, str]) -> list[tuple[int, list[str]]]:
        """``QUERY_BATCH`` queries of ``QUERY_TERMS`` distinct terms, each
        drawn from one random live chunk."""
        ids = sorted(live)
        out = []
        for qid in range(QUERY_BATCH):
            tokens = sorted(set(live[self.rng.choice(ids)].split()))
            out.append((qid, self.rng.sample(tokens, min(QUERY_TERMS, len(tokens)))))
        return out

    def appended(self, live: dict[int, str]) -> list[tuple[int, str]]:
        """``APPEND_ROWS`` new chunks with fresh ids, each a token shuffle
        of a random live chunk."""
        ids = sorted(live)
        out = []
        for _ in range(APPEND_ROWS):
            tokens = live[self.rng.choice(ids)].split()
            self.rng.shuffle(tokens)
            out.append((self.next_id, " ".join(tokens)))
            self.next_id += 1
        return out

    def deleted(self, live: dict[int, str]) -> list[int]:
        """``DELETE_IDS`` distinct live ids."""
        return sorted(self.rng.sample(sorted(live), DELETE_IDS))
