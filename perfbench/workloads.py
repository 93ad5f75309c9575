"""Workload definitions and the seeded request streams.

Pure Python, no Spark: the tests import this module to check that the
streams are deterministic. A *pass* is one fixed multiset of requests in a
seeded order; a run times whole passes, so every run of a workload times
the same multiset whatever its seed (only the order changes).
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

#: light registry queries, each once per pass. The first eleven are the
#: seismology-core families: nothing persisted at construction, warm build
#: + collect around 0.5 s or less on 4 cores at sf0.1. The rest add one
#: light query for each operator module those leave out, so every
#: ``operators.<m>`` layer is called on this workload. ``k_core`` is the
#: one exception to the membership rule (about 1 s warm, persists two
#: frames into the cache ring): the graph module has no lighter query,
#: and its eager peel loop and ring persists are what ``operators.graph``
#: and ``cache.live_rdds`` watch.
INTERACTIVE = (
    "fdsn_event_query",                         # FDSN kwargs / pushdown
    "glob_filter",                              # glob predicates
    "json_props",                               # JSON props
    "availability", "gaps",                     # availability / gaps
    "event_window_join",                        # interval join
    "radius_search",                            # radius geo
    "fetcher_windows",                          # Fetcher windows
    "stations_from_stream",                     # station
    "trim_traces",                              # waveforms
    "mseed_roundtrip",                          # miniSEED codec (pandas)
    "doc_fingerprint",                          # operators.dedup, .text
    "hll_users",                                # operators.sketches
    "rolling_metrics",                          # operators.sessions
    "knn_cosine",                               # operators.similarity
    "audio_frames",                             # operators.multimodal
    "calibration",                              # operators.evaluation
    "preferred_fallback",                       # operators.event_tree
    "merge_picks",                              # operators.surgery
    "orphan_arrivals",                          # operators.validate
    "k_core",                                   # operators.graph
)

#: scale factor every request, and the output check, reads
BENCH_SF = 0.1

#: A run times ceil(--seconds / SECONDS_PER_PASS) whole passes, so the pass
#: count (and with it the multiset) depends only on --seconds, never on how
#: fast the host is. On 4 cores a pass takes about 15 s (interactive) or
#: 9 s (bank); one pass a run is what the time budget in README.md allows.
SECONDS_PER_PASS = 15.0

NS = 1_000_000_000
HOUR = 3600 * NS
DAY = 24 * HOUR
#: first instant of the generated event stream (2024-01-01 UTC)
T0 = 1704067200 * NS
#: the generated events cover 30 days
SPAN_DAYS = 30

#: bank op stream: each block is one wide read, then reads inside it and
#: other index queries in seeded order, then one upsert (1 op in 12).
#: Seven narrow reads make cache hits about 64 % of reads, so the read
#: median falls inside the hit mode and p90 inside the miss mode instead
#: of on the boundary between them.
NARROW_PER_BLOCK = 7
UPSERT_ROWS = 300
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@dataclass(frozen=True)
class Op:
    """One request of the bank stream. ``kind`` is ``read``, ``upsert``,
    ``gaps`` or ``availability``; ``bank`` is ``event`` or ``wave``."""

    kind: str
    bank: str
    kwargs: tuple = ()

    @property
    def is_write(self) -> bool:
        return self.kind == "upsert"

    def args(self) -> dict:
        return dict(self.kwargs)


def interactive_pass(seed: int, pass_no: int) -> list[str]:
    """The interactive multiset in the order that ``seed`` gives for pass
    ``pass_no``."""
    names = list(INTERACTIVE)
    random.Random(f"interactive:{seed}:{pass_no}").shuffle(names)
    return names


def _window(rng: random.Random, lo: int, hi: int, width: int) -> tuple[int, int]:
    start = lo + rng.randrange(0, max(1, hi - lo - width), NS)
    return start, start + width


def _anywhere(rng: random.Random, days: int) -> tuple[tuple, tuple]:
    """starttime/endtime kwargs of a ``days``-long window in the stream."""
    a, b = _window(rng, T0, T0 + SPAN_DAYS * DAY, days * DAY)
    return ("starttime", a), ("endtime", b)


def _block(rng: random.Random, bank: str, others: list[Op]) -> list[Op]:
    """One wide (1-day) read, then NARROW_PER_BLOCK reads inside it and
    ``others`` in seeded order, then one upsert."""
    t1, t2 = _window(rng, T0, T0 + SPAN_DAYS * DAY, DAY)
    rest = [
        Op("read", bank, (("starttime", a), ("endtime", b)))
        for a, b in (
            _window(rng, t1, t2, rng.choice((1, 2, 3, 4)) * HOUR)
            for _ in range(NARROW_PER_BLOCK)
        )
    ] + others
    rng.shuffle(rest)
    return [
        Op("read", bank, (("starttime", t1), ("endtime", t2))),
        *rest,
        Op("upsert", bank, (("batch", rng.randrange(1 << 30)),)),
    ]


def _event_block(rng: random.Random) -> list[Op]:
    lat = rng.choice((-60.0, -30.0, 0.0, 30.0))
    return _block(rng, "event", [
        Op("read", "event", (
            *_anywhere(rng, 2), ("minlatitude", lat), ("maxlatitude", lat + 30.0),
            ("minmagnitude", rng.choice((0.5, 1.0, 1.5))),
        )),
        # a longitude box across the dateline
        Op("read", "event", (
            *_anywhere(rng, 3), ("minlongitude", 150.0), ("maxlongitude", -150.0),
        )),
        Op("read", "event", (
            *_anywhere(rng, 3), ("maxdepth", 200.0),
            ("minlongitude", -90.0), ("maxlongitude", 90.0),
        )),
    ])


def _wave_block(rng: random.Random) -> list[Op]:
    return _block(rng, "wave", [
        Op("read", "wave", (
            ("station", rng.choice(("c*", "p*", "*e*"))),
            ("channel", rng.choice(("u?", "u[1-4]", "u7"))),
            *_anywhere(rng, 1),
        )),
        Op("gaps", "wave", (("station", rng.choice(EVENT_TYPES)), *_anywhere(rng, 3))),
        Op("availability", "wave", (
            ("channel", f"u{rng.randrange(10)}"), *_anywhere(rng, 2),
        )),
    ])


def bank_pass(seed: int, pass_no: int) -> list[Op]:
    """One pass of the bank stream: an event block and a wave block
    (24 ops, 2 of them upserts) in the order ``seed`` gives."""
    rng = random.Random(f"bank:{seed}:{pass_no}")
    blocks = [_event_block(rng), _wave_block(rng)]
    rng.shuffle(blocks)
    return [op for block in blocks for op in block]


def bank_warmup() -> list[Op]:
    """The bank stream's warmup: from a pass no seed produces, at most two
    ops of each shape (kind, bank and argument names), so each bank sees
    a wide read, a narrow read that the cache can serve, each other query
    and an upsert once, in half the time of a pass."""
    seen: dict[tuple, int] = {}
    out = []
    for op in bank_pass(-1, 0):
        shape = (op.kind, op.bank, tuple(k for k, _ in op.kwargs))
        seen[shape] = seen.get(shape, 0) + 1
        if seen[shape] <= 2:
            out.append(op)
    return out


def passes_for(seconds: float) -> int:
    return max(1, math.ceil(seconds / SECONDS_PER_PASS))


WORKLOADS = ("interactive", "bank")
