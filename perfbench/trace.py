"""Timing spans recorded from outside the engine.

The traced run replaces the functions at each layer boundary with
wrappers that time the call; the engine's code is not edited. A wrapper
is installed under the name its *caller* looks up at call time:
``plans/transform.py`` imports ``register_input``,
``write_parquet_single_file`` and the rest by name, so those are
replaced in ``plans.transform``'s namespace, not in their home modules.

Every span carries the key of the request it belongs to, the request's
``new_data_path``. Client-thread spans learn it from the request they
send; server-thread spans learn it from the decoded request. So under
concurrency a server thread's spans join the client span that caused
them, and the nesting of one request's spans is read from their
intervals alone.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass

#: Span name -> the per-layer metric its self time counts towards.
#: ``plans.engine`` (the gRPC handler's ``Engine.execute_transform``)
#: maps to nothing: its self time is the residue between the layers.
LAYER_OF = {
    "streaming.tick": "streaming.tick_self_s",
    "transport.client_call": "transport.rpc_overhead_s",
    "transport.codec": "transport.codec_s",
    "plans.new_session": "plans.session_s",
    "plans.tune_session": "plans.session_s",
    "plans.run_transform_steps": "plans.analyze_s",
    "sources.register_input": "sources.register_s",
    "operators.normalize_raw_result": "operators.odf_plan_s",
    "operators.validate_raw_result": "operators.odf_plan_s",
    "operators.with_system_columns": "operators.odf_plan_s",
    "sources.write_parquet_single_file": "sources.sink_s",
    "plans.engine": None,
}
LAYER_METRICS = sorted({m for m in LAYER_OF.values() if m})


@dataclass(frozen=True)
class Span:
    key: str
    name: str
    start: float
    end: float


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    reach = float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= reach:
            continue
        total += hi - max(lo, reach)
        reach = hi
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span of ONE request: its duration minus the part
    of it that its child spans cover. A span's parent is the shortest
    other span whose interval contains it; of two spans with the same
    interval, the one recorded later (the caller) is the parent."""
    parent: list[int | None] = []
    for i, s in enumerate(spans):
        best = None
        for j, p in enumerate(spans):
            if j == i or not (p.start <= s.start and s.end <= p.end):
                continue
            if (p.start, p.end) == (s.start, s.end) and j < i:
                continue
            if best is None or p.end - p.start < spans[best].end - spans[best].start:
                best = j
        parent.append(best)
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for i, p in enumerate(parent):
        if p is not None:
            children[p].append((spans[i].start, spans[i].end))
    return [
        (s.end - s.start) - _covered(children[i]) for i, s in enumerate(spans)
    ]


def layer_times(spans: list[Span]) -> dict[str, float]:
    """Fold one request's spans into the per-layer self-time metrics."""
    out = dict.fromkeys(LAYER_METRICS, 0.0)
    for s, t in zip(spans, self_times(spans)):
        metric = LAYER_OF[s.name]
        if metric:
            out[metric] += t
    return out


class Tracer:
    """Installs timing wrappers and keeps the spans in memory.

    Only requests whose key is in :attr:`traced` are recorded; the
    wrappers pass every other call straight through, so one run can
    alternate traced and untraced requests and read the overhead."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.traced: set[str] = set()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def current_key(self) -> str | None:
        return getattr(self._local, "key", None)

    def set_key(self, key: str | None) -> None:
        self._local.key = key

    def add(self, name: str, key: str | None, start: float, end: float) -> None:
        if key in self.traced:
            with self._lock:
                self.spans.append(Span(key, name, start, end))

    def by_key(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = defaultdict(list)
        for s in self.spans:
            out[s.key].append(s)
        return out

    def wrap(
        self,
        owner: object,
        attr: str,
        name: str,
        key_before: Callable[[tuple], str] | None = None,
        key_after: Callable[[object], str] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a timing wrapper.

        ``key_before(args)`` / ``key_after(result)`` name the request
        from the call's arguments or result and make it the thread's
        current key; without them the span takes the current key."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if key_before is not None:
                self.set_key(key_before(args))
            t0 = time.perf_counter()
            result = orig(*args, **kwargs)
            t1 = time.perf_counter()
            if key_after is not None:
                self.set_key(key_after(result))
            self.add(name, self.current_key(), t0, t1)
            return result

        self.patch(owner, attr, wrapper)

    def patch(self, owner: object, attr: str, new: object) -> None:
        """Set ``owner.attr`` to ``new`` until :meth:`restore`."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
